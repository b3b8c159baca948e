"""Fused fast-path operators.

The per-document semantics (response parsing, alignment, graph
analysis) live in ctinexus_spark/doc_kernel.py and are shared with the
modular operators (ie/et/ea/lp/materialize). Those remain the Spark-
plumbing reference: each stage is a separate table checked against a
DuckDB oracle. This module runs the same kernel calls in two Arrow
passes for throughput; a test asserts identical output vs the modular
path.

Shuffle budget of the fused pipeline:
  normalize+extract+tag : mapInPandas, ZERO shuffles
  distinct-text embed   : 1 shuffle (global distinct)
  embedding join        : broadcast (distinct mention texts ≪ nodes)
  align+graph+triples   : 1 shuffle (groupBy url)
  link inference        : skipped when the barrier observed no main
                          pair; otherwise only the pair urls' documents
                          are re-read and re-normalized (an IN-subquery
                          semi-join planned below the normalize UDF)
vs ~8 shuffles + 6 Python passes on the modular path.

At 10^12 docs the url-grouped pass stays balanced because groups are
tiny; hot-domain skew affects the *url distribution*, which AQE+salt
handles at the partitioner level (url is already high-cardinality).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.doc_kernel import align_doc, analyze_doc, parse_extraction, parse_tagging
from ctinexus_spark.partitioning import barrier

TYPED_SCHEMA = (
    "url string, t_idx int, subject_text string, subject_class string, "
    "relation string, object_text string, object_class string, valid boolean"
)


def extract_and_tag(docs: DataFrame, model, text_col: str = "text_norm") -> DataFrame:
    """IE + ET in one Arrow pass: extract → repair/validate → tag →
    repair/validate, with the model still seeing the reference's two
    prompts per document (one extract batch + one tag batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            extracted = [
                [{"subject": s, "relation": r, "object": o}
                 for s, r, o, ok in parse_extraction(resp) if ok]
                for resp in model.extract(texts)
            ]
            rows = [
                (url, i, *typed)
                for url, resp in zip(pdf["url"].tolist(), model.tag(texts, extracted))
                for i, typed in enumerate(parse_tagging(resp))
            ]
            yield pd.DataFrame(
                rows,
                columns=["url", "t_idx", "subject_text", "subject_class",
                         "relation", "object_text", "object_class", "valid"],
            )

    return docs.select("url", text_col).mapInPandas(run, schema=TYPED_SCHEMA)


FUSED_SCHEMA = (
    "url string, row_type string, t_idx int, relation string, "
    "s_mention_id int, s_text string, s_class string, s_merged array<string>, "
    "s_entity_id int, s_entity_text string, "
    "o_mention_id int, o_text string, o_class string, o_merged array<string>, "
    "o_entity_id int, o_entity_text string"
)


def align_graph_triples(typed: DataFrame, model, config: PipelineConfig) -> DataFrame:
    """Fused EA+LP-analysis+materialize: one url-partitioned Arrow
    pass emits aligned triples (row_type='triple') and main→topic link
    candidates (row_type='main_pair').

    Embeddings are fetched *inside* the pass — one model.embed call
    per Arrow batch covering the batch's distinct mention texts. This
    keeps the reference's batched-embedding semantics
    (graph_constructor.py:365-376, batched better: across documents)
    AND keeps the url-shuffle narrow: shipping per-node float vectors
    through the repartition measured ~3x the stage wall at sf0.1.
    """
    thr, mode = config.similarity_threshold, config.ea_cluster_mode

    t = typed.filter(F.col("valid"))

    def _one_doc(url: str, g: pd.DataFrame, emb_of: dict, rows: list) -> None:
        g = g.sort_values("t_idx", kind="stable")
        t_idx_arr = g["t_idx"].tolist()
        s_texts = g["subject_text"].tolist()
        o_texts = g["object_text"].tolist()
        s_classes = g["subject_class"].tolist()
        o_classes = g["object_class"].tolist()
        rels = g["relation"].tolist()

        # node arrays in traversal order (subject, object per triple)
        texts: list[str] = []
        classes: list[str] = []
        for i in range(len(g)):
            texts.append(s_texts[i]); classes.append(s_classes[i])
            texts.append(o_texts[i]); classes.append(o_classes[i])
        # triple i links nodes 2i and 2i+1, unless documents sharing the
        # url repeat its t_idx: then none of those triples is linked
        t_count = Counter(t_idx_arr)
        edges = [(2 * i, 2 * i + 1) for i, t in enumerate(t_idx_arr) if t_count[t] == 1]

        # mention minting: first-occurrence dense ids
        mid_of: dict[str, int] = {}
        mids: list[int] = []
        for txt in texts:
            if txt not in mid_of:
                mid_of[txt] = len(mid_of)
            mids.append(mid_of[txt])

        ent_ids, ent_texts, merged = align_doc(mids, texts, classes, emb_of, thr, mode)
        ents = analyze_doc(ent_ids, ent_texts, edges)
        topic = next((e for e in ents if e.is_topic), None)

        for i in range(len(g)):
            si, oi = 2 * i, 2 * i + 1
            rows.append(
                (url, "triple", int(t_idx_arr[i]), rels[i],
                 mids[si], texts[si], classes[si], merged[si], ent_ids[si], ent_texts[si],
                 mids[oi], texts[oi], classes[oi], merged[oi], ent_ids[oi], ent_texts[oi])
            )
        for e in ents:
            if e.is_main and not e.is_topic:
                rows.append(
                    (url, "main_pair", None, None,
                     None, None, None, None, e.entity_id, e.entity_text,
                     None, None, None, None, topic.entity_id, topic.entity_text)
                )

    cols = [
        "url", "row_type", "t_idx", "relation",
        "s_mention_id", "s_text", "s_class", "s_merged", "s_entity_id", "s_entity_text",
        "o_mention_id", "o_text", "o_class", "o_merged", "o_entity_id", "o_entity_text",
    ]

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        uniq = pd.unique(pd.concat([pdf["subject_text"], pdf["object_text"]], ignore_index=True))
        uniq = [u for u in uniq.tolist() if u is not None]
        emb_of = dict(zip(uniq, model.embed(uniq)))
        rows: list = []
        for url, g in pdf.groupby("url", sort=False):
            _one_doc(url, g, emb_of, rows)
        return pd.DataFrame(rows, columns=cols)

    # one Arrow exchange per batch of MANY documents — a
    # groupBy().applyInPandas() would pay the per-group pandas/Arrow
    # overhead 10^12 times (measured ~2ms/doc: 2000 core-years at
    # target scale). The repartition + sortWithinPartitions +
    # batch-boundary stitch lives in partitioning.grouped_map_stitched
    # (shared with the modular EA/LP operators).
    from ctinexus_spark.partitioning import grouped_map_stitched

    return grouped_map_stitched(t, "url", _process, FUSED_SCHEMA)


def extracted_triples(fused: DataFrame) -> DataFrame:
    """fused rows (row_type='triple') → (url, subj, pred, obj, source)."""
    return fused.filter(F.col("row_type") == "triple").select(
        "url",
        F.col("s_entity_text").alias("subj"),
        F.col("relation").alias("pred"),
        F.col("o_entity_text").alias("obj"),
        F.lit("extracted").alias("source"),
    )


def predicted_triples(links: DataFrame) -> DataFrame:
    """LINKS_SCHEMA rows (status='ok') → (url, subj, pred, obj, source)."""
    return links.filter(F.col("status") == "ok").select(
        "url",
        F.col("subject_text").alias("subj"),
        F.col("relation").alias("pred"),
        F.col("object_text").alias("obj"),
        F.lit("predicted").alias("source"),
    )


def link_main_pairs(fused: DataFrame, docs: DataFrame, model) -> DataFrame:
    """fused rows (row_type='main_pair') + doc text → LINKS_SCHEMA rows
    via the shared batched link-inference pass (operators/lp.py)."""
    from ctinexus_spark.operators.lp import infer_links

    pairs = fused.filter(F.col("row_type") == "main_pair").select(
        "url",
        F.col("s_entity_id").alias("main_id"), F.col("s_entity_text").alias("main_text"),
        F.col("o_entity_id").alias("topic_id"), F.col("o_entity_text").alias("topic_text"),
    )
    return infer_links(pairs, docs, model)


def fused_kg(docs: DataFrame, model, config: PipelineConfig) -> DataFrame:
    """documents(normalized) → final (url, subj, pred, obj, source)
    through the fused path."""
    # Eagerly materialize the one multi-consumer node: fused feeds the
    # triple and main_pair branches; a lazy cache would race inside the
    # single final job and compute the model-call pass twice. The
    # main_pair count is observed on the barrier's own job (no extra
    # pass), so a corpus without multi-component documents never
    # re-reads its documents for link prompts. (The checkpointed
    # production path gets the same barrier from the stage's
    # parquet/Iceberg commit.)
    typed = extract_and_tag(docs, model)
    pairs = Observation()
    fused = barrier(
        align_graph_triples(typed, model, config).observe(
            pairs, F.count(F.when(F.col("row_type") == "main_pair", 1)).alias("n")
        )
    )
    triples = extracted_triples(fused)
    if not pairs.get["n"]:
        return triples
    return triples.unionByName(predicted_triples(link_main_pairs(fused, docs, model)))
