"""The KG dataflow: IE → ET → EA → LP in two Arrow passes.

The per-document semantics (response parsing, alignment, graph
analysis) live in ctinexus_spark/doc_kernel.py; this module only moves
columns in and out of it. Every stage table of pipeline.run_pipeline
(mentions, aligned nodes, entity graph, main pairs, KG) is a
select/filter of the one align_graph_triples output, so each semantic
has one implementation.

Shuffle budget (one Python task per core slot in each pass, so no
pass runs a second task wave; see partitioning.py):
  normalize+extract+tag : ZERO shuffles after the input's round-robin
                          spread; extract_and_tag is a scalar pandas
                          UDF chained onto the normalize UDF in one
                          ArrowEvalPython, exploded by the JVM
  align+graph+triples   : 1 shuffle (repartition by url, pinned to the
                          core-slot count so AQE cannot coalesce it to
                          one task); embeddings are fetched inside the
                          pass, one model call per Arrow batch of
                          distinct mention texts
  link inference        : skipped when the barrier observed no main
                          pair; otherwise only the pair urls' documents
                          are re-read and re-normalized (an IN-subquery
                          semi-join planned below the normalize UDF)

At 10^12 docs the url-grouped pass stays balanced because groups are
tiny; hot-domain skew affects the *url distribution*, which AQE+salt
handles at the partitioner level (url is already high-cardinality).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.doc_kernel import align_doc, analyze_doc, parse_extraction, parse_tagging
from ctinexus_spark.operators.ie import per_document_rows
from ctinexus_spark.partitioning import barrier, grouped_map_stitched

TYPED_SCHEMA = (
    "url string, t_idx int, subject_text string, subject_class string, "
    "relation string, object_text string, object_class string, valid boolean"
)


def extract_and_tag(docs: DataFrame, model, text_col: str = "text_norm") -> DataFrame:
    """IE + ET in one Arrow pass: extract → repair/validate → tag →
    repair/validate, with the model still seeing the reference's two
    prompts per document (one extract batch + one tag batch). A scalar
    pandas UDF over `text_col` (ie.per_document_rows), so over
    normalize_documents output both UDFs run in one Python worker."""

    def extract_tag(texts: list[str]) -> list[list[tuple]]:
        extracted = [
            [{"subject": s, "relation": r, "object": o}
             for s, r, o, ok in parse_extraction(resp) if ok]
            for resp in model.extract(texts)
        ]
        return [
            [(i, *typed) for i, typed in enumerate(parse_tagging(resp))]
            for resp in model.tag(texts, extracted)
        ]

    return per_document_rows(docs, text_col, extract_tag, TYPED_SCHEMA)


FUSED_SCHEMA = (
    "url string, row_type string, t_idx int, relation string, "
    "s_mention_id int, s_text string, s_class string, s_merged array<string>, "
    "s_entity_id int, s_entity_text string, "
    "o_mention_id int, o_text string, o_class string, o_merged array<string>, "
    "o_entity_id int, o_entity_text string, "
    "component_id int, component_size int, degree int, is_main boolean, is_topic boolean"
)
_FUSED_COLS = [c.split()[0] for c in FUSED_SCHEMA.split(", ")]

# total order of a url group's triples: documents sharing a url form one
# graph, and their node order must not depend on row arrival order
_TRIPLE_ORDER = ["url", "t_idx", "subject_text", "subject_class",
                 "relation", "object_text", "object_class"]


def align_graph_triples(typed: DataFrame, model, config: PipelineConfig) -> DataFrame:
    """Fused EA + LP graph analysis: one url-partitioned Arrow pass
    emits, per url, its aligned triples (row_type='triple'), one row
    per aligned entity with its component, degree, main and topic flags
    (row_type='entity', in s_entity_id/s_entity_text) and the main →
    topic link candidates (row_type='main_pair').

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
        t_idx_arr = g["t_idx"].tolist()
        rels = g["relation"].tolist()
        # node arrays in traversal order (subject, object per triple)
        texts = [x for pair in zip(g["subject_text"], g["object_text"]) for x in pair]
        classes = [x for pair in zip(g["subject_class"], g["object_class"]) for x in pair]

        # mention minting: first-occurrence dense ids
        mid_of: dict[str, int] = {}
        mids = [mid_of.setdefault(txt, len(mid_of)) for txt in texts]

        ent_ids, ent_texts, merged = align_doc(mids, texts, classes, emb_of, thr, mode)
        ents = analyze_doc(ent_ids, ent_texts)
        topic = next((e for e in ents if e.is_topic), None)

        # each row type leaves the other types' columns null
        for i in range(len(t_idx_arr)):
            si, oi = 2 * i, 2 * i + 1
            rows.append(
                (url, "triple", int(t_idx_arr[i]), rels[i],
                 mids[si], texts[si], classes[si], merged[si], ent_ids[si], ent_texts[si],
                 mids[oi], texts[oi], classes[oi], merged[oi], ent_ids[oi], ent_texts[oi],
                 *(None,) * 5)
            )
        for e in ents:
            rows.append(
                (url, "entity", *(None,) * 6, e.entity_id, e.entity_text, *(None,) * 6,
                 e.component_id, e.component_size, e.degree, e.is_main, e.is_topic)
            )
            if e.is_main and not e.is_topic:
                rows.append(
                    (url, "main_pair", *(None,) * 6, e.entity_id, e.entity_text,
                     *(None,) * 4, topic.entity_id, topic.entity_text, *(None,) * 5)
                )

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        uniq = pd.unique(pd.concat([pdf["subject_text"], pdf["object_text"]], ignore_index=True))
        uniq = [u for u in uniq.tolist() if u is not None]
        emb_of = dict(zip(uniq, model.embed(uniq)))
        rows: list = []
        pdf = pdf.sort_values(_TRIPLE_ORDER, kind="stable")
        for url, g in pdf.groupby("url", sort=False):
            _one_doc(url, g, emb_of, rows)
        return pd.DataFrame(rows, columns=_FUSED_COLS)

    # one Arrow exchange per batch of MANY documents — a
    # groupBy().applyInPandas() would pay the per-group pandas/Arrow
    # overhead 10^12 times (measured ~2ms/doc: 2000 core-years at
    # target scale). The repartition + sortWithinPartitions +
    # batch-boundary stitch lives in partitioning.grouped_map_stitched.
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


def aligned_nodes(fused: DataFrame) -> DataFrame:
    """fused rows (row_type='triple') → one row per node: (url, t_idx,
    side, mention_id, mention_text, mention_class, entity_id,
    entity_text, mention_merged)."""
    def node(side: str, p: str):
        return F.struct(
            F.lit(side).alias("side"),
            F.col(f"{p}_mention_id").alias("mention_id"),
            F.col(f"{p}_text").alias("mention_text"),
            F.col(f"{p}_class").alias("mention_class"),
            F.col(f"{p}_entity_id").alias("entity_id"),
            F.col(f"{p}_entity_text").alias("entity_text"),
            F.col(f"{p}_merged").alias("mention_merged"),
        )

    return (
        fused.filter(F.col("row_type") == "triple")
        .select("url", "t_idx", F.explode(F.array(node("subject", "s"), node("object", "o"))).alias("n"))
        .select("url", "t_idx", "n.*")
    )


def entity_graph(fused: DataFrame) -> DataFrame:
    """fused rows (row_type='entity') → (url, entity_id, entity_text,
    component_id, component_size, degree, is_main, is_topic)."""
    return fused.filter(F.col("row_type") == "entity").select(
        "url",
        F.col("s_entity_id").alias("entity_id"),
        F.col("s_entity_text").alias("entity_text"),
        "component_id", "component_size", "degree", "is_main", "is_topic",
    )


def barriered_rows(typed: DataFrame, model, config: PipelineConfig) -> tuple[DataFrame, int]:
    """align_graph_triples behind one eager barrier, with its main_pair
    count.

    The fused rows are the one multi-consumer node: they feed the
    triple, entity and main_pair branches, and a lazy cache would race
    inside a single job and compute the model-call pass twice. The
    main_pair count is observed on the barrier's own job (no extra
    pass), so a corpus without multi-component documents never re-reads
    its documents for link prompts. (The checkpointed production path
    gets the same barrier from the stage's parquet/Iceberg commit.)"""
    pairs = Observation()
    fused = barrier(
        align_graph_triples(typed, model, config).observe(
            pairs, F.count(F.when(F.col("row_type") == "main_pair", 1)).alias("n")
        )
    )
    return fused, pairs.get["n"]


def kg_rows(fused: DataFrame, links: DataFrame | None) -> DataFrame:
    """Extracted triples, plus the ok links when there are any →
    (url, subj, pred, obj, source)."""
    triples = extracted_triples(fused)
    if links is None:
        return triples
    return triples.unionByName(predicted_triples(links))


def fused_kg(docs: DataFrame, model, config: PipelineConfig) -> DataFrame:
    """documents(normalized) → final (url, subj, pred, obj, source)."""
    fused, n_pairs = barriered_rows(extract_and_tag(docs, model), model, config)
    return kg_rows(fused, link_main_pairs(fused, docs, model) if n_pairs else None)
