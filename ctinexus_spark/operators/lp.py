"""LP stage: link prediction over disconnected subgraphs.

Reference semantics (graph_constructor.py:51-209,
llm_processor.py:900-1015):
- L2-L6 per-document components, degree, main and topic node — rules
  defined once in doc_kernel.analyze_doc and shared with the fused
  path;
- one LLM call per non-topic main node proposing the edge
  main ↔ topic; answers that name neither orientation exactly become
  the "hallucination" sentinel (L7-L8) — the answer parse is
  doc_kernel.parse_link.

Spark shape: graph analysis runs per document through
partitioning.grouped_map_stitched (many documents per Arrow batch);
link calls batch per Arrow batch in mapInPandas (infer_links, shared
with the fused path); the guard is plain column logic on the model
output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.doc_kernel import EntityStats, analyze_doc, parse_link

GRAPH_SCHEMA = (
    "url string, entity_id int, entity_text string, component_id int, "
    "component_size int, degree int, is_main boolean, is_topic boolean"
)

LINKS_SCHEMA = (
    "url string, subject_entity_id int, subject_text string, relation string, "
    "object_entity_id int, object_text string, status string"
)


def analyze_graph(aligned_nodes: DataFrame, pre_grouped: bool = False) -> DataFrame:
    """Per-document graph analysis → entity-level component/degree/
    main/topic table. Runs via the batched grouped-map (many docs per
    Arrow exchange) — a groupBy().applyInPandas here paid the ~2 ms
    per-group pandas tax once per document (≈10 s of the 12 s modular
    lp_graph time at sf0.1).

    pre_grouped=True skips the grouped-map's repartition+sort (guide
    §2.4): pass it when aligned_nodes is the DIRECT output of
    align_entities (whose own grouped-map guarantees every url's rows
    sit whole and contiguous in one partition) — the aligned node rows
    then never cross a second exchange. Leave False for hand-built
    inputs."""
    from ctinexus_spark.partitioning import grouped_map_stitched

    cols = aligned_nodes.select("url", "pos", "t_idx", "side", "entity_id", "entity_text")

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for url, g in pdf.groupby("url", sort=False):
            g = g.sort_values("pos", kind="stable")
            # a triple's edge joins the last subject and the last object
            # node carrying its t_idx (documents sharing a url repeat it)
            ends: dict[int, dict[str, int]] = {}
            for i, (t, side) in enumerate(zip(g["t_idx"].tolist(), g["side"].tolist())):
                ends.setdefault(t, {})[side] = i
            edges = [(e["subject"], e["object"]) for e in ends.values()
                     if "subject" in e and "object" in e]
            ents = analyze_doc(g["entity_id"].tolist(), g["entity_text"].tolist(), edges)
            rows.extend((url, *e) for e in ents)
        return pd.DataFrame(rows, columns=["url", *EntityStats._fields])

    return grouped_map_stitched(
        cols, "url", _process, GRAPH_SCHEMA, assume_grouped=pre_grouped
    )


def predict_links(
    graph: DataFrame,
    docs: DataFrame,
    model,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """main-nodes × topic-node per url → batched link inference with
    the hallucination guard.

    Shuffle shape (optimization round 6, guide §2.4): the topic row is
    attached to each main row with ONE window over url instead of the
    earlier mains ⋈ topics self-join, so the mains/topics exchange
    pair collapses into the single window exchange. Semantics are
    unchanged: a document has at most one is_topic row (the main of
    its largest component), every topic row is also a main row, and
    pairs = (main ∧ ¬topic) × that topic. infer_links reads the pairs
    twice (pair urls, then the pairs themselves), so an unpersisted
    `graph` lineage computes twice; the fused path hands it
    materialized pairs instead."""
    from pyspark.sql import Window

    w = Window.partitionBy("url")
    pairs = (
        graph.filter(F.col("is_main"))
        .withColumn(
            "topic_id", F.max(F.when(F.col("is_topic"), F.col("entity_id"))).over(w)
        )
        .withColumn(
            "topic_text", F.max(F.when(F.col("is_topic"), F.col("entity_text"))).over(w)
        )
        .filter(~F.col("is_topic"))
        .select(
            "url",
            F.col("entity_id").alias("main_id"),
            F.col("entity_text").alias("main_text"),
            "topic_id",
            "topic_text",
        )
    )
    return infer_links(pairs, docs, model)


_LINK_COLS = [
    "url", "subject_entity_id", "subject_text", "relation",
    "object_entity_id", "object_text", "status",
]


def _link_rows(pdf: pd.DataFrame, model) -> pd.DataFrame:
    """Batched link inference + hallucination guard over one Arrow
    batch of (url, main_id, main_text, topic_id, topic_text, text_norm)
    rows: ONE model.link_batch call per batch (mirrors extract/tag —
    with an HTTP-backed client this is batched-async vs serial
    round-trips)."""
    recs = list(pdf.itertuples(index=False))
    responses = model.link_batch(
        [((r.text_norm or ""), r.main_text, r.topic_text) for r in recs]
    )
    rows = []
    for r, resp in zip(recs, responses):
        rel, forward = parse_link(resp, r.main_text, r.topic_text)
        if forward is None:
            rows.append((r.url, None, "hallucination", rel,
                         None, "hallucination", "hallucination"))
        elif forward:
            rows.append((r.url, int(r.main_id), r.main_text, rel,
                         int(r.topic_id), r.topic_text, "ok"))
        else:
            rows.append((r.url, int(r.topic_id), r.topic_text, rel,
                         int(r.main_id), r.main_text, "ok"))
    return pd.DataFrame(rows, columns=_LINK_COLS)


def infer_links(pairs: DataFrame, docs: DataFrame, model) -> DataFrame:
    """(url, main_id, main_text, topic_id, topic_text) pairs + docs'
    (url, text_norm) → LINKS_SCHEMA rows. Shared by the modular path
    (predict_links) and the fused path (fused_kg / checkpointed
    pipeline).

    Only the documents whose url has a pair are fetched. The IN
    subquery matters: Catalyst rewrites it into a left-semi join
    planned below docs' normalize UDF and repartition, so the rest of
    the corpus is neither re-read nor re-normalized. A DataFrame
    join(..., "left_semi") stays above the UDF and normalizes every
    document. The left join keeps every pair, and fans a pair out once
    per document sharing its url."""
    texts = docs.filter(F.col("url").isin(pairs.select("url"))).select("url", "text_norm")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _link_rows(pdf, model)

    return pairs.join(texts, "url", "left").mapInPandas(run, schema=LINKS_SCHEMA)
