"""EA stage: entity alignment.

Reference semantics (re-expressed, not ported):
- A1 mention minting — first-occurrence dense ids per unique
  mention_text within a document (cti_processor.py:147-202).
- A2 embedding — one batch per document there; here one batch per
  Arrow batch of *globally distinct* mention texts (strictly better).
- A3-A10 merge and IOC unmerge — per-document rules defined once in
  doc_kernel.align_doc and shared with the fused path.

Spark shape: minting is pure DataFrame ops (one shuffle on url);
embedding is a pandas UDF over distinct texts; the merge runs per
document through partitioning.grouped_map_stitched (many documents per
Arrow batch) — at 10^12 docs the groups stay tiny (≤ dozens of
mentions), so this parallelizes across documents with a single
url-shuffle instead of an O(n²) global join. This modular path is the
per-stage reference table for the fused pass (test_fused_parity).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.doc_kernel import align_doc

NODES_SCHEMA = (
    "url string, t_idx int, side string, pos int, mention_id int, "
    "mention_text string, mention_class string"
)

ALIGNED_SCHEMA = NODES_SCHEMA + (
    ", entity_id int, entity_text string, mention_merged array<string>"
)


def mint_mentions(triples_typed: DataFrame) -> DataFrame:
    """Explode typed triples into per-node rows with dense doc-scoped
    mention ids (first-occurrence order). Pure DataFrame ops.

    Shuffle shape (optimization round 6, guide §2.4): ONE exchange.
    The triples are hash-repartitioned by url BEFORE the subject/object
    explode (narrow — GenerateExec preserves partitioning), and both
    windows' ClusteredDistribution requirements — (url, mention_text)
    and (url) — are satisfied by hashpartitioning(url) (subset rule),
    so they plan as local sorts with no further exchange. The earlier
    union-of-two-selects form paid one exchange per window (two full
    node-row shuffles) and scanned the typed input twice.

    The url partitioning + (url, first_pos) sort order established here
    also flow into align_entities: its grouped-map repartition/sort are
    provably redundant and elided by the planner, so the per-node
    embedding join output reaches the Arrow pass with no extra shuffle.

    POST-CONDITION (relied on downstream): every url's rows live in a
    single partition, contiguously.
    """
    t = triples_typed.filter(F.col("valid"))
    node = F.explode(
        F.array(
            F.struct(
                F.lit("subject").alias("side"),
                (F.col("t_idx") * 2).alias("pos"),
                F.col("subject_text").alias("mention_text"),
                F.col("subject_class").alias("mention_class"),
            ),
            F.struct(
                F.lit("object").alias("side"),
                (F.col("t_idx") * 2 + 1).alias("pos"),
                F.col("object_text").alias("mention_text"),
                F.col("object_class").alias("mention_class"),
            ),
        )
    )
    # explicit partition count (keyed_partitions): a bare
    # repartition("url") is an AQE-coalescible shuffle — at bench scale
    # it collapses to ~1 partition and SERIALIZES the two window sorts
    # and the whole align Arrow pass downstream (measured: align stage
    # 1.6s → 3.3s). Pinning ~2 tasks/core keeps the Python-bound pass
    # parallel; at 100 TB the same count is a lower bound the natural
    # split count exceeds anyway.
    from ctinexus_spark.partitioning import keyed_partitions

    n_part = keyed_partitions(triples_typed)
    nodes = (
        t.select(
            "url", "t_idx", "subject_text", "subject_class",
            "object_text", "object_class",
        )
        .repartition(n_part, "url")
        .select("url", "t_idx", node.alias("node"))
        .select(
            "url", "t_idx", "node.side", "node.pos",
            "node.mention_text", "node.mention_class",
        )
    )

    first_pos = Window.partitionBy("url", "mention_text")
    rank_w = Window.partitionBy("url").orderBy("first_pos")
    return (
        nodes.withColumn("first_pos", F.min("pos").over(first_pos))
        .withColumn("mention_id", (F.dense_rank().over(rank_w) - 1).cast("int"))
        .drop("first_pos")
        .select("url", "t_idx", "side", "pos", "mention_id", "mention_text", "mention_class")
    )


def embed_mentions(nodes: DataFrame, model) -> DataFrame:
    """(mention_text) → (mention_text, embedding array<float>) over
    globally distinct texts; one model call per Arrow batch."""

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        vecs = model.embed(texts.fillna("").tolist())
        return pd.Series([v.astype("float32").tolist() for v in vecs])

    return nodes.select("mention_text").distinct().withColumn(
        "embedding", _embed(F.col("mention_text"))
    )


def align_entities(
    nodes: DataFrame,
    embeddings: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """nodes + per-text embeddings → aligned per-node rows."""
    cfg = config or PipelineConfig()
    thr, mode = cfg.similarity_threshold, cfg.ea_cluster_mode

    # no explicit broadcast hint: distinct mention texts are usually a
    # small fraction of nodes, and AQE promotes the join to broadcast
    # at runtime when the built side is under the threshold — a static
    # hint would force a full-table broadcast at corpus scale.
    with_vecs = nodes.join(embeddings, "mention_text", "left")

    # batched grouped-map: many docs per Arrow exchange instead of the
    # ~2 ms-per-group applyInPandas tax (once per document). NOTE the
    # modular path still ships embedding vectors through the url
    # shuffle — it is the per-stage reference table; the production
    # fused path embeds inside the Arrow pass (operators/fused.py).
    def _align(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values("pos", kind="stable")
        texts = g["mention_text"].tolist()
        ent_ids, ent_texts, merged = align_doc(
            g["mention_id"].tolist(), texts, g["mention_class"].tolist(),
            dict(zip(texts, g["embedding"].tolist())), thr, mode,
        )
        return g.drop(columns=["embedding"]).assign(
            entity_id=ent_ids,
            entity_text=ent_texts,
            mention_merged=merged,
        )

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [_align(g) for _, g in pdf.groupby("url", sort=False)], ignore_index=True
        )

    from ctinexus_spark.partitioning import grouped_map_stitched

    return grouped_map_stitched(with_vecs, "url", _process, ALIGNED_SCHEMA)


def aligned_triples(aligned_nodes: DataFrame) -> DataFrame:
    """Re-assemble per-node rows into triples_aligned
    (url, t_idx, subject struct, relation from triples omitted here —
    callers join relation back from triples_typed)."""
    node_struct = F.struct(
        "mention_id", "mention_text", "mention_class", "mention_merged",
        "entity_id", "entity_text",
    )
    subj = aligned_nodes.filter(F.col("side") == "subject").select(
        "url", "t_idx", node_struct.alias("subject")
    )
    obj = aligned_nodes.filter(F.col("side") == "object").select(
        "url", "t_idx", node_struct.alias("object")
    )
    return subj.join(obj, ["url", "t_idx"])
