"""Final KG materialization: aligned triples ∪ predicted links →
(url, subj, pred, obj, source) in entity-text space (FIXTURES.md §4),
the table the north_rule grades for P/R against the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.operators.fused import predicted_triples


def materialize_kg(
    aligned_nodes: DataFrame,
    triples_typed: DataFrame,
    predicted_links: DataFrame | None = None,
) -> DataFrame:
    # Re-pair each triple's two node rows with ONE conditional
    # aggregation on (url, t_idx) instead of the earlier
    # subject-side ⋈ object-side self-join (optimization round 6,
    # guide §2.4): one scan + one exchange of the aligned rows rather
    # than two scans + two join exchanges. align_entities emits
    # exactly one subject and one object row per (url, t_idx), so the
    # conditional max IS that row's entity_text; triples missing
    # either side (not producible by the aligned contract) are dropped
    # by the not-null filter exactly as the inner self-join dropped
    # them.
    per_triple = (
        aligned_nodes.groupBy("url", "t_idx")
        .agg(
            F.max(
                F.when(F.col("side") == "subject", F.col("entity_text"))
            ).alias("subj"),
            F.max(
                F.when(F.col("side") == "object", F.col("entity_text"))
            ).alias("obj"),
        )
        .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
    )
    rel = triples_typed.filter(F.col("valid")).select("url", "t_idx", F.col("relation").alias("pred"))

    extracted = (
        per_triple.join(rel, ["url", "t_idx"])
        .select("url", "subj", "pred", "obj", F.lit("extracted").alias("source"))
    )

    if predicted_links is None:
        return extracted

    return extracted.unionByName(predicted_triples(predicted_links))
