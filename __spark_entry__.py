"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-materialization query at sf0.001.
`queries()` / `oracle_sql()` expose every implemented operator from
SURVEY.md §2 with a DuckDB-checkable ANSI-SQL twin (see
ctinexus_spark/entry_queries.py for the pairing rationale).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ctinexus_spark import dataset_queries, entry_queries  # noqa: E402

# The driver's CORRECTNESS gate samples the FIRST `WINDOW` entries in
# dict order, so ordering is load-bearing. Two invariants, enforced by
# tests/test_rotation.py:
#   1. union coverage — every registry query appears in some round's
#      window (r01-r03 ran the natural merge order; later rounds are
#      the recorded rotations below), so every oracle row has at least
#      one driver-green round;
#   2. change coverage — every query whose backing implementation
#      changed this round (CHANGED_THIS_ROUND, updated alongside the
#      code) sits inside the CURRENT window, so no behavior change
#      ships driver-unchecked on the strength of a stale green row.
WINDOW = 50

# Queries whose semantics or backing operators changed in the current
# round. Must be a subset of the current window (tested).
_CHANGED_R05 = [
    "dedup_incremental", "simhash", "simhash_candidates",
    "dedup_clusters_cc", "dedup_clusters_stars", "dedup_keeplist",
    "semantic_dedup", "kg_global_entities", "mmr_topk",
    "jaccard_pairs", "kg_entity_cooc",
]

CHANGED_THIS_ROUND = [
    # round 6 (optimization round): results are bit-identical by
    # design, but the BACKING IMPLEMENTATIONS changed, so every
    # consumer rotates into the window for a fresh driver-grade check.
    # mint_mentions / align / analyze_graph / predict_links /
    # materialize_kg (modular KG chain reshuffle), since replaced by
    # projections of the fused align pass (et_typed: tag_triples →
    # extract_and_tag):
    "et_typed",
    "ea_mentions",
    "ea_entities",
    "ea_entities_merged",
    "ea_entities_cc",
    "ea_ioc_unmerge",
    "lp_graph",
    "lp_split_graph",
    "lp_links_flaky",
    "kg_triples",
    "kg_fused",
    "kg_entity_degree",
    "kg_entity_cooc",
    "kg_global_entities",
    # connected_components check-time barriering (all CC consumers):
    "dedup_clusters_cc",
    "dedup_keeplist",
    "dedup_incremental",
    "semantic_dedup",
    # operator-internal rewrites (same integers, new dataflow):
    "jaccard_pairs",
    "shingle_overlap",
]

# Per-round rotation fronts (the driver window = first WINDOW names of
# rotation + natural-order fill). r01-r03 used the natural order — an
# empty rotation. Keep every past round's list: the union-coverage
# test replays them. Queries deleted since (the part_* graph-analytics,
# mm_* multimodal, sketch, PQ, BM25 and event-analytics rows, the
# quantile/drift/burst/decay/CUSUM stats monitors, the TPC-H,
# e-commerce and event-table queries, and the text-analysis queries:
# token stats, quality, language features, fingerprints, Gopher rules,
# PII scrub, LM/DSIR scoring, langid, column profile and the
# vocabulary/BPE/PMI tables) are dropped from the lists, so a recorded
# window now fills its freed slots in natural order.
ROTATION_HISTORY: dict[str, list[str]] = {
    "r01": [],
    "r02": [],
    "r03": [],
    "r04": [
        "dup_grams", "semantic_dedup", "cdc_chunks", "dedup_incremental",
        "pack_plan", "simhash", "simhash_candidates", "ivf_assign",
        "ivf_topk", "dedup_clusters_cc", "dedup_keeplist", "quality_gate",
        "text_dedupe", "stratified_sample", "mixture_plan", "decontaminate",
        "line_dedup", "domain_cap",
    ],
    # round 5: the changed set first, then the rows whose only greens
    # date to r01-r03 (oldest coverage), then the r04 KG block.
    "r05": _CHANGED_R05 + [
        # url_ops leads the fill: its only green is this round's window
        # (union coverage breaks if it slips past WINDOW as the changed
        # set grows)
        "url_ops",
        "doc_sample", "doc_text_norm", "ie_triples", "ie_counts",
        "et_typed", "ea_mentions", "ea_entities", "lp_graph",
        "kg_triples", "doc_chunks",
        "dedup_exact", "minhash", "lsh_bands", "lsh_candidates",
        "shingle_overlap", "emb_cosine_pairs", "ann_topk",
        "lsh_buckets", "lsh_topk", "knn_vote",
        # ea_entities_merged / ea_entities_cc / ie_demo_topk /
        # ea_ioc_unmerge / lp_links_flaky / kg_fused / lp_split_graph
        # rotated out to make room for the sketch / retrieval /
        # quantile / LPA / topic queries — all seven were green in the
        # r04 window and their backing code is unchanged this round
        # (union coverage keeps them via r04).
    ],
    # round 6 (optimization): the changed set first, then the
    # verification-refresh fill (round-5 VERDICT #1) — the queries
    # whose only greens date to r01-r03, then three of the stalest r04
    # rows the verdict named.
    "r06": CHANGED_THIS_ROUND + [
        "doc_text_norm", "ie_triples", "ie_counts",
        "doc_chunks", "dedup_exact", "minhash",
        "lsh_bands", "lsh_candidates", "emb_cosine_pairs", "ann_topk",
        "lsh_buckets", "lsh_topk", "knn_vote",
        "ivf_topk",
    ],
}

_ROTATE_FIRST = ROTATION_HISTORY[max(ROTATION_HISTORY)]


def _rotated(merged: dict) -> dict:
    out = {k: merged[k] for k in _ROTATE_FIRST if k in merged}
    out.update((k, v) for k, v in merged.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full KG pipeline (IE→ET→EA→LP→materialize) over
    sf0.001 documents; driver checks rows>0 and stable schema."""
    return entry_queries.q_kg_fused(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotated({**entry_queries.QUERIES, **dataset_queries.QUERIES})


def oracle_sql() -> dict[str, str]:
    merged = {**entry_queries.ORACLES, **dataset_queries.ORACLES}
    out = {k: merged[k] for k in queries() if k in merged}
    out.update((k, v) for k, v in merged.items() if k not in out)
    return out
