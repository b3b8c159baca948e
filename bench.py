"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "queries_warm": {...}, "sf": ..., "docs_per_sec": ..., "skew": {...},
   "scaling": {...}?}

Noise protocol (round-2 verdict #4): the host grants 2-6x different
CPU cycles between runs, and cold numbers are dominated by Python-
worker spawn + first-job overhead. So every headline query reports
BOTH its cold time (first run, `queries`) and a warm median-of-3
(`queries_warm`) from in-process repeats — round-over-round
comparisons should read the warm medians.

Protocol change vs r1/r2: spark.catalog.clearCache() runs before
EVERY measurement, so each query is an independent full
recomputation. Earlier rounds let queries silently reuse
InMemoryRelations persisted by previously-run queries (Spark cache
lookup is by logical-plan equality), which made downstream queries
(lp_graph) look cheaper than they are standalone.

Skew evidence (north_rule: "skew from hot domains is handled"):
two deterministic 5,000-doc corpora with IDENTICAL texts — one with
30% of docs on a single hot domain, one uniform — run through the
fused KG pipeline. The fused plan's only data shuffle keys on url
(unique per doc), so hash partitioning spreads a hot domain across
all tasks and the ratio stays ~1; AQE skew-join splitting
(session.py) covers the join side. Reported as skew.ratio.

Set SPARK_GRAFT_SCALING=1 to also run the full pipeline at two
parallelism levels (local[8] vs local[32]) for the north_rule's
two-cluster-size scaling-efficiency evidence (recorded in
BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ctinexus_spark import dataset_queries, entry_queries  # noqa: E402
from ctinexus_spark.session import build_session  # noqa: E402

WARM_REPEATS = 3


def _headline_queries():
    """name → callable(spark, sf_dir) returning a DataFrame. The one
    list of bench leaves: bench_extra.py reads it too."""
    eq, dq = entry_queries, dataset_queries
    return {
        # the KG build (q_kg_triples builds the same KG from the same
        # fused pass, so it is an oracle query, not a second leaf)
        "kg_pipeline": eq.q_kg_fused,
        "ie_triples": eq.q_ie_triples,
        "lp_graph": eq.q_lp_graph,
        # corpus prep, scale-path variants only
        "dedup_minhash_lsh": dq.q_lsh_candidates,
        "dedup_simhash_cand": dq.q_simhash_candidates,
        "dedup_clusters_cc": dq.q_dedup_clusters_cc,
        "dedup_shingle_verify": dq.q_shingle_overlap,
        "dedup_exact_jaccard": dq.q_jaccard_pairs,
        "emb_neardup_lsh": dq.q_emb_cosine_pairs,
        "ann_lsh_topk": dq.q_lsh_topk,
        # the two cross-document flagships: incremental crawl admission
        # and global entity resolution
        "dedup_incremental": dq.q_dedup_incremental,
        "kg_global_entities": eq.q_kg_global_entities,
    }


def _release_checkpoints(spark) -> None:
    """clearCache() drops persist()ed relations but NOT localCheckpoint
    blocks — and (round-5 measurement) those are pinned by the JVM for
    the session's lifetime: Python GC + System.gc + explicit py4j
    detach all leave them in storage, so repeated barriered queries
    grow executor storage monotonically until shuffles spill
    (dedup_clusters_cc warm median 31 s vs cold 4.7 s in the r5
    pre-fix run). Between bench measurements no prior DataFrame is
    ever re-executed, so the JVM-side sweep is safe here."""
    import gc

    from ctinexus_spark.partitioning import release_checkpoint_blocks

    gc.collect()
    release_checkpoint_blocks(spark)
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _time_once(spark, fn, sf_dir: str) -> tuple[float, int]:
    spark.catalog.clearCache()
    _release_checkpoints(spark)
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()  # force full execution
    return time.perf_counter() - t0, n


def _run_all(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """cold (first run) and warm median-of-WARM_REPEATS per query."""
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, fn in _headline_queries().items():
        sec, n = _time_once(spark, fn, sf_dir)
        cold[name] = round(sec, 3)
        repeats = [_time_once(spark, fn, sf_dir)[0] for _ in range(WARM_REPEATS)]
        warm[name] = round(statistics.median(repeats), 3)
        print(
            f"# {name}: cold {cold[name]:.2f}s warm {warm[name]:.2f}s ({n} rows)",
            file=sys.stderr,
        )
    return cold, warm


def _doc_count(spark, sf_dir: str) -> int:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def _skew_evidence(spark, n_docs: int = 5000) -> dict:
    """Fused KG pipeline on a hot-domain corpus (30% of docs on one
    domain) vs the uniform control with identical texts. Warm
    median-of-3 each; ratio ≈ 1 is the evidence that the url-keyed
    shuffle + AQE absorb domain skew."""
    from ctinexus_spark.config import PipelineConfig
    from ctinexus_spark.datagen import synthesize_documents
    from ctinexus_spark.model import StubModel
    from ctinexus_spark.operators.fused import fused_kg
    from ctinexus_spark.operators.normalize import normalize_documents

    cfg = PipelineConfig()  # empty lexicon → CTI IOC-extraction mode
    model = StubModel(cfg)
    docs = {}
    for label, hot in (("skewed", 0.30), ("uniform", 0.0)):
        raw = synthesize_documents(spark, n_docs=n_docs, hot_frac=hot)
        # one write+read so both corpora start from a parquet scan like
        # the sf benches (not an in-memory LocalTableScan)
        path = f"/tmp/bench_skew_{label}"
        raw.write.mode("overwrite").parquet(path)
        docs[label] = normalize_documents(spark.read.parquet(path), lang_filter=None)
    # INTERLEAVED measurement: the host's cycle grant drifts minute to
    # minute, so back-to-back blocks would attribute the drift to the
    # corpus; alternating runs cancels it out of the ratio
    times: dict[str, list[float]] = {"skewed": [], "uniform": []}
    for rep in range(1 + WARM_REPEATS):  # rep 0 = warm-up, discarded
        for label in ("skewed", "uniform"):
            spark.catalog.clearCache()
            _release_checkpoints(spark)
            t0 = time.perf_counter()
            fused_kg(docs[label], model, cfg).count()
            if rep:
                times[label].append(time.perf_counter() - t0)
    out = {f"kg_{label}_sec": round(statistics.median(ts), 3) for label, ts in times.items()}
    out["ratio"] = round(out["kg_skewed_sec"] / out["kg_uniform_sec"], 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = build_session(app_name="ctinexus-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    n_docs = _doc_count(spark, sf_dir)

    t0 = time.perf_counter()
    cold, warm = _run_all(spark, sf_dir)
    total = round(sum(cold.values()), 3)
    total_warm = round(sum(warm.values()), 3)

    # pipeline throughput: full-KG query wall time over the doc count
    pipe_sec = cold.get("kg_pipeline", total)
    docs_per_sec = round(n_docs / pipe_sec, 2) if pipe_sec else None
    warm_sec = warm.get("kg_pipeline", total_warm)
    docs_per_sec_warm = round(n_docs / warm_sec, 2) if warm_sec else None

    skew = _skew_evidence(spark)
    print(f"# skew: {skew}", file=sys.stderr)

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": cold,
        "queries_warm": warm,
        "total_warm": total_warm,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": docs_per_sec,
        "kg_warm_sec": warm_sec,
        "docs_per_sec_warm": docs_per_sec_warm,
        "skew": skew,
        "cpus": cpus,
        "wall_sec": round(time.perf_counter() - t0, 3),
    }
    spark.stop()

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        scaling = {}
        for c in (8, 32):
            s = build_session(app_name=f"ctinexus-scale-{c}", master=f"local[{c}]",
                              shuffle_partitions=max(c, 8))
            s.sparkContext.setLogLevel("ERROR")
            t = time.perf_counter()
            entry_queries.q_kg_triples(s, sf_dir).count()
            wall = time.perf_counter() - t
            scaling[f"local[{c}]"] = {
                "sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 2),
            }
            s.stop()
        t8 = scaling["local[8]"]["sec"]
        t32 = scaling["local[32]"]["sec"]
        # efficiency of 4x cores: (T_N / T_4N) / 4
        out["scaling"] = {**scaling, "efficiency_8_to_32": round((t8 / t32) / 4, 3)}

    print(json.dumps(out))


if __name__ == "__main__":
    main()
