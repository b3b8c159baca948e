"""Optimization-round instrumentation (guide §1): noop-sink timings and
.explain("formatted") captures for the expensive bench queries
(bench.py's headline list). Not part of the query contract. For the KG
chain split by layer, run `python3 perfbench/run.py --trace 1`.

Usage:
  python3 bench_extra.py q <name> [...]  # noop-time named bench queries
  python3 bench_extra.py plans <name>..  # dump plans to plans/r06/
  python3 bench_extra.py ab <nameA> <nameB> [reps]  # interleaved A/B

All timings use the noop sink (full materialization of every column,
no count() column pruning) and clearCache + checkpoint-block release
between measurements, mirroring bench.py's independence protocol.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import _headline_queries  # noqa: E402
from ctinexus_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    s = build_session(app_name="ctinexus-bench-extra", master=f"local[{CPUS}]")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _reset(spark):
    import gc

    from ctinexus_spark.partitioning import release_checkpoint_blocks

    spark.catalog.clearCache()
    gc.collect()
    release_checkpoint_blocks(spark)


def _noop_time(spark, label, df_fn, reps=3):
    times = []
    for _ in range(reps):
        _reset(spark)
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    med = statistics.median(times)
    print(f"{label:40s} med {med:7.2f}s  {[round(t, 2) for t in times]}", flush=True)
    return med


def cmd_q(names, reps=3):
    spark = _spark()
    qs = _headline_queries()
    for n in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{n}")
        _noop_time(spark, n, lambda n=n: qs[n](spark, SF_DIR), reps=reps)
    spark.stop()


def cmd_plans(names):
    os.makedirs(os.path.join(_REPO, "plans", "r06"), exist_ok=True)
    spark = _spark()
    qs = _headline_queries()
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    for n in names:
        df = qs[n](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(_REPO, "plans", "r06", f"{n}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{n}: {n_ex} Exchange nodes -> {path}", flush=True)
    spark.stop()


def cmd_ab(a, b, reps=4):
    """Interleaved A/B (CLAUDE.md drift protocol): alternate the two
    queries rep times, report medians + ratio."""
    spark = _spark()
    qs = _headline_queries()
    times = {a: [], b: []}
    for rep in range(1 + reps):  # rep 0 = warm-up, discarded
        for n in (a, b):
            _reset(spark)
            t0 = time.perf_counter()
            qs[n](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if rep:
                times[n].append(dt)
    ma, mb = statistics.median(times[a]), statistics.median(times[b])
    print(f"{a}: {ma:.2f}s {[round(t,2) for t in times[a]]}")
    print(f"{b}: {mb:.2f}s {[round(t,2) for t in times[b]]}")
    print(f"ratio {a}/{b} = {ma / mb:.3f}")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "q":
        cmd_q(sys.argv[2:])
    elif cmd == "plans":
        cmd_plans(sys.argv[2:])
    elif cmd == "ab":
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 4
        cmd_ab(sys.argv[2], sys.argv[3], reps)
    else:
        raise SystemExit(f"unknown command {cmd!r}\n{__doc__}")
