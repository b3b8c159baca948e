"""KG-build benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_llm --seed 1 --seconds 10 --trace 0

Run from the repository root. With --trace 0 it prints the end-to-end
metrics; with --trace 1 it prints the per-layer metrics of traced runs
(see perfbench/README.md). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The exit code is
non-zero when any run raises or fails its output check, or when the
ctinexus_spark package is not next to perfbench/.

Everything the benchmark writes goes under .perfbench_work/ in the
repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# The end-to-end metrics the last output line carries: every workload
# reports them, none can read 0, and their spread across seeds fits a
# bound (see README.md).
END_TO_END = {
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# Printed in the table only: the cold run is one sample per invocation
# and spreads too wide for a bound, retained storage reads 0 on
# workloads without a barrier, failed_runs_frac reads 0 on a passing
# run, and the two model-traffic metrics exist on kg_llm only.
TABLE_ONLY = {
    "cold_run_s": "s",
    "retained_storage_mb": "MB",
    "model_requests_per_doc": "1/doc",
    "prompt_kb_per_doc": "KB/doc",
    "failed_runs_frac": "fraction",
}

_STAGE_FIELDS = {"remaining_s": "s", "fresh_rows": "count", "commit_s": "s", "commit_mb": "MB", "load_s": "s"}
PER_LAYER = {
    "normalize.span_s": "s", "normalize.docs_in": "count", "normalize.docs_out": "count",
    "ie_et.span_s": "s", "ie_et.executor_run_s": "s", "ie_et.python_io_mb": "MB",
    "ie_et.triples_out": "count", "ie_et.valid_frac": "fraction",
    **{f"client.requests.{k}": "count" for k in ("ie", "et", "embed", "link")},
    "client.retries": "count", "client.service_s_p50": "s", "client.service_s_p99": "s",
    "client.inflight_mean": "count", "client.inflight_peak": "count", "client.connections": "count",
    "client.request_kb": "KB", "client.endpoint_cpu_s": "s",
    "align.span_s": "s", "align.executor_run_s": "s", "align.shuffle_write_mb": "MB", "align.spill_mb": "MB",
    "align.python_io_mb": "MB", "align.mentions_in": "count", "align.entities_out": "count",
    "align.main_pairs_out": "count",
    "barrier.span_s": "s", "barrier.stored_mb": "MB",
    "lp.span_s": "s", "lp.pairs_in": "count", "lp.links_ok": "count", "lp.hallucinations": "count",
    "write.span_s": "s", "write.mb": "MB",
    **{f"checkpoint.{s}.{k}": u for s in ("documents_clean", "triples_typed", "kg_fused_rows", "kg_links")
       for k, u in _STAGE_FIELDS.items()},
    "resolve.texts_in": "count", "resolve.embed_s": "s", "resolve.lsh_s": "s", "resolve.pairs_out": "count",
    "resolve.cc_s": "s", "resolve.cc_jobs": "count", "resolve.components": "count",
    "resolve.merged_texts": "count", "resolve.alias_frac": "fraction",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_mb(self) -> float:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total / (1024 * 1024)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def git_sha() -> str:
    """HEAD of the checkout when it is a git work tree, read from .git
    directly (no lookup outside the checkout)."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return "unknown"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    loose = ROOT / ".git" / ref[5:]
    if loose.is_file():
        return loose.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return "unknown"


def start_session(work: Path, nproc: int, event_log: Path | None):
    from ctinexus_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
        })
    # shuffle partitions as build_session sizes them for nproc cores
    spark = build_session(app_name="perfbench", master=f"local[{nproc}]",
                          shuffle_partitions=max(nproc, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM py4j launched and wait for it: the
    JVM exits when its standard input closes, and its Python workers
    end with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def timed_run(workload, spark) -> dict:
    """One run of the shipped job: timed, then its output snapshot and
    the storage it left behind once its results are dropped. A run that
    raises is kept as a failed run."""
    from perfbench.workloads import storage_by_rdd, stored_since

    workload.prepare()
    before = storage_by_rdd(spark)
    start = time.perf_counter()
    try:
        outcome = workload.run()
    except Exception as exc:  # counted in failed_runs_frac
        print(f"run failed: {exc!r}", file=sys.stderr)
        return {"seconds": time.perf_counter() - start, "raised": True}
    seconds = time.perf_counter() - start
    gc.collect()
    run = {
        "seconds": seconds,
        "output": workload.snapshot(),
        "items": outcome.items,
        "retained_mb": stored_since(spark, before),
    }
    if outcome.model_requests is not None:
        run["requests_per_item"] = outcome.model_requests / outcome.items
        run["kb_per_item"] = outcome.request_kb / outcome.items
    return run


def median_of(runs: list[dict], key: str) -> tuple[float, int]:
    values = [r[key] for r in runs if key in r]
    return (statistics.median(values), len(values)) if values else (float("nan"), 0)


def end_to_end(workload, spark, seconds: float, runs: list[dict]) -> dict:
    """Warm runs for the measured window (at least two), after the
    cold run and the reference."""
    warm_start = time.perf_counter()
    while len(runs) < 3 or time.perf_counter() - warm_start < seconds:
        runs.append(timed_run(workload, spark))
    for r in runs:
        if "items" in r:
            r["items_per_s"] = r["items"] / r["seconds"]
    metrics = {
        "items_per_s": median_of(runs[1:], "items_per_s"),
        "cold_run_s": (runs[0]["seconds"], 1),
        "retained_storage_mb": median_of(runs, "retained_mb"),
    }
    if any("requests_per_item" in r for r in runs):
        metrics["model_requests_per_doc"] = median_of(runs, "requests_per_item")
        metrics["prompt_kb_per_doc"] = median_of(runs, "kb_per_item")
    return metrics


def traced(workload, spark, seconds: float, runs: list[dict]) -> tuple[list[dict], object]:
    """Pairs of (untraced run, traced run) for the measured window, after
    the warm-up run and the reference. Returns per-layer dicts of the
    traced runs."""
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    layers: list[dict] = []
    start = time.perf_counter()
    while not layers or time.perf_counter() - start < seconds:
        plain = timed_run(workload, spark)
        runs.append(plain)
        tracer.run_id = f"t{len(layers) + 1}"
        workload.prepare()
        t0 = time.perf_counter()
        m = workload.traced_run(tracer)
        m["trace.overhead_s"] = time.perf_counter() - t0 - plain["seconds"]
        spark.sparkContext.setJobDescription(None)
        runs.append({"output": workload.snapshot()})
        layers.append(m)
    return layers, tracer


def add_event_log_metrics(layers: list[dict], log_dir: Path) -> None:
    from perfbench.trace import event_log_metrics, metrics_for

    per_label = event_log_metrics(str(log_dir))
    for i, m in enumerate(layers):
        rid = f"t{i + 1}"
        ie, al, cc, total = (metrics_for(per_label, rid, p) for p in ("ie_et", "align", "resolve.cc", ""))
        if "ie_et.span_s" in m:
            m["ie_et.executor_run_s"], m["ie_et.python_io_mb"] = ie.executor_run_s, ie.python_io_mb
            m["align.executor_run_s"], m["align.shuffle_write_mb"] = al.executor_run_s, al.shuffle_write_mb
            m["align.spill_mb"], m["align.python_io_mb"] = al.spill_mb, al.python_io_mb
        if "resolve.cc_s" in m:
            m["resolve.cc_jobs"] = cc.jobs
        for k in ("jobs", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb", "gc_s"):
            m[f"spark.{k}"] = getattr(total, k)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "ctinexus_spark" / "__init__.py").is_file():
        print(f"ctinexus_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Python workers import ctinexus_spark and perfbench from the checkout;
    # every temporary file stays inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # The only HTTP traffic is the model client's, to the simulated
    # endpoint on 127.0.0.1: an inherited proxy setting would route it
    # away (urllib honours *_proxy variables) and fail every kg_llm run.
    for var in [v for v in os.environ if v.lower() in ("http_proxy", "https_proxy", "all_proxy")]:
        del os.environ[var]
    os.environ["no_proxy"] = os.environ["NO_PROXY"] = "127.0.0.1,localhost"
    # Python workers run the interpreter that runs the benchmark
    os.environ["PYSPARK_PYTHON"] = sys.executable
    nproc = len(os.sched_getaffinity(0))
    event_log = work / "eventlog" if args.trace else None

    import pyspark

    started = time.perf_counter()
    runs: list[dict] = []
    metrics: dict[str, tuple[float, int]] = {}
    layers: list[dict] = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(work, nproc, event_log)
        session_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload](spark, str(work), args.seed)
        try:
            setups = []
            for _ in range(1 if args.trace else 3):
                t0 = time.perf_counter()
                workload.setup()
                setups.append(time.perf_counter() - t0)
            # cold: the first run in a fresh session. The reference comes
            # next, outside every timed run, and warms the session further
            # before the warm runs.
            runs.append(timed_run(workload, spark))
            t0 = time.perf_counter()
            workload.reference()
            reference_s = time.perf_counter() - t0
            if args.trace:
                layers, tracer = traced(workload, spark, args.seconds, runs)
            else:
                metrics = end_to_end(workload, spark, args.seconds, runs)
            for r in runs:
                r["ok"] = "output" in r and workload.check(r.pop("output"))
        finally:
            workload.close()
            stop_session(spark)
    failed = sum(not r["ok"] for r in runs)
    if args.trace:
        add_event_log_metrics(layers, event_log)
        tracer.write(str(work / "spans.jsonl"))
        metrics = {k: (statistics.median(m.get(k, 0.0) for m in layers), len(layers)) for k in PER_LAYER}
        units, table = PER_LAYER, metrics
    else:
        metrics["setup_s"] = (session_s + statistics.median(setups), len(setups))
        metrics["peak_rss_mb"] = (rss.peak_mb, 1)
        metrics["failed_runs_frac"] = (failed / len(runs), len(runs))
        units = {**END_TO_END, **TABLE_ONLY}
        table = {k: metrics[k] for k in units if k in metrics}
        metrics = {k: metrics[k] for k in END_TO_END}

    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": nproc,
        "spark": pyspark.__version__, "python": platform.python_version(), "git_sha": git_sha(),
        "phases_s": {"session": session_s, "setups": setups, "reference": reference_s,
                     "runs": [r.get("seconds") for r in runs], "total": time.perf_counter() - started},
    }
    print(json.dumps({"meta": meta}))
    for k, (v, n) in table.items():
        print(f"{k:40s} {v:14.6g} {units[k]:9s} n={n}")
    result = {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in metrics.items()},
    }
    (work / "result.json").write_text(json.dumps({"meta": meta, **result}, indent=1))
    for sub in work.iterdir():
        if sub.is_dir():
            shutil.rmtree(sub, ignore_errors=True)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
