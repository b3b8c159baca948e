"""Input-split hygiene + materialization barriers shared by the
scan-heavy and multi-consumer operators.

Inputs arriving as a handful of large files (or one small file) would
serialize every downstream Arrow pass / explode onto a few cores —
repartition up to ~2 tasks/core when the scan is under-split. At
100 TB the scan naturally yields thousands of splits and this is a
no-op (the partition probe is plan-time only; no job runs).

The KG's Python passes take one task per core slot instead
(core_slots: normalize_documents and grouped_map_stitched): more tasks
than slots add a task wave for no extra parallelism. A wave is cheap
now. PySpark's per-task setup calls importlib.invalidate_caches(), and
on CPython < 3.13 each cached zipimporter used to re-parse its
archive's central directory on every task (pyspark.zip, py4j's zip,
the spark-core jar on the worker path: ~0.35 s of CPU per task).
ctinexus_spark._zipimport re-reads an archive only when it changed,
so a reused worker pays that on its first two tasks only (see that
module); a second wave of a no-op pandas UDF costs ~0.04 s on
local[4].
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _plan_partitions(df: DataFrame) -> int | None:
    """Planned partition count, Connect-safe: prefer the classic
    rdd.getNumPartitions probe (exact, plan-time only); under Spark
    Connect (no .rdd) fall back to the scan's file count — the
    quantity the probe exists to detect (few-files inputs). Returns
    None when neither is knowable (non-file source on Connect):
    callers then repartition unconditionally, the safe default."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        pass
    try:
        files = df.inputFiles()
        return len(files) if files else None
    except Exception:
        return None


def core_slots(spark) -> int | None:
    """The number of tasks the cluster runs at once (defaultParallelism);
    None under Spark Connect, which has no sparkContext to ask."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return None


def ensure_parallelism(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    spark = df.sparkSession
    # Spark Connect: no sparkContext — conf-driven
    default = core_slots(spark) or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    target = min_parallelism or default * 2
    current = _plan_partitions(df)
    if current is None or current < target:
        df = df.repartition(target)
    return df


def grouped_map_stitched(df: DataFrame, key: str, process, schema) -> DataFrame:
    """The cheap replacement for groupBy(key).applyInPandas(...) when
    groups are numerous and small (per-document work): one Arrow
    exchange per BATCH of many groups instead of per group — the
    grouped-map path pays ~2 ms of pandas/Arrow overhead per group
    (measured; see operators/fused.py), which is 10^12 × 2 ms at
    web scale.

    `process` receives pandas frames containing only WHOLE key-groups
    (possibly many per call; split them with pdf.groupby(key)) and
    returns a frame matching `schema` by column name.

    Shape: repartition(core_slots, key) → sortWithinPartitions(key) →
    mapInPandas (a bare repartition(key) under Spark Connect).
    Arrow caps batches at arrow.maxRecordsPerBatch, so one group can
    straddle a batch boundary; rows arrive sorted by key, so each
    batch's trailing group is held back and stitched onto the next
    batch — every group is processed whole regardless of batch size."""
    import pandas as pd

    def run(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            last = pdf[key].iloc[-1]
            boundary = pdf[key] == last
            pending = pdf[boundary]
            work = pdf[~boundary]
            if len(work):
                yield process(work)
        if pending is not None and len(pending):
            yield process(pending)

    # Pinned to one partition per core slot: a bare repartition(key) is
    # AQE-coalescible, and a small url shuffle collapsed to ONE task,
    # running the whole pass's Python on one core. More partitions than
    # slots only add task waves.
    # Spark Connect exposes no slot count; keep the bare, coalescible
    # form there rather than pin a guess.
    slots = core_slots(df.sparkSession)
    shuffled = df.repartition(slots, key) if slots else df.repartition(key)
    return shuffled.sortWithinPartitions(key).mapInPandas(run, schema=schema)


def barrier(df: DataFrame) -> DataFrame:
    """Eager materialization barrier for multi-consumer branch points
    (a lazy persist would race inside a single multi-consumer job and
    compute the upstream pass twice).

    Local mode: localCheckpoint — blocks live on executors, outside the
    cache manager (no later plan matches them), but they stay pinned
    for the session's lifetime: dropping the DataFrame does not free
    them (see release_checkpoint_blocks). TRADEOFF: localCheckpoint
    truncates lineage, so losing an executor after
    materialization fails the job instead of recomputing — acceptable
    in a single-JVM local run, not on a 1000-executor cluster.

    Clustered deployments set a reliable checkpoint dir
    (spark.sparkContext.setCheckpointDir on HDFS/S3); when one is
    configured this helper switches to reliable .checkpoint(), whose
    blocks survive executor loss."""
    try:
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:  # Spark Connect: localCheckpoint is the only option
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release_checkpoint_blocks(spark, blocking: bool = False) -> int:
    """Unpersist every JVM-side persistent RDD; returns how many.

    localCheckpoint blocks are pinned by the JVM for the LIFETIME of
    the session: measured on this stack (Spark 4.1 / py4j ClientServer),
    neither spark.catalog.clearCache(), nor dropping every Python
    wrapper + gc.collect(), nor an explicit py4j detach + System.gc
    releases them — barriered iterative queries therefore grow
    executor storage monotonically across repeated runs in one
    session, squeezing the unified memory pool until shuffles spill
    (bench round 5: dedup_clusters_cc warm median 31 s vs cold 4.7 s).

    SAFETY CONTRACT: call ONLY at a point where no previously built
    DataFrame will be re-executed — a barriered frame has truncated
    lineage, so unpersisting it makes any later action on it fail
    instead of recompute. Bench harnesses between measurements and
    batch jobs at stage boundaries satisfy this; a live interactive
    session generally does not.
    """
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
    except Exception:  # Spark Connect: no JVM handle — nothing we can do
        return 0
    n = 0
    it = jmap.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(blocking)
        n += 1
    return n
