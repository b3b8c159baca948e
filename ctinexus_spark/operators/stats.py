"""Exact distributed quantiles over bounded-domain value columns.

`percentile_approx` is the Spark built-in for quantiles, but its
Greenwald-Khanna sketch is engine-specific — no other engine
reproduces its outputs, so it can't sit behind a cross-engine
correctness gate, and data-pipeline cut decisions (length filters,
quality thresholds) made from it aren't replayable elsewhere. For
the distributions a pipeline actually thresholds on — token counts,
line counts, scores binned to integers — the value DOMAIN is small
even when the row count is 10^12, and the exact quantile is cheap:
aggregate to (value, count) with map-side partial combine, take a
running sum over the distinct values, and pick the smallest value
whose cumulative count reaches ceil(q * N).

That definition (inclusive lower quantile, the smallest v with
rank >= ceil(q*N)) is pure integer arithmetic plus one IEEE multiply
per q, so Spark and DuckDB agree bit-for-bit. The one window runs
over DISTINCT VALUES (single partition by construction — disclosed
limit: this operator is for bounded domains; for unbounded ones, bin
first). N attaches as a lazy keyless aggregate (one allowed
BroadcastNestedLoopJoin); probabilities fan out via explode of a
literal array — no join against a probe table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["exact_quantiles"]


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """(q, value, n_le, n_total): for each probability q, the exact
    inclusive lower quantile of value_col — the smallest value whose
    cumulative row count n_le reaches ceil(q * n_total). q=1.0 is the
    maximum; nulls are excluded from counts and candidates."""
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("value"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("n_le", F.sum("cnt").over(w).cast("bigint"))
    totals = counts.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    return (
        cum.crossJoin(totals)
        .select(qcol, "value", "n_le", "n_total")
        .filter(
            F.col("n_le")
            >= F.ceil(F.col("q") * F.col("n_total").cast("double")).cast(
                "bigint"
            )
        )
        .groupBy("q")
        .agg(
            F.min(F.struct("value", "n_le", "n_total")).alias("s")
        )
        .select(
            "q",
            F.col("s.value").alias("value"),
            F.col("s.n_le").alias("n_le"),
            F.col("s.n_total").alias("n_total"),
        )
    )


def distribution_drift(
    tokens: DataFrame, group_col: str = "group", token_col: str = "token"
) -> DataFrame:
    """(group, n_tokens, tv_dist): total-variation distance between
    each group's token distribution and the whole-corpus distribution
    — the mixture-QA / drift signal ("which source no longer looks
    like the corpus") a daily crawl pipeline alarms on.

    TV(P_g, Q) = ½·Σᵢ |c_gᵢ/n_g − Cᵢ/N| needs every vocabulary term
    per group; materializing the groups×vocab cross product is the
    naive shape that dies at scale. Rewrite: terms absent from the
    group contribute Cᵢ·n_g, and Σᵢ Cᵢ·n_g = n_g·N over the full
    vocabulary, so

        TV = ( n_g·N + Σ_{i∈g} (|c_gᵢ·N − Cᵢ·n_g| − Cᵢ·n_g) ) / (2·n_g·N)

    touches only the terms PRESENT in each group — one partial-agg
    count table feeding two marginals, one equi-join per marginal, no
    cross join. The whole numerator is exact BIGINT (order-free sums),
    and the one float op is the final division — so the double column
    is engine bit-exact by construction, no ordered folds needed.
    Bounds: exact while n_g·N < 2⁶³ and the cast operands < 2⁵³;
    beyond that (≫10 TB of tokens) switch the numerator to
    DECIMAL(38,0) — the formula is unchanged.

    The corpus total N attaches as a lazy keyless aggregate at two
    points (contribution terms, final ratio) — the two allowed
    BroadcastNestedLoopJoins, token_pmi precedent.
    """
    from ctinexus_spark.partitioning import barrier

    cnt = barrier(
        tokens.select(
            F.col(group_col).alias("group"), F.col(token_col).alias("token")
        )
        .groupBy("group", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    g_tot = cnt.groupBy("group").agg(F.sum("c").cast("bigint").alias("n_g"))
    t_tot = cnt.groupBy("token").agg(F.sum("c").cast("bigint").alias("ct"))
    grand = cnt.agg(F.sum("c").cast("bigint").alias("nn"))
    contrib = (
        cnt.join(t_tot, "token")
        .join(g_tot, "group")
        .crossJoin(F.broadcast(grand))
        .select(
            "group",
            (
                F.abs(F.col("c") * F.col("nn") - F.col("ct") * F.col("n_g"))
                - F.col("ct") * F.col("n_g")
            ).alias("term"),
        )
    )
    s = contrib.groupBy("group").agg(F.sum("term").cast("bigint").alias("s"))
    return (
        s.join(g_tot, "group")
        .crossJoin(F.broadcast(grand))
        .select(
            "group",
            F.col("n_g").alias("n_tokens"),
            (
                (F.col("n_g") * F.col("nn") + F.col("s")).cast("double")
                / (F.lit(2).cast("bigint") * F.col("n_g") * F.col("nn")).cast(
                    "double"
                )
            ).alias("tv_dist"),
        )
    )


def burst_detection(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 86_400,
    k_sigma: tuple[int, int] = (2, 1),
) -> DataFrame:
    """Per-key time-bucket anomaly flags: a bucket is a burst when its
    count deviates from the key's mean by more than (p/q)·σ — the
    ops-monitoring / trend-detection primitive over event streams.

    The whole test runs in EXACT integer arithmetic — no sqrt, no
    float accumulation: with S = Σc, SS = Σc², n buckets per key,
        |c − μ| > (p/q)·σ  ⟺  q²·(n·c − S)² > p²·(n·SS − S²)
    (both sides BIGINT products of counts). The reported
    `dev_sq_ratio` = (n·c−S)² / (n·SS−S²) — the squared z-score — is
    one IEEE division of integer-valued doubles, engine bit-exact;
    a key with zero variance reports 0 ratio and no bursts.

    Dataflow: one partial-agg groupBy to bucket counts, one
    partial-agg groupBy to per-key moments (n, S, SS), one equi-join
    back — two shuffles on keys with natural cardinality, no windows,
    no driver state. Bucket index = exact BIGINT `div` of epoch-micros
    (no double rounding at bucket edges).
    """
    p, q = k_sigma
    if p <= 0 or q <= 0:
        raise ValueError("k_sigma must be a positive rational (p, q)")
    w = bucket_seconds * 1_000_000
    from ctinexus_spark.partitioning import barrier

    # counts feeds two consumers (moments + the flag join) — barrier
    # the branch point (multi-consumer rule)
    counts = barrier(
        events.select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {w}").alias("bucket"),
        )
        .groupBy("key", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    moments = counts.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("ss"),
    )
    num = (F.col("n") * F.col("cnt") - F.col("s"))
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")  # n²·σ²
    return counts.join(moments, "key").select(
        F.col("key").alias(key_col),
        "bucket",
        "cnt",
        "n",
        (
            F.when(var_n2 > 0, (num * num).cast("double") / var_n2.cast("double"))
            .otherwise(F.lit(0.0))
        ).alias("dev_sq_ratio"),
        (F.lit(q * q) * num * num > F.lit(p * p) * var_n2).alias("is_burst"),
    )


def decay_weights(half_life: float, window: int) -> list[tuple[int, float]]:
    """(bucket_offset, 0.5^(offset/half_life)) for offsets 0..window−1
    — computed ONCE in Python and embedded into both engines (a
    Spark-side pow() and a DuckDB-side pow() could differ in the last
    ulp; a shared constant table cannot)."""
    return [(o, 0.5 ** (o / half_life)) for o in range(window)]


def decayed_counts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 86_400,
    half_life: float = 7.0,
    window: int = 64,
) -> DataFrame:
    """Exponential time-decay counters — the trending/feature-store
    primitive: score(key) = Σ_buckets count_b · 0.5^((ref−b)/half_life)
    with ref = the corpus's newest bucket, window-limited (offsets
    past `window` have decayed to dust and are dropped, bounding the
    weight table).

    Determinism: bucket counts are exact integers; the weights are
    ONE Python-computed constant table broadcast to both engines (no
    engine-side pow); each term is one IEEE multiply; the sum of
    terms folds in pinned bucket order (left-fold over
    array_sort(collect_list) == DuckDB list_sum(ORDER BY) — the
    lm_scores precedent). ref attaches as a keyless 1-row broadcast
    aggregate — no driver collect.

    Output: (key, ref_bucket, n_buckets, n_events, score).
    """
    from ctinexus_spark.partitioning import barrier

    w = bucket_seconds * 1_000_000
    # counts feeds two consumers (ref + terms) — barrier the branch
    counts = barrier(
        events.select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {w}").alias("bucket"),
        )
        .groupBy("key", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    spark = events.sparkSession
    ref = counts.select(F.max("bucket").alias("ref_bucket"))
    weights = spark.createDataFrame(
        decay_weights(half_life, window), ["offset", "weight"]
    ).select(F.col("offset").cast("bigint").alias("offset"), "weight")
    terms = (
        counts.crossJoin(F.broadcast(ref))
        .withColumn("offset", F.col("ref_bucket") - F.col("bucket"))
        .join(F.broadcast(weights), "offset")
        .select(
            "key",
            "ref_bucket",
            "bucket",
            "cnt",
            (F.col("cnt").cast("double") * F.col("weight")).alias("term"),
        )
    )
    pts = F.array_sort(F.collect_list(F.struct("bucket", "term")))
    return terms.groupBy("key", "ref_bucket").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.aggregate(
            pts, F.lit(0.0), lambda acc, s: acc + s["term"]
        ).alias("score"),
    ).select(
        F.col("key").alias(key_col), "ref_bucket", "n_buckets", "n_events", "score"
    )


def cusum_drift(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 86_400,
    threshold: int = 20,
) -> DataFrame:
    """Per-key CUSUM drift detection over time-bucket counts — the
    changepoint primitive for SUSTAINED level shifts (burst_detection
    flags point outliers; CUSUM accumulates small persistent
    deviations until they cross a threshold, the classic
    quality-control chart).

    With x_t = count_t − k (k = the key's floor-mean count, an exact
    BIGINT `div`), the textbook recurrence S_t = max(0, S_{t−1} + x_t)
    is computed WITHOUT a sequential loop via the prefix identity
        S_t = P_t − least(0, min_{j<=t} P_j),   P_t = Σ_{i<=t} x_i
    — two window functions over (key ORDER BY bucket), all-BIGINT
    arithmetic, so the whole operator is engine bit-exact and stays
    in one key-partitioned window pass (no driver state, no UDF).

    Output: (key, bucket, cnt, k, cusum, alarm = cusum > threshold).
    """
    from pyspark.sql import Window as W

    from ctinexus_spark.partitioning import barrier

    wus = bucket_seconds * 1_000_000
    counts = barrier(
        events.select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {wus}").alias(
                "bucket"
            ),
        )
        .groupBy("key", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    kref = counts.groupBy("key").agg(
        F.expr("sum(cnt) div count(*)").cast("bigint").alias("k")
    )
    w = (
        W.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scored = (
        counts.join(kref, "key")
        .withColumn("p", F.sum(F.col("cnt") - F.col("k")).over(w))
        .withColumn("mp", F.min("p").over(w))
        .select(
            F.col("key").alias(key_col),
            "bucket",
            "cnt",
            "k",
            (F.col("p") - F.least(F.lit(0).cast("bigint"), F.col("mp"))).alias(
                "cusum"
            ),
        )
    )
    return scored.withColumn("alarm", F.col("cusum") > threshold)
