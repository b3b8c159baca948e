"""Structured-Streaming front-end for the KG pipeline.

The reference is strictly batch (SURVEY.md §2.7: no streaming
operators); streaming enters this rebuild as the *ingestion* shape a
continuously-crawled corpus needs:

- `stream_kg`: readStream over a documents directory → foreachBatch
  runs the SAME fused batch pipeline per micro-batch and appends to a
  parquet KG sink. foreachBatch is the right tool because EA/LP are
  per-document (no cross-batch state), every batch operator is reused
  verbatim, and the streaming checkpoint gives exactly-once appends —
  the streaming twin of checkpoint.py's batch resume.
- `windowed_event_counts`: watermarked tumbling-window aggregation
  over an events stream (late data dropped after the watermark) —
  the standard stateful-streaming shape for the metrics feed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.operators.fused import fused_kg
from ctinexus_spark.operators.normalize import normalize_documents

DOCUMENTS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_kg(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    model,
    config: PipelineConfig | None = None,
    lang_filter: str | None = "en",
):
    """Continuous KG construction: new parquet files under input_dir
    flow through the fused pipeline into a parquet KG sink. Returns
    the StreamingQuery (caller awaits/termination-manages it)."""
    cfg = config or PipelineConfig()
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = normalize_documents(batch_df, lang_filter=lang_filter)
        kg = fused_kg(docs, model, cfg).withColumn("_batch_id", F.lit(batch_id))
        kg.write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


DEDUP_OUTPUT_SCHEMA = "fingerprint string, url string, text string"
DEDUP_STATE_SCHEMA = "seen boolean"


def stream_dedup(docs: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """Cross-batch exact dedup over a streaming documents source: the
    first document per md5(text) fingerprint is emitted, every later
    arrival — in the SAME or any LATER micro-batch — is dropped.

    This is the custom stateful operator shape foreachBatch cannot
    express (state must outlive the batch): per-fingerprint state via
    applyInPandasWithState, keyed by the fingerprint, storing one
    `seen` flag. State size is one boolean per distinct document hash
    — the streaming twin of exact_duplicates for a continuously-
    crawled corpus. Ties inside a batch resolve to the smallest id
    (same canonical-id rule as the batch operator).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    withfp = docs.withColumn("fingerprint", F.md5(F.col(text_col)))

    def dedup_fn(key, pdfs, state):
        if state.exists:
            return iter(())  # emitted in an earlier micro-batch
        first = None
        for pdf in pdfs:
            pdf = pdf.sort_values(id_col, kind="stable")
            if len(pdf) and (first is None or pdf[id_col].iloc[0] < first[id_col]):
                first = pdf.iloc[0]
        if first is None:
            return iter(())
        state.update((True,))
        return iter([pd.DataFrame([
            {"fingerprint": key[0], "url": first[id_col], "text": first[text_col]}
        ])])

    return withfp.groupBy("fingerprint").applyInPandasWithState(
        dedup_fn,
        DEDUP_OUTPUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


NEARDUP_OUTPUT_SCHEMA = "a_id string, b_id string, hamming int"
NEARDUP_STATE_SCHEMA = "ids array<string>, hashes array<bigint>"


def stream_near_dups(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Cross-batch NEAR-duplicate pairs over a streaming documents
    source — the streaming twin of dedup.simhash_candidates: each
    document's 48-bit SimHash is split into pigeonhole band chunks
    (any pair within hamming ≤ bands-1 shares a chunk), state is keyed
    by (band_idx, chunk) and holds the bucket's (id, simhash) members,
    and every arrival is exact-hamming-checked against the bucket
    before joining it. Pairs sharing several chunks emit once per
    shared chunk — downstream consumers dedupe on (a_id, b_id), same
    as the batch operator's DISTINCT.

    Scale guards: per-bucket state is capped at max_bucket members
    (a boilerplate-hot chunk stops accumulating instead of growing
    O(n) state and O(n) per-arrival compares — the streaming analogue
    of cap_buckets); state size is ~bands rows per document."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ctinexus_spark.operators.dedup import SIMHASH_BITS, _simhash_batch

    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1

    @pandas_udf("bigint")
    def _sh(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = (
        docs.withColumn("simhash", _sh(F.col(text_col)))
        .select(id_col, "simhash", F.explode(chunks).alias("c"))
        .select(
            F.col(id_col).alias("doc_id"),
            "simhash",
            F.col("c.band_idx").alias("band_idx"),
            F.col("c.chunk").alias("chunk"),
        )
    )

    def match_fn(key, pdfs, state):
        ids, hashes = state.get if state.exists else ([], [])
        ids, hashes = list(ids), list(hashes)
        out = []
        rows = pd.concat(list(pdfs)).sort_values("doc_id", kind="stable")
        for doc_id, sh in zip(rows["doc_id"], rows["simhash"]):
            sh = int(sh)
            for other_id, other_sh in zip(ids, hashes):
                if other_id == doc_id:
                    continue
                if bin(sh ^ int(other_sh)).count("1") <= max_hamming:
                    a, b = sorted((other_id, doc_id))
                    out.append({"a_id": a, "b_id": b,
                                "hamming": bin(sh ^ int(other_sh)).count("1")})
            if len(ids) < max_bucket and doc_id not in ids:
                ids.append(doc_id)
                hashes.append(sh)
        state.update((ids, hashes))
        return iter([pd.DataFrame(out)]) if out else iter(())

    return banded.groupBy("band_idx", "chunk").applyInPandasWithState(
        match_fn,
        NEARDUP_OUTPUT_SCHEMA,
        NEARDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE_SCHEMA = "start_ts timestamp, last_ts timestamp, n bigint"


def stream_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time sessionization over a streaming (user_id, ts) source
    — the custom stateful operator the batch event_sessions query
    shapes, expressed with applyInPandasWithState + EventTimeTimeout:

    - events extend the user's open session while gaps stay ≤ gap; an
      in-batch gap > gap closes the earlier session immediately
    - the open session closes when the WATERMARK passes
      last_ts + gap (state timeout) — the streaming-correct "no more
      events can reach this session" condition, which foreachBatch
      cannot express (state and timeouts outlive the batch)

    State per user: (session_start, last_ts, n_events) — constant
    size, evicted on timeout; scales to any user cardinality as a
    keyed state store partitioned by user_id."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            return iter([pd.DataFrame([
                {"user_id": key[0], "session_start": start,
                 "session_end": last, "n_events": n}
            ])])
        rows = pd.concat(list(pdfs)).sort_values("ts", kind="stable")
        closed = []
        # fold the batch's events AND the open-session state interval,
        # all sorted by start, into gap-separated intervals.  A
        # below-watermark late event merges into whichever interval it
        # is within `gap` of — including BEFORE the open session — and a
        # late event more than `gap` older than session_start forms its
        # own (immediately closed) session instead of being glued into
        # the open one, which would emit a session violating the gap
        # invariant.
        items = [(ts, ts, 1) for ts in rows["ts"]]
        if state.exists:
            s0, l0, n0 = state.get
            items.append((pd.Timestamp(s0), pd.Timestamp(l0), int(n0)))
        items.sort(key=lambda x: (x[0], x[1]))
        merged: list[list] = []
        for s, e, c in items:
            if merged and (s - merged[-1][1]).value // 10**6 <= gap_ms:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += c
            else:
                merged.append([s, e, c])
        for s, e, c in merged[:-1]:
            closed.append({"user_id": key[0], "session_start": s,
                           "session_end": e, "n_events": c})
        start, last, n = merged[-1]
        state.update((start.to_pydatetime(), last.to_pydatetime(), int(n)))
        # naive timestamps are session-TZ UTC: epoch from .value, not
        # .timestamp() (which would assume the host's local zone).
        # Timeout must sit above the current watermark or Spark rejects
        # it — a session already beyond its gap times out next batch.
        last_ms = pd.Timestamp(last).value // 10**6
        state.setTimeoutTimestamp(max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1))
        return iter([pd.DataFrame(closed)]) if closed else iter(())

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """(user_id, session_start, session_end, n_events) — sessionization
    via the NATIVE F.session_window aggregation: JVM state store,
    automatic gap-window merging, no Python in the loop. This is the
    production default; stream_sessions (applyInPandasWithState) exists
    for custom per-session logic the built-in cannot express. Window
    semantics: session_end = last event + gap (the window's close),
    not the last event itself.

    Works identically on BATCH frames (watermark skipped), so the same
    operator serves the backfill job and the live stream — and the
    batch path has a DuckDB oracle twin (event_sessions_native)."""
    base = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        base.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join — the click-attribution
    shape: every `right` event joins the `left` events of the same key
    whose timestamp precedes it by at most `within` (e.g. impressions
    joined to the clicks they caused). Both sides carry watermarks so
    Spark can BOUND the join state: a buffered left row is evicted once
    the right watermark passes left_ts + within — the state-cleanup
    contract an unwatermarked stream join (unbounded buffer) cannot
    give. Output: (key, left_ts, right_ts, lag_seconds).

    Scale shape: the join is key-partitioned state-store lookup work —
    no cross-key traffic; state size is bounded by within × rate per
    key."""
    lt, rt = F.col("l_ts"), F.col("r_ts")
    l = (
        left.select(F.col(key).alias("l_key"), F.col(left_ts).alias("l_ts"))
        .withWatermark("l_ts", watermark)
    )
    r = (
        right.select(F.col(key).alias("r_key"), F.col(right_ts).alias("r_ts"))
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (lt <= rt)
        & (rt <= lt + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond).select(
        F.col("l_key").alias(key),
        F.col("l_ts").alias("left_ts"),
        F.col("r_ts").alias("right_ts"),
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).cast("bigint").alias("lag_seconds"),
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type over a
    streaming events source (ts timestamp, event_type string)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def stream_bursts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 86_400,
    k_sigma: tuple[int, int] = (2, 1),
) -> DataFrame:
    """Streaming burst monitor: the cross-batch twin of
    stats.burst_detection — per-key time-bucket counts accumulate as
    applyInPandasWithState integer counters, and every micro-batch the
    key receives data it re-emits ALL its buckets with the k·σ flag
    recomputed over the moments so far (early buckets can gain or lose
    burst status as the baseline grows — exactly the live-dashboard
    behavior).

    Bit-equality contract with the batch operator: counters are
    additive integers, the predicate is the same pure-BIGINT
    cross-product q²·(n·c−S)² > p²·(n·SS−S²), and dev_sq_ratio
    replicates the batch's cast-then-divide (float(num²)/float(den) ==
    CAST AS DOUBLE division), so after the final batch the emission
    equals burst_detection(union of batches) EXACTLY (pinned by
    test_streaming). State per key = one int per non-empty bucket —
    bounded by the key's lifetime in buckets, not by stream volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    p, q = k_sigma
    if p <= 0 or q <= 0:
        raise ValueError("k_sigma must be a positive rational (p, q)")
    w = bucket_seconds * 1_000_000
    prepped = events.select(
        F.col(key_col).alias("key"),
        F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {w}").alias("bucket"),
    ).groupBy("key")

    def upd(key, pdfs, state):
        if state.exists:
            bks, cnts = state.get
            d = dict(zip(bks, cnts))
        else:
            d = {}
        for pdf in pdfs:
            for b, c in pdf.groupby("bucket").size().items():
                d[int(b)] = d.get(int(b), 0) + int(c)
        items = sorted(d.items())
        state.update(([b for b, _ in items], [c for _, c in items]))
        n = len(d)
        s = sum(d.values())
        ss = sum(c * c for c in d.values())
        var_n2 = n * ss - s * s
        rows = []
        for b, c in items:
            num = n * c - s
            rows.append(
                {
                    "event_type": key[0],
                    "bucket": b,
                    "cnt": c,
                    "n": n,
                    # strictly increases on every update the key gets:
                    # the final-emission selector for sinks/tests
                    "total": s,
                    # batch twin: CAST(x AS DOUBLE)/CAST(y AS DOUBLE)
                    "dev_sq_ratio": (
                        float(num * num) / float(var_n2) if var_n2 > 0 else 0.0
                    ),
                    "is_burst": bool(q * q * num * num > p * p * var_n2),
                }
            )
        return iter([pd.DataFrame(rows)])

    return prepped.applyInPandasWithState(
        upd,
        outputStructType=(
            "event_type string, bucket long, cnt long, n long, "
            "total long, dev_sq_ratio double, is_burst boolean"
        ),
        stateStructType="buckets array<long>, counts array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
