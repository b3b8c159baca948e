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
- `stream_dedup` / `stream_near_dups`: cross-batch exact and SimHash
  near-duplicate filters over the same documents stream — the
  stateful (applyInPandasWithState) twins of the batch dedup
  operators, for state that must outlive a micro-batch.
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

    from ctinexus_spark.operators.dedup import (
        SIMHASH_BITS,
        _simhash_batch,
        check_simhash_bands,
    )

    check_simhash_bands(bands, max_hamming)
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
