"""Streaming ingestion tests: micro-batch KG construction with
exactly-once checkpointing, and the cross-batch exact and near-
duplicate filters."""

import pytest

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.datagen import synthesize_documents
from ctinexus_spark.model import StubModel
from ctinexus_spark.streaming.ingest import stream_kg


def test_stream_kg_end_to_end(spark, tmp_path):
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    docs = synthesize_documents(spark, n_docs=40)
    docs.write.parquet(in_dir)

    q = stream_kg(spark, in_dir, out_dir, ckpt, StubModel(PipelineConfig()))
    q.awaitTermination(120)

    kg = spark.read.parquet(out_dir)
    n_first = kg.count()
    assert n_first > 0
    assert {"url", "subj", "pred", "obj", "source", "_batch_id"} <= set(kg.columns)

    # restart with NO new files: checkpoint prevents reprocessing
    q2 = stream_kg(spark, in_dir, out_dir, ckpt, StubModel(PipelineConfig()))
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == n_first

    # new files arrive → only they are processed
    synthesize_documents(spark, n_docs=10, seed=7).write.mode("append").parquet(in_dir)
    q3 = stream_kg(spark, in_dir, out_dir, ckpt, StubModel(PipelineConfig()))
    q3.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() > n_first


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """applyInPandasWithState keeps per-fingerprint state across
    micro-batches: a duplicate text arriving in a LATER batch must be
    dropped (foreachBatch cannot express this — state outlives the
    batch)."""
    import time

    from ctinexus_spark.streaming.ingest import stream_dedup

    src = str(tmp_path / "docs")
    schema = "url string, text string"
    spark.createDataFrame(
        [("a1", "alpha body"), ("b1", "beta body"), ("a2", "alpha body")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct file mtimes → deterministic batch order
    spark.createDataFrame(
        [("a3", "alpha body"), ("c1", "gamma body")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src)
    )
    q = (
        stream_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {(r.url, r.text) for r in spark.sql("SELECT * FROM dedup_sink").collect()}
    # a1 wins inside batch 1 (smallest id), a2 (same batch) and a3
    # (later batch) are dropped; b1 and c1 pass through
    assert rows == {("a1", "alpha body"), ("b1", "beta body"), ("c1", "gamma body")}


def test_stream_near_dups_across_batches(spark, tmp_path):
    """Stateful SimHash banding: a near-duplicate arriving in a LATER
    micro-batch pairs with the earlier document (state outlives the
    batch); unrelated texts emit nothing."""
    import time

    from ctinexus_spark.streaming.ingest import stream_near_dups

    src = str(tmp_path / "nd_docs")
    schema = "url string, text string"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")  # few-token delta → small hamming
    far = "completely different content about spark shuffle partitions and joins"

    spark.createDataFrame([("a1", base), ("z1", far)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([("b2", near)], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream_near_dups(stream)
        .writeStream.format("memory")
        .queryName("nd_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    pairs = {(r.a_id, r.b_id) for r in spark.sql("SELECT * FROM nd_sink").collect()}
    assert ("a1", "b2") in pairs
    assert not any("z1" in p for p in pairs)


def test_stream_near_dups_validates_banding(spark, tmp_path):
    """Same guard as the batch simhash_candidates: banding parameters
    that break the pigeonhole guarantee, or give 0-bit chunks, raise
    when the streaming plan is built, before the query starts."""
    from ctinexus_spark.streaming.ingest import stream_near_dups

    stream = spark.readStream.schema("url string, text string").parquet(str(tmp_path))
    for bands, max_hamming, match in [
        (4, 4, "max_hamming"), (4, -1, "max_hamming"), (49, 3, "bands"), (0, 0, "bands"),
    ]:
        with pytest.raises(ValueError, match=match):
            stream_near_dups(stream, bands=bands, max_hamming=max_hamming)
