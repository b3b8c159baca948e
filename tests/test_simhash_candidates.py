"""SimHash hamming-ball candidate pairing: banding must find every
pair within the hamming bound (pigeonhole guarantee) and the exact
filter must reject distant pairs."""

import pytest

from ctinexus_spark.operators.dedup import (
    _simhash_batch,
    _simhash_one,
    simhash_candidates,
)


def test_vectorized_kernel_bit_identical_to_scalar():
    """The numpy batch kernel (md5 once per distinct token, sign sums
    via add.reduceat) must reproduce the scalar reference bit for bit —
    the sketch feeds hash-matched oracles and cross-batch stream state."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    texts = ["alpha beta gamma", "", "alpha alpha alpha", "one-token",
             "the quick brown fox " * 50, "  double  spaces  "]
    got = _simhash_batch(pd.Series(texts))
    assert [_simhash_one((t or "").split(" ")) for t in texts] == list(got)
    assert list(_simhash_batch(pd.Series([], dtype=object))) == []

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.text(alphabet="ab x", min_size=0, max_size=30), min_size=1, max_size=8))
    def fuzz(batch):
        assert [_simhash_one((t or "").split(" ")) for t in batch] == list(
            _simhash_batch(pd.Series(batch, dtype=object))
        )

    fuzz()


def test_near_dup_found_far_pair_rejected(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " extra"          # one token differs → small hamming
    far = "completely different content about spark query engines and shuffles"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id bigint, text string"
    )
    # precondition sanity on the pure sketch (one token change flips
    # a handful of bits; 8 bands pigeonhole-guarantee hamming ≤ 7)
    h1, h2 = _simhash_one(base.split()), _simhash_one(near.split())
    assert bin(h1 ^ h2).count("1") <= 6

    got = {(r.a_id, r.b_id) for r in simhash_candidates(df, bands=8, max_hamming=6).collect()}
    assert (1, 2) in got
    assert all(3 not in pair for pair in got)


def test_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here")], "doc_id bigint, text string"
    )
    rows = simhash_candidates(df).collect()
    assert len(rows) == 1 and rows[0].hamming == 0


def test_banding_parameters_validated_at_call_time(spark):
    """max_hamming >= bands breaks the pigeonhole guarantee (a pair at
    hamming == bands with one differing bit per chunk shares no
    chunk and is never a candidate), and bands > 48 gives 0-bit chunks
    that put every document in one bucket. Both are rejected when the
    operator is built, before any Spark job."""
    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id bigint, text string")
    for bands, max_hamming, match in [
        (4, 4, "max_hamming"), (8, 9, "max_hamming"), (4, -1, "max_hamming"),
        (49, 3, "bands"), (0, 0, "bands"),
    ]:
        with pytest.raises(ValueError, match=match):
            simhash_candidates(df, bands=bands, max_hamming=max_hamming)
    # the edges of the legal range still build
    simhash_candidates(df, bands=48, max_hamming=47)
    simhash_candidates(df, bands=1, max_hamming=0)
