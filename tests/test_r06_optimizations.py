"""Focused pin for a round-6 optimization internal: winnowed_fingerprints'
array-side fold reproduces the window-frame semantics including
truncated tail windows (docs shorter than the winnowing window — not
exercised by the sf corpora).
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_winnow_truncated_tail_windows(spark):
    from ctinexus_spark.operators.textops import winnowed_fingerprints

    # 7 tokens -> 5 shingles with k=3; window=4 > remaining shingles at
    # the tail, so tail minima run over truncated frames
    text = "a b c d e f g"
    docs = spark.createDataFrame([(1, text), (2, "x y")], "doc_id bigint, text string")
    got = _rowset(winnowed_fingerprints(docs, k=3, window=4))

    toks = text.split(" ")
    hs = [
        hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()
        for i in range(len(toks) - 2)
    ]
    want = sorted(
        {(1, min(hs[j : j + 4])) for j in range(len(hs))}
    )  # doc 2 has <3 tokens -> no rows
    assert got == want
