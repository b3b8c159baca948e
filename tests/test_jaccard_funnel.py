"""Property tests for the prefix-filter exact Jaccard join, checked
against an independent brute reference in plain Python (the DuckDB
twin in dataset_queries is the driver-side check; these pin the
algorithm on adversarial inputs the sf corpora don't contain: tiny
sets, threshold ties) — plus shingle_overlap's argument check."""

from __future__ import annotations

import itertools
import random

import pytest

from ctinexus_spark.operators import dedup as D


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _brute_pairs(docs: list[tuple[str, str]], p: int, q: int):
    out = {}
    sets = {i: _shingles(t) for i, t in docs}
    for (a, sa), (b, sb) in itertools.combinations(sorted(sets.items()), 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if (p + q) * inter >= p * (len(sa) + len(sb)):
            out[(a, b)] = (inter, len(sa), len(sb))
    return out


def test_jaccard_join_exact_matches_brute(spark):
    """Prefix filtering must lose NOTHING: the whole point of the
    operator is exactness. Random near-dup corpus: base docs plus
    mutated copies (drop/replace tokens) so thresholds straddle 1/2."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        docs.append((f"d{i:03d}", " ".join(base)))
        if i % 2 == 0:  # a mutated near-copy
            mut = list(base)
            for _ in range(rng.randint(0, max(1, len(mut) // 6))):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((f"d{i:03d}x", " ".join(mut)))
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.a_id, r.b_id): (r.n_shared, r.n_a, r.n_b)
        for r in D.jaccard_join_exact(sdf, threshold=(1, 2)).collect()
    }
    assert got == _brute_pairs(docs, 1, 2)


def test_jaccard_join_threshold_is_integer_exact(spark):
    """Boundary pairs: J exactly == p/q must be INCLUDED (>=), one
    shingle less must be excluded — no float wobble at the cut."""
    # doc pair sharing exactly half their union: |A|=3, |B|=3, I=2
    # J = 2/(3+3-2) = 0.5 exactly
    a = "x1 x2 x3 x4 x5"  # shingles: (x1..3)(x2..4)(x3..5) -> 3
    b = "x2 x3 x4 x5 x6"  # shares (x2..4)(x3..5); own (x4 x5 x6)
    sdf = spark.createDataFrame([("a", a), ("b", b)], ["doc_id", "text"])
    rows = D.jaccard_join_exact(sdf, threshold=(1, 2)).collect()
    assert len(rows) == 1 and rows[0].jaccard == 0.5
    rows = D.jaccard_join_exact(sdf, threshold=(51, 100)).collect()
    assert rows == []


@pytest.mark.parametrize("min_shared", [0, -1])
def test_shingle_overlap_rejects_min_shared_below_one(spark, min_shared):
    """min_shared=0 would let the candidate path emit every candidate
    pair, including 0/0-Jaccard pairs with no shingle in common; it is
    rejected when the operator is built, before any Spark action."""
    docs = spark.createDataFrame([(1, "a b c d"), (2, "w x y z")], ["doc_id", "text"])
    cand = spark.createDataFrame([(1, 2)], ["a_id", "b_id"])
    with pytest.raises(ValueError, match="min_shared"):
        D.shingle_overlap(docs, min_shared=min_shared, candidates=cand)
    with pytest.raises(ValueError, match="min_shared"):
        D.shingle_overlap(docs, min_shared=min_shared)
    # the smallest legal value keeps only pairs that share a shingle
    assert D.shingle_overlap(docs, min_shared=1, candidates=cand).count() == 0
