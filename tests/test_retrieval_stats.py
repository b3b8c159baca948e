"""Exact-quantile, distribution-drift and MMR semantics: the quantile
definition checked against its own spec and the re-rankers against
direct python/numpy recomputations — properties the DuckDB hash
parity (test_entry_contract) can't express."""

import math
import os
import sys

from pyspark.sql import Row, functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ctinexus_spark import dataset_queries as dq
from ctinexus_spark.operators import stats as ST

SF = "/root/testdata/sf0.01"


# --- exact quantiles ----------------------------------------------------


def test_quantiles_match_spec(spark):
    """Smallest value whose cumulative count >= ceil(q*N), on a
    multiset with duplicates."""
    vals = [1, 1, 2, 3, 3, 3, 7, 10, 10, 100]
    df = spark.createDataFrame([Row(v=x) for x in vals])
    out = {
        r["q"]: (r["value"], r["n_le"], r["n_total"])
        for r in ST.exact_quantiles(df, "v", qs=(0.1, 0.5, 0.9, 1.0)).collect()
    }
    svals = sorted(vals)

    def spec(q):
        need = math.ceil(q * len(svals))
        return svals[max(need, 1) - 1]

    for q in (0.1, 0.5, 0.9, 1.0):
        assert out[q][0] == spec(q), q
        assert out[q][2] == len(vals)


def test_quantiles_constant_column(spark):
    df = spark.range(57).select(F.lit(42).alias("v"))
    out = ST.exact_quantiles(df, "v", qs=(0.25, 0.99)).collect()
    assert {r["value"] for r in out} == {42}
    assert all(r["n_total"] == 57 for r in out)


def test_quantiles_exclude_nulls(spark):
    df = spark.createDataFrame(
        [Row(v=1), Row(v=None), Row(v=3), Row(v=None)]
    )
    out = {r["q"]: r for r in ST.exact_quantiles(df, "v", qs=(0.5, 1.0)).collect()}
    assert out[1.0]["value"] == 3
    assert out[1.0]["n_total"] == 2


# --- cluster topic terms ------------------------------------------------


def test_quantiles_registry_monotone(spark):
    rows = sorted(
        dq.q_doc_len_quantiles(spark, SF).collect(), key=lambda r: r["q"]
    )
    assert len(rows) == 6
    values = [r["value"] for r in rows]
    assert values == sorted(values)
    assert rows[-1]["q"] == 0.99
    # corpus docs are 10-99 tokens
    assert 10 <= values[0] <= values[-1] <= 99


# --- MMR diversified re-rank -------------------------------------------


def _mmr_emb(spark):
    rows = [
        (1, [0.9, 0.10, 0.0]),   # most relevant
        (2, [0.9, 0.11, 0.0]),   # near-duplicate of 1
        (3, [0.5, 0.00, 0.5]),   # less relevant, diverse
        (100, [1.0, 0.0, 0.0]),  # the query
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_mmr_demotes_near_duplicate(spark):
    """Plain cosine ranks the near-copy second; MMR at λ=0.5 picks the
    diverse vector instead (its marginal score beats the duplicate's
    rel − sim-to-picked penalty)."""
    from ctinexus_spark.operators.similarity import mmr_rerank

    emb = _mmr_emb(spark)
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") == 100), k=2, lam=0.5, candidates=3
    ).collect()
    picks = {r.pick_rank: r for r in out}
    assert [picks[1].neighbor_id, picks[2].neighbor_id] == [1, 3]
    # rank-1 score is exactly λ·rel (maxsim term is a literal 0.0)
    import math

    rel1 = (0.9 * 1.0 + 0.10 * 0.0 + 0.0 * 0.0) / (
        math.sqrt(0.9**2 + 0.10**2) * 1.0
    )
    assert picks[1].mmr_score == 0.5 * rel1 - 0.5 * 0.0


def test_mmr_fewer_candidates_than_k(spark):
    """k beyond the candidate pool returns the whole pool, ranked —
    no nulls, no crash."""
    from ctinexus_spark.operators.similarity import mmr_rerank

    emb = _mmr_emb(spark)
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") == 100), k=5, lam=0.7, candidates=3
    ).collect()
    assert sorted(r.pick_rank for r in out) == [1, 2, 3]
    assert {r.neighbor_id for r in out} == {1, 2, 3}


def test_mmr_lambda_one_is_plain_topk(spark):
    """λ=1 removes the diversity term: picks must equal the cosine
    ranking (near-duplicate kept at rank 2)."""
    from ctinexus_spark.operators.similarity import mmr_rerank

    emb = _mmr_emb(spark)
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") == 100), k=3, lam=1.0, candidates=3
    ).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.pick_rank)]
    assert order == [1, 2, 3]


# --- distribution drift (total variation) ------------------------------


def test_distribution_drift_hand_computed(spark):
    """A: {x,x,y}, B: {y,z} over corpus {x:2,y:2,z:1} → TV(A)=4/15,
    TV(B)=2/5 (hand-derived incl. the absent-term mass); checks the
    algebraic fold of out-of-group vocabulary."""
    from fractions import Fraction

    from ctinexus_spark.operators.stats import distribution_drift

    toks = spark.createDataFrame(
        [("A", "x"), ("A", "x"), ("A", "y"), ("B", "y"), ("B", "z")],
        "group string, token string",
    )
    got = {r.group: r for r in distribution_drift(toks).collect()}
    assert got["A"].n_tokens == 3 and got["B"].n_tokens == 2
    assert got["A"].tv_dist == float(Fraction(4, 15))
    assert got["B"].tv_dist == float(Fraction(2, 5))


def test_distribution_drift_identical_group_is_zero(spark):
    """A group that IS the whole corpus has zero distance."""
    from ctinexus_spark.operators.stats import distribution_drift

    toks = spark.createDataFrame(
        [("A", t) for t in ["x", "y", "z", "x"]], "group string, token string"
    )
    rows = distribution_drift(toks).collect()
    assert len(rows) == 1 and rows[0].tv_dist == 0.0


def test_mmr_matches_numpy_greedy_random(spark):
    """40 random unit vectors, 3 queries: the unrolled DataFrame
    rounds must reproduce a straight numpy greedy MMR (argmax with
    (score, -id) preference) pick for pick."""
    import numpy as np

    from ctinexus_spark.operators.similarity import mmr_rerank

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    lam, k, cand_n = 0.6, 4, 10

    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 3), k=k, lam=lam, candidates=cand_n
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, {})[r.pick_rank] = r.neighbor_id

    sims = vecs @ vecs.T
    for q in range(3):
        rel = {c: sims[q, c] for c in range(40) if c != q}
        cand = sorted(rel, key=lambda c: (-rel[c], c))[:cand_n]
        picked = []
        for _ in range(k):
            rem = [c for c in cand if c not in picked]
            scores = {
                c: lam * rel[c]
                - (1 - lam) * (max(sims[c, s] for s in picked) if picked else 0.0)
                for c in rem
            }
            best = min(rem, key=lambda c: (-scores[c], c))
            picked.append(best)
        assert [got[q][r] for r in range(1, k + 1)] == picked, (q, got[q], picked)
