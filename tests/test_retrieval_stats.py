"""MMR semantics: the re-ranker checked against direct python/numpy
recomputations — properties the DuckDB hash parity
(test_entry_contract) can't express."""

from pyspark.sql import functions as F


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
