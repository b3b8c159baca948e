"""IVF k-means training (VERDICT #9): trained centroids must be
deterministic and beat the seed centroids' recall against the exact
brute-force baseline."""

import pytest

from ctinexus_spark.operators import similarity as S

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").persist()
    df.count()
    yield df
    df.unpersist()


def _recall(spark, emb, centroids, exact_set):
    approx = {(r.query_id, r.neighbor_id) for r in S.ivf_topk(emb, centroids=centroids).collect()}
    return len(approx & exact_set) / len(exact_set)


def test_training_is_deterministic(spark, emb):
    a = S.train_ivf_centroids(emb, iterations=2)
    b = S.train_ivf_centroids(emb, iterations=2)
    assert a == b


def test_trained_centroids_beat_seed_recall(spark, emb):
    exact = {(r.query_id, r.neighbor_id) for r in S.brute_force_topk(emb, None).collect()}
    seed_recall = _recall(spark, emb, None, exact)
    trained = S.train_ivf_centroids(emb, iterations=5)
    trained_recall = _recall(spark, emb, trained, exact)
    # measured at sf0.01: seed 0.160, trained 0.244 (random 64-dim
    # vectors + nprobe=1 is IVF's worst case; the bar has margin)
    assert trained_recall > seed_recall
    assert trained_recall >= 0.20

