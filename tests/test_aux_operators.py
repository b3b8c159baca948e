"""Tests for the auxiliary SURVEY §2 operators: prompts, retry, URL
helpers, usage calculation, URL/HTML ingestion, random retriever."""

import pytest

from ctinexus_spark.metrics import calculate_usage
from ctinexus_spark.model import StubModel
from ctinexus_spark.operators.url_ingest import ingest_html
from ctinexus_spark.prompts import build_et_prompt, build_ie_prompt, build_link_prompt
from ctinexus_spark.retry import with_retry
from ctinexus_spark.text.urls import extract_domain, is_valid_url, normalize_url


class TestPrompts:
    def test_ie_prompt_carries_demos_and_query(self):
        msgs = build_ie_prompt("the report text", demos=[("demo text", [{"subject": "a", "relation": "r", "object": "b"}])])
        assert msgs[0]["role"] == "user"
        assert "the report text" in msgs[0]["content"]
        assert "demo text" in msgs[0]["content"]
        assert "Indicator: Hash" in msgs[0]["content"]

    def test_et_prompt_embeds_triples(self):
        msgs = build_et_prompt([{"subject": "X", "relation": "uses", "object": "Y"}])
        assert '"uses"' in msgs[0]["content"]

    def test_link_prompt_names_both_entities(self):
        msgs = build_link_prompt("text", "MainE", "TopicE")
        assert "MainE" in msgs[0]["content"] and "TopicE" in msgs[0]["content"]


class TestRetry:
    def test_succeeds_after_failures(self):
        calls = {"n": 0}

        @with_retry(max_attempts=5)
        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient")
            return "ok"

        assert flaky() == "ok"
        assert calls["n"] == 3

    def test_exhaustion_reraises(self):
        @with_retry(max_attempts=2)
        def broken():
            raise ValueError("permanent")

        with pytest.raises(ValueError, match="permanent"):
            broken()


class TestUrls:
    def test_normalize_adds_scheme(self):
        assert normalize_url(" example.com/x ") == "https://example.com/x"
        assert normalize_url("http://a.b") == "http://a.b"

    def test_validity(self):
        assert is_valid_url("https://example.com/p")
        assert not is_valid_url("ftp://example.com")
        assert not is_valid_url("https://bad host")

    def test_domain(self):
        assert extract_domain("https://Blog.Example.COM/x") == "blog.example.com"


class TestUsage:
    class _Resp:
        class usage:
            prompt_tokens = 100
            completion_tokens = 50

    def test_object_format(self):
        u = calculate_usage("gpt-4.1", self._Resp())
        assert u["input"]["tokens"] == 100
        assert u["total"]["cost"] == pytest.approx(100 * 2e-6 + 50 * 8e-6)

    def test_dict_format(self):
        u = calculate_usage("gpt-4.1", {"usage": {"prompt_tokens": 10, "completion_tokens": 5}})
        assert u["total"]["tokens"] == 15

    def test_unknown_format_zeroes(self):
        u = calculate_usage("nope", "garbage")
        assert u["total"]["tokens"] == 0 and u["total"]["cost"] == 0

    def test_table_covers_reference_models(self):
        """The price table carries the reference's full cost.json
        surface: every provider family, embedders output-free, local
        ollama models zero-cost."""
        from ctinexus_spark.metrics import TOKEN_PRICES

        assert len(TOKEN_PRICES) >= 46
        for family in ("gpt-4o", "o3", "anthropic.claude-3-5-haiku",
                       "amazon.nova-pro-v1:0", "deepseek.r1-v1:0",
                       "meta.llama3-1-70b-instruct-v1:0",
                       "gemini-2.0-flash", "text-embedding-3-small",
                       "llama3.1:8b"):
            assert family in TOKEN_PRICES, family
        for name, (i, o) in TOKEN_PRICES.items():
            assert i >= 0.0 and o >= 0.0
            if "embed" in name:
                assert o == 0.0, f"embedder {name} should have no output price"
            if ":" in name and not name.startswith(("amazon.", "meta.", "mistral.", "deepseek.")):
                assert (i, o) == (0.0, 0.0), f"local model {name} should be free"

    @pytest.mark.parametrize(
        "model,expected",
        [("anthropic.claude-3-5-haiku", 100 * 8e-07 + 50 * 4e-06),
         ("o3-pro", 100 * 2e-05 + 50 * 8e-05),
         ("amazon.nova-micro-v1:0", 100 * 3.5e-08 + 50 * 1.4e-07),
         ("qwen2.5:7b", 0.0)],
    )
    def test_priced_models_cost_out(self, model, expected):
        u = calculate_usage(model, self._Resp())
        assert u["total"]["cost"] == pytest.approx(expected)
        assert u["total"]["tokens"] == 150


HTML = (
    "<html><head>"
    '<script type="application/ld+json">{"articleBody": '
    '"Akira ransomware encrypted the fileservers. The actor exploited CVE-2023-1234 on the VPN. '
    'Data was exfiltrated over Tor before encryption. Recovery required offline backups."}'
    "</script></head><body></body></html>"
)


def test_ingest_html(spark):
    df = spark.createDataFrame(
        [("u1", bytearray(HTML.encode()))], "url string, html binary"
    )
    rows = ingest_html(df, StubModel()).collect()
    (r,) = rows
    assert "Akira ransomware" in r.extracted_text
    assert r.summary and not r.summary_repaired
    assert r.summary.count(".") >= 3  # 3-6 sentence paragraph


def test_ingest_html_null_bytes(spark):
    df = spark.createDataFrame([("u2", None)], "url string, html binary")
    rows = ingest_html(df, StubModel()).collect()
    assert rows[0].extracted_text == ""
    # empty focus → stub pads to a compliant paragraph either way
    assert rows[0].summary


def test_barrier_prefers_reliable_checkpoint_when_dir_set(spark, monkeypatch):
    """barrier() = localCheckpoint in local mode, but must switch to
    reliable .checkpoint() when the session has a checkpoint dir (so
    clustered runs survive executor loss — ADVICE round-2 #4)."""
    from ctinexus_spark.partitioning import barrier

    df = spark.createDataFrame([(1,)], "x int")
    cls = type(df)  # Spark 4: the classic DataFrame subclass
    calls = []
    monkeypatch.setattr(
        cls, "checkpoint", lambda self, eager=True: calls.append("reliable") or self
    )
    monkeypatch.setattr(
        cls, "localCheckpoint", lambda self, eager=True: calls.append("local") or self
    )

    assert spark.sparkContext.getCheckpointDir() is None
    barrier(df)
    assert calls == ["local"]

    monkeypatch.setattr(
        type(spark.sparkContext), "getCheckpointDir", lambda self: "/tmp/ckpt", raising=False
    )
    barrier(df)
    assert calls == ["local", "reliable"]


def test_star_edges_component_equivalent_to_pair_edges(spark):
    """lsh_star_edges (linear per bucket) must induce EXACTLY the same
    connected components as the quadratic pair join — the keep-list
    funnel's correctness hinges on this equivalence."""
    from pyspark.sql import functions as F

    from ctinexus_spark.graph.components import connected_components
    from ctinexus_spark.operators.dedup import lsh_candidates, lsh_star_edges

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = []
    for i in range(12):  # 12 near-identical docs → one fat cluster
        rows.append((i, base + f" tail{i % 2}"))
    rows += [(100 + i, f"totally different document number {i} with words "
              + " ".join(f"w{i}{j}" for j in range(20))) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    pair_edges = lsh_candidates(docs)
    star_edges = lsh_star_edges(docs)
    a = {r.vertex: r.component for r in connected_components(pair_edges, "a_id", "b_id").collect()}
    b = {r.vertex: r.component for r in connected_components(star_edges, "a_id", "b_id").collect()}
    assert a == b and a, (a, b)
    # and the star set is strictly smaller on the fat cluster
    assert star_edges.count() < pair_edges.count()


def test_hub_contraction_keep_list_equivalent(spark):
    """dedup_keep_list's hub-graph contraction (CC over one vertex per
    ≥2-member bucket) must produce EXACTLY the member-level star-edge
    keep list — the cluster-min argument: a cluster's global min member
    is itself some bucket's hub, so component minima coincide. Corpus
    mixes chained near-dup clusters (via shared buckets), singleton
    docs, and too-short docs."""
    from ctinexus_spark.operators.dedup import dedup_keep_list

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(i, base + f" tail{i % 3}") for i in range(15)]
    rows += [(100 + i, f"unique document {i} " + " ".join(f"w{i}{j}" for j in range(20)))
             for i in range(6)]
    rows += [(200, "too short"), (201, "too short")]  # shingle-less: both kept
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {r.doc_id for r in dedup_keep_list(docs, contract_hubs=True).collect()}
    b = {r.doc_id for r in dedup_keep_list(docs, contract_hubs=False).collect()}
    assert a == b, (sorted(a - b), sorted(b - a))
    assert {200, 201} <= a  # band-less docs survive the LSH funnel
    # exact text twins (i and i+3 share tail i%3) collapse to the min id
    assert 0 in a and not ({3, 4, 5} & a)


def test_semantic_dedup_keeps_min_id_per_cluster(spark):
    """SemDeDup keep-list: near-identical embedding groups collapse to
    their min id; singletons survive untouched."""
    import numpy as np

    from ctinexus_spark.operators.dedup import semantic_dedup_keeplist

    rng = np.random.RandomState(7)

    def unit(v):
        v = np.asarray(v, dtype=float)
        return (v / np.linalg.norm(v)).tolist()

    base_a, base_b = rng.randn(64), rng.randn(64)
    rows = []
    for i in range(3):  # cluster A: ids 10,11,12 (tiny jitter)
        rows.append((10 + i, unit(base_a + 0.01 * rng.randn(64))))
    for i in range(2):  # cluster B: ids 20,21
        rows.append((20 + i, unit(base_b + 0.01 * rng.randn(64))))
    for i in range(4):  # singletons: random directions
        rows.append((30 + i, unit(rng.randn(64))))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    kept = {r.vec_id for r in semantic_dedup_keeplist(emb, threshold=0.95).collect()}
    assert kept == {10, 20, 30, 31, 32, 33}, kept


def test_incremental_dedup_admits_against_stored_index(spark):
    """Daily-crawl admission: batch-2 docs near-duplicating an ADMITTED
    doc are rejected by one index equi-join (first-come wins — no
    resketching of the corpus); within-batch dups collapse to min id;
    fresh docs are admitted with their bands ready to append."""
    from pyspark.sql import functions as F

    from ctinexus_spark.operators.dedup import (
        dedup_keep_list,
        dedup_keep_list_incremental,
        lsh_bands,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    mk = lambda i, extra: (i, base + " " + extra)
    batch1 = spark.createDataFrame(
        [mk(1, "one"), (2, "a completely different document " + " ".join(f"q{j}" for j in range(20)))],
        "doc_id bigint, text string",
    )
    admitted = dedup_keep_list(batch1)
    assert {r.doc_id for r in admitted.collect()} == {1, 2}
    index = lsh_bands(batch1.join(admitted, "doc_id"))

    batch2 = spark.createDataFrame(
        [
            mk(10, "ten"),     # near-dup of admitted doc 1 → rejected
            (11, "another fresh unrelated text " + " ".join(f"z{j}" for j in range(20))),
            (12, "another fresh unrelated text " + " ".join(f"z{j}" for j in range(20))),  # dup of 11
            (13, "tiny"),      # < 3 tokens: no shingles → fingerprint channel
            (14, "tiny"),      # exact dup of 13 within the batch → dropped
        ],
        "doc_id bigint, text string",
    )
    out = dedup_keep_list_incremental(batch2, index)
    admitted2 = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert admitted2 == {11, 13}, admitted2
    # the shingle-less winner appears once: NULL bands, fingerprint set
    r13 = [r for r in out.collect() if r.doc_id == 13]
    assert len(r13) == 1 and r13[0].band_idx is None and r13[0].band_key is None
    assert r13[0].fingerprint is not None
    # banded rows carry NULL fingerprints (band/fingerprint state split)
    assert all(r.fingerprint is None for r in out.collect() if r.doc_id == 11)
    assert set(out.columns) == {"doc_id", "band_idx", "band_key", "fingerprint"}
    # append + re-probe: doc 11's own near-dup is rejected by the band
    # index, and an exact dup of the admitted SHORT doc is rejected by
    # the stored fingerprint set (the empty/boilerplate-page case the
    # LSH funnel is structurally blind to)
    index2 = index.unionByName(
        out.filter(F.col("band_key").isNotNull()).select("doc_id", "band_idx", "band_key")
    )
    fps = out.filter(F.col("fingerprint").isNotNull()).select("fingerprint")
    batch3 = spark.createDataFrame(
        [(20, "another fresh unrelated text " + " ".join(f"z{j}" for j in range(20))),
         (21, "tiny")],
        "doc_id bigint, text string",
    )
    assert dedup_keep_list_incremental(batch3, index2, index_fingerprints=fps).count() == 0
    # without the stored fingerprint set the short dup would be re-admitted
    assert dedup_keep_list_incremental(batch3, index2).count() == 1
