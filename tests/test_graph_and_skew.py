"""Distributed connected components, skew-safe aggregation, and the
synthetic skewed-corpus generator (incl. end-to-end CTI-mode run)."""

import pytest

from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.datagen import synthesize_documents
from ctinexus_spark.graph.components import connected_components
from ctinexus_spark.model import StubModel
from ctinexus_spark.operators.fused import fused_kg
from ctinexus_spark.operators.normalize import normalize_documents
from ctinexus_spark.skew import salted_count, with_salt


class TestConnectedComponents:
    def test_two_components(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
        )
        got = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_chain_longer_than_checkpoint_interval(self, spark):
        # a 12-vertex path needs ~11 propagation rounds → exercises
        # the localCheckpoint lineage truncation
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "src bigint, dst bigint"
        )
        got = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 12

    def test_string_vertices(self, spark):
        edges = spark.createDataFrame(
            [("apt29", "cozy bear"), ("cozy bear", "the dukes"), ("akira", "akira_v2")],
            "src string, dst string",
        )
        got = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert got["the dukes"] == "apt29"
        assert got["akira_v2"] == "akira"


class TestContraction:
    """contract_edges: the partition-local union-find pre-pass must be
    label-invisible — same (vertex, component) output with and without
    it, same vertex universe."""

    @pytest.mark.parametrize("seed", [3, 41, 97])
    def test_pre_contract_matches_raw_minlabel(self, spark, seed):
        import random

        rng = random.Random(seed)
        edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(70)]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        with_c = {r.vertex: r.component for r in connected_components(df).collect()}
        without = {
            r.vertex: r.component
            for r in connected_components(df, pre_contract=False).collect()
        }
        assert with_c == without and with_c

    def test_contract_preserves_selfloop_only_vertices(self, spark):
        from ctinexus_spark.graph.components import contract_edges

        df = spark.createDataFrame(
            [(1, 2), (7, 7)], "src bigint, dst bigint"
        )
        out = contract_edges(df).collect()
        nodes = {r.src for r in out}
        assert nodes == {1, 2, 7}
        roots = {r.src: r.dst for r in out}
        assert roots == {1: 1, 2: 1, 7: 7}

    def test_contract_star_bucket_single_round(self, spark):
        # the funnel shape: a hub with many satellites lands in ONE
        # partition (partitioned by src) and collapses to a min-rooted
        # star in the pre-pass
        from ctinexus_spark.graph.components import contract_edges

        df = spark.createDataFrame(
            [(0, i) for i in range(1, 40)], "src bigint, dst bigint"
        )
        out = contract_edges(df).collect()
        assert all(r.dst == 0 for r in out)
        assert {r.src for r in out} == set(range(40))

    def test_string_vertices_contracted(self, spark):
        edges = spark.createDataFrame(
            [("apt29", "cozy bear"), ("cozy bear", "the dukes")],
            "src string, dst string",
        )
        got = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert got == {"apt29": "apt29", "cozy bear": "apt29", "the dukes": "apt29"}


class TestStarsComponents:
    """connected_components_stars: O(log² n) rounds regardless of
    diameter (Kiveris et al. large-star/small-star)."""

    @pytest.mark.parametrize("seed", [7, 23, 101])
    def test_matches_minlabel_on_random_graph(self, spark, seed):
        import random

        from ctinexus_spark.graph.components import connected_components_stars

        rng = random.Random(seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        a = {r.vertex: r.component for r in connected_components(df).collect()}
        b = {r.vertex: r.component for r in connected_components_stars(df).collect()}
        assert a == b and a

    def test_long_chain_beyond_minlabel_budget(self, spark):
        """A 121-vertex path: min-label needs ~120 rounds (raises at
        its 50-round budget); the star algorithm converges within its
        25-round default because folding is logarithmic in n."""
        import pytest

        from ctinexus_spark.graph.components import connected_components_stars

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(120)], "src bigint, dst bigint"
        )
        # pre_contract=False: raw min-label needs diameter rounds by
        # construction (with contraction the residual round count
        # depends on how hash partitioning scatters the path, which is
        # not what this test pins)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iterations=20, pre_contract=False)
        got = {r.vertex: r.component for r in connected_components_stars(edges).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 121

    def test_string_vertices_and_self_loops(self, spark):
        from ctinexus_spark.graph.components import connected_components_stars

        edges = spark.createDataFrame(
            [("apt29", "cozy bear"), ("cozy bear", "the dukes"),
             ("akira", "akira_v2"), ("lone", "lone")],
            "src string, dst string",
        )
        got = {r.vertex: r.component for r in connected_components_stars(edges).collect()}
        assert got["the dukes"] == "apt29"
        assert got["akira_v2"] == "akira"
        assert got["lone"] == "lone"


class TestSkew:
    def test_salt_range_and_determinism(self, spark):
        df = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string")
        a = {r.url: r._salt for r in with_salt(df, "url", buckets=8).collect()}
        b = {r.url: r._salt for r in with_salt(df, "url", buckets=8).collect()}
        assert a == b
        assert set(a.values()) <= set(range(8))
        assert len(set(a.values())) > 1

    def test_salted_count_matches_plain(self, spark):
        rows = [("hot.com", f"u{i}") for i in range(500)] + [
            (f"cold{i}.com", f"c{i}") for i in range(20)
        ]
        df = spark.createDataFrame(rows, "domain string, url string")
        salted = {r.domain: r.n for r in salted_count(df, "domain", "url", buckets=16).collect()}
        plain = {r.domain: r["count"] for r in df.groupBy("domain").count().collect()}
        assert salted == plain


class TestDatagen:
    def test_deterministic_and_skewed(self, spark):
        docs = synthesize_documents(spark, n_docs=800)
        again = synthesize_documents(spark, n_docs=800)
        assert sorted(map(str, docs.collect())) == sorted(map(str, again.collect()))
        by_domain = (
            docs.withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
            .groupBy("domain").count().collect()
        )
        counts = sorted((r["count"] for r in by_domain), reverse=True)
        assert counts[0] >= 10 * counts[-1]  # hot-domain skew
        langs = {r.lang for r in docs.select("lang").distinct().collect()}
        assert "fr" in langs
        assert docs.filter("text IS NULL AND html IS NOT NULL").count() > 0

    def test_hot_frac_layouts(self, spark):
        """hot_frac pins the hot-domain mass exactly (30% → domain 0)
        while hot_frac=0 spreads uniformly — the two bench corpora."""
        def domain_counts(docs):
            rows = (
                docs.withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
                .groupBy("domain").count().collect()
            )
            return {r.domain: r["count"] for r in rows}

        hot = domain_counts(synthesize_documents(spark, n_docs=1000, hot_frac=0.30))
        frac0 = hot.get("feeds0.example.com", 0) / 1000
        assert 0.25 <= frac0 <= 0.35
        uni = domain_counts(synthesize_documents(spark, n_docs=1000, hot_frac=0.0))
        assert max(uni.values()) <= 3 * (1000 / len(uni))
        # identical texts under both layouts (only the domain map moves)
        t_hot = sorted(r.text for r in synthesize_documents(spark, n_docs=100, hot_frac=0.30)
                       .select("text").collect() if r.text)
        t_uni = sorted(r.text for r in synthesize_documents(spark, n_docs=100, hot_frac=0.0)
                       .select("text").collect() if r.text)
        assert t_hot == t_uni

    def test_cti_pipeline_end_to_end_on_synthetic(self, spark):
        cfg = PipelineConfig()  # CTI mode: IOC-regex stub extraction
        docs = normalize_documents(synthesize_documents(spark, n_docs=60), lang_filter="en")
        kg = fused_kg(docs, StubModel(cfg), cfg)
        rows = kg.collect()
        assert rows
        objs = {r.obj for r in rows} | {r.subj for r in rows}
        assert any(o.startswith("CVE-") for o in objs)
        # null-text docs flow through the html fallback without error
        assert all(r.pred for r in rows)


def test_global_entity_resolution(spark):
    """Cross-document resolution: alias-linked texts collapse to one
    global id (min text), everything else resolves to itself."""
    from ctinexus_spark.config import PipelineConfig
    from ctinexus_spark.model import StubModel
    from ctinexus_spark.operators.resolve import global_entity_resolution

    ents = spark.createDataFrame(
        [("APT29",), ("Cozy Bear",), ("LockBit",), ("phishing",)],
        "entity_text string",
    )
    merged = global_entity_resolution(
        ents, StubModel(PipelineConfig(), alias_map={"Cozy Bear": "APT29"})
    )
    got = {(r.entity_text, r.global_id) for r in merged.collect()}
    assert got == {
        ("APT29", "APT29"), ("Cozy Bear", "APT29"),
        ("LockBit", "LockBit"), ("phishing", "phishing"),
    }

    identity = global_entity_resolution(ents, StubModel(PipelineConfig()))
    assert all(r.entity_text == r.global_id for r in identity.collect())


def test_grouped_map_stitched_whole_groups_across_batches(spark):
    """The shared stitched grouped-map must hand `process` only WHOLE
    key-groups even when a group straddles the Arrow batch cap: with
    maxRecordsPerBatch=4 and 7-row groups, every group straddles."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ctinexus_spark.partitioning import grouped_map_stitched

    df = spark.createDataFrame(
        [(f"g{i:02d}", j) for i in range(10) for j in range(7)],
        "k string, v int",
    )

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        return (
            pdf.groupby("k", sort=False)
            .agg(n=("v", "size"), s=("v", "sum"))
            .reset_index()
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got = grouped_map_stitched(df, "k", process, "k string, n bigint, s bigint")
        rows = got.collect()
    finally:
        spark.conf.set(key, prev)
    # one output row per group (no fragment rows), full counts/sums
    assert sorted((r.k, r.n, r.s) for r in rows) == [
        (f"g{i:02d}", 7, 21) for i in range(10)
    ]


