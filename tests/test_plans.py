"""Physical-plan shape assertions — the .explain() discipline as
tests: filters reach the parquet scan, small query sets broadcast,
scale queries plan no nested loops, the fused pipeline keeps its
shuffle budget."""

import pytest
from pyspark.sql import functions as F

from ctinexus_spark import dataset_queries as dq
from ctinexus_spark import entry_queries as eq

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_lang_filter_pushed_to_scan(spark):
    from ctinexus_spark.operators.normalize import normalize_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed("doc_id", "url")
    plan = plan_of(normalize_documents(docs, lang_filter="en"))
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan


def test_ann_broadcasts_query_side(spark):
    plan = plan_of(dq.q_ann_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


QUADRATIC_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.mark.parametrize(
    "qname",
    ["emb_cosine_pairs", "knn_vote", "shingle_overlap", "lsh_candidates",
     "lsh_topk", "ivf_topk", "dedup_exact", "minhash", "simhash",
     "decontaminate", "line_dedup", "domain_cap", "dup_grams", "cdc_chunks",
     "jaccard_pairs", "kg_entity_cooc"],
)
def test_no_quadratic_plan_in_scale_queries(spark, qname):
    """Every headline dedup/similarity query must plan as equi joins.
    Exception, checked structurally: a BroadcastNestedLoopJoin whose
    build side is a KEYLESS global aggregate (guaranteed one row —
    scalar-totals attachment, e.g. kg_entity_cooc's document total) is
    the optimal plan at any scale and is allowed; every other BNLJ (or
    any CartesianProduct) fails. (Round-1 verdict: the brute all-pairs
    variants are test-only baselines.)"""
    import re

    # per-query BNLJ allowance: ONLY the scalar-totals attachments we
    # know are one-row builds. Any additional BNLJ — e.g. a regression
    # introducing a data-sized nested-loop build — exceeds the exact
    # budget and fails, restoring the per-node strictness the old
    # blanket ban had.
    BNLJ_BUDGET = {
        # corpus doc-total N attaches as a keyless 1-row build
        "kg_entity_cooc": 1,
    }

    if qname in dq.QUERIES:
        fn = dq.QUERIES[qname]
    else:  # entry-side registry (e.g. kg_entity_cooc)
        from ctinexus_spark import entry_queries as _eq

        fn = _eq.QUERIES[qname]
    plan = plan_of(fn(spark, SF))
    assert "CartesianProduct" not in plan, f"{qname} plans a CartesianProduct:\n{plan}"
    # count physical nodes via their "(id) Name" detail headers — the
    # formatted plan also names every node once in the tree sketch
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    budget = BNLJ_BUDGET.get(qname, 0)
    assert n_bnlj <= budget, (
        f"{qname} plans {n_bnlj} BroadcastNestedLoopJoin(s), budget {budget}:\n{plan}"
    )
    if n_bnlj:
        # and the allowed ones must ride on keyless (one-row) aggregates
        n_keyless_aggs = len(re.findall(r"Keys: \[\]", plan))
        assert n_keyless_aggs >= n_bnlj, (
            f"{qname}: BNLJ without keyless-aggregate build sides:\n{plan}"
        )


def test_brute_topk_no_full_table_broadcast(spark):
    """All-pairs brute_force_topk (test-only baseline) must not emit a
    broadcast hint on the full table; explicit small query sets DO
    broadcast (covered by test_ann_broadcasts_query_side)."""
    from ctinexus_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(S.brute_force_topk(emb, None))
    assert "ResolvedHint" not in plan
    logical = emb._sc._jvm.PythonSQLUtils.explainString(
        S.brute_force_topk(emb, None)._jdf.queryExecution(), "extended"
    )
    assert "broadcast" not in logical.split("== Physical Plan ==")[0].lower()


def test_lsh_candidates_caps_degenerate_buckets(spark):
    """A degenerate band bucket (here: hundreds of identical docs)
    must be dropped by the bucket cap instead of exploding into n²/2
    candidate pairs."""
    from ctinexus_spark.operators.dedup import lsh_candidates

    rows = [(i, "the same text repeated three times over") for i in range(50)]
    rows += [(100, "a unique document body with many distinct tokens here"),
             (101, "a unique document body with many distinct tokens here")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    capped = lsh_candidates(docs, max_bucket=10)
    got = {(r.a_id, r.b_id) for r in capped.collect()}
    assert got == {(100, 101)}  # the 50-dup bucket exceeded the cap
    uncapped = lsh_candidates(docs, max_bucket=10_000)
    assert uncapped.count() == 50 * 49 // 2 + 1


@pytest.mark.parametrize("qname", ["lsh_topk", "ivf_topk", "knn_vote", "simhash_candidates"])
def test_ann_topk_plans_carry_bucket_cap(spark, qname):
    """Every bucket self-join (ANN top-k, SimHash banding) must include
    the degenerate-group guard (cap_buckets' `_bucket_n <= cap`
    filter) — a hot LSH bucket / IVF cell / SimHash chunk is dropped
    instead of exploding into n² in-group pairs."""
    plan = plan_of(dq.QUERIES[qname](spark, SF))
    assert "_bucket_n" in plan, f"{qname} plan has no bucket-size guard:\n{plan}"


def test_lsh_topk_caps_degenerate_buckets(spark):
    """40 identical vectors land in one bucket; at max_bucket=10 that
    bucket is dropped from both sides, so none of them appears as a
    query or neighbor — the same contract as lsh_candidates."""
    from ctinexus_spark.model import stub_embedding
    from ctinexus_spark.operators import similarity as S

    rows = [(i, stub_embedding("hot bucket text").tolist()) for i in range(40)]
    rows += [(100 + j, stub_embedding(f"cold {j}").tolist()) for j in range(3)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    capped = S.lsh_topk(emb, k=2, max_bucket=10)
    assert capped.filter("query_id < 100 or neighbor_id < 100").count() == 0
    uncapped = S.lsh_topk(emb, k=2, max_bucket=1000)
    assert uncapped.filter("query_id < 100").count() == 40 * 2


def test_ivf_topk_caps_hot_cells(spark):
    """30 identical vectors overload one IVF cell; at max_cell=10 they
    are dropped from the candidate side (no neighbor_id among them),
    while nprobe=2 lets their queries still reach a second cell."""
    from ctinexus_spark.model import stub_embedding
    from ctinexus_spark.operators import similarity as S

    rows = [(i, stub_embedding("hot cell text").tolist()) for i in range(30)]
    rows += [(100 + j, stub_embedding(f"spread {j}").tolist()) for j in range(8)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    capped = S.ivf_topk(emb, k=3, max_cell=10)
    assert capped.filter("neighbor_id < 100").count() == 0
    uncapped = S.ivf_topk(emb, k=3, max_cell=10_000)
    assert uncapped.filter("neighbor_id < 100").count() > 0


def test_ivf_probe_list_extends_assignment(spark):
    """The multi-probe list's first entry must equal the ivf_assign
    cell (same GEMM, same tie rule), and nprobe=2 yields two distinct
    cells per query."""
    import numpy as np
    from pyspark.sql import functions as F

    from ctinexus_spark.model import stub_embedding
    from ctinexus_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, stub_embedding(f"probe {i}").tolist()) for i in range(50)],
        "vec_id int, embedding array<float>",
    )
    cents = np.asarray(S.ivf_centroids(), dtype=np.float64)
    probed = emb.select(
        "vec_id", S._probe_udf(cents, 2)(F.col("embedding")).alias("probe_cells")
    )
    assign = S.ivf_assign(emb)
    joined = probed.join(assign, "vec_id").collect()
    assert len(joined) == 50
    for r in joined:
        assert r.probe_cells[0] == r.cell
        assert len(set(r.probe_cells)) == 2


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set is the small side: it must broadcast
    (one linear probe of the corpus), never shuffle the 100 TB side
    into a SortMergeJoin on the gram key."""
    plan = plan_of(dq.QUERIES["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    gram_join_lines = [
        ln for ln in plan.splitlines() if "SortMergeJoin" in ln and "_gh" in ln
    ]
    assert not gram_join_lines, plan


def test_pack_plan_no_shard_only_window_over_rows(spark):
    """pack_documents must not cumsum with a window partitioned solely
    by shard over the row-level data — with O(10) source shards at
    100 TB that is one multi-TB sorting task per shard.  The row-level
    cumsum window must carry _pid (range-partition id) in its partition
    spec; the only shard-only window allowed is the per-(shard,
    partition) offsets cumsum over the tiny aggregated table, which
    orders by _pid alone."""
    import re

    plan = plan_of(dq.QUERIES["pack_plan"](spark, SF))
    specs = re.findall(
        r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan
    )
    assert specs, plan
    for spec in specs:
        if re.match(r"^shard#\d+, ", spec):
            # shard-only partition spec: must be the offsets cumsum,
            # i.e. ordered by the partition id, not by row-level keys
            assert "_pid#" in spec and "doc_id#" not in spec, spec
        else:
            assert spec.startswith("_pid#"), spec
    # offsets join back to rows must broadcast the tiny side
    assert "BroadcastHashJoin" in plan


def test_line_dedup_no_join_on_line_hash(spark):
    """The winner struct carries (id, line_idx, line), so there must be
    NO join keyed on the line hash — a billion-fold boilerplate line
    would concentrate every probe-side copy on one join partition. The
    only join left is the per-doc left join on the (unique) doc id;
    the hot key is collapsed map-side by the partial aggregate."""
    plan = plan_of(dq.QUERIES["line_dedup"](spark, SF))
    hash_join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "_h" in ln
    ]
    assert not hash_join_lines, hash_join_lines
    # the winners aggregation is partial: an aggregate on both sides of
    # its exchange (map-side combine eats the hot line before shuffle)
    assert plan.count("Aggregate") >= 2


def test_fused_pipeline_shuffle_budget(spark):
    """The fused align pass must introduce exactly one Exchange on top
    of its input (the url repartition) — no hidden extra shuffles."""
    from ctinexus_spark.config import PipelineConfig
    from ctinexus_spark.model import StubModel
    from ctinexus_spark.operators.fused import align_graph_triples, extract_and_tag
    from ctinexus_spark.operators.normalize import normalize_documents

    # cached plans from earlier tests (persisted pipeline stages)
    # substitute InMemoryRelations into this lineage and change the
    # exchange count — measure the clean plan
    spark.catalog.clearCache()
    cfg = PipelineConfig(lexicon=eq.LEXICON)
    docs = normalize_documents(eq.load_documents(spark, SF), lang_filter=None)
    typed = extract_and_tag(docs, StubModel(cfg))
    fused = align_graph_triples(typed, StubModel(cfg), cfg)
    import re

    plan = plan_of(fused)
    nodes = [
        ln.strip() for ln in plan.splitlines()
        if re.match(r"\(\d+\) (ShuffleExchange|Exchange)", ln.strip())
    ]
    # 1 = repartition("url") for the align pass; the docs-repartition
    # in normalize_documents adds one more when the input is under-split
    assert len(nodes) <= 2, plan


def test_dynamic_partition_pruning_on_partitioned_corpus(spark, tmp_path):
    """A lang-partitioned corpus joined against a filtered dimension
    must plan a dynamicpruning partition filter — at 100 TB the scan
    reads only the joined languages' partitions, decided at runtime."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    part_path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(part_path)

    fact = spark.read.parquet(part_path)
    dim = spark.createDataFrame(
        [("en", "keep"), ("fr", "keep"), ("de", "drop")], "lang string, verdict string"
    )
    joined = fact.join(dim.filter(F.col("verdict") == "keep"), "lang").select("doc_id", "lang")
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == fact.filter(F.col("lang").isin("en", "fr")).count()
