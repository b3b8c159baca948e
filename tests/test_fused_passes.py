"""fused_kg reads the corpus once: the link branch is skipped when the
barrier observes no main pair, and otherwise re-reads and re-normalizes
only the documents whose url has a pair. The KG entry queries leave no
cached corpus behind. Each Python pass runs one task per core slot, and
the IE/ET UDF is chained onto the normalize UDF in one Python worker."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ctinexus_spark import entry_queries as eq
from ctinexus_spark.model import SplitChainModel, StubModel
from ctinexus_spark.operators import normalize
from ctinexus_spark.operators.fused import TYPED_SCHEMA, extract_and_tag, fused_kg
from ctinexus_spark.operators.ie import extract_triples
from ctinexus_spark.operators.normalize import normalize_documents


def plan_tree(df) -> list[str]:
    """The operator tree of the formatted physical plan, top-down."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return plan.split("\n\n", 1)[0].splitlines()


def plan_lines(df) -> list[str]:
    """The simple physical plan, one operator (with its expressions) a line."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple").splitlines()


@pytest.fixture(autouse=True)
def uncached(spark):
    # an earlier test's cached normalize plan would stand in for the UDF
    spark.catalog.clearCache()


@pytest.fixture
def normalize_rows(spark, monkeypatch):
    """An accumulator counting the rows the normalize UDF sees."""
    rows = spark.sparkContext.accumulator(0)
    batch = normalize._normalize_batch

    def counting(text: pd.Series, html: pd.Series) -> pd.Series:
        rows.add(len(text))
        return batch(text, html)

    monkeypatch.setattr(normalize, "_normalize_batch", counting)
    return rows


def _docs(spark):
    """100 driver-corpus documents. In lexicon mode StubModel makes each
    one a single chain (no main pair); SplitChainModel splits each into
    two chains, which gives a few of them a main pair. Read from parquet:
    over a small in-memory frame AQE may drop a link join whose pair side
    is empty before its docs side runs, which would hide a second pass."""
    raw = eq.load_documents(spark, "/root/testdata/sf0.001").filter(F.col("url").cast("int") < 100)
    return normalize_documents(raw, lang_filter=None)


def test_no_pair_corpus_normalizes_each_document_once(spark, normalize_rows):
    kg = fused_kg(_docs(spark), StubModel(eq.CONFIG), eq.CONFIG)
    kg.write.format("noop").mode("overwrite").save()
    assert normalize_rows.value == 100
    assert kg.filter(F.col("source") == "predicted").count() == 0


def test_pair_corpus_renormalizes_only_pair_documents(spark, normalize_rows):
    kg = fused_kg(_docs(spark), SplitChainModel(eq.CONFIG), eq.CONFIG)
    kg.write.format("noop").mode("overwrite").save()
    seen = normalize_rows.value
    # every pair is answered in orientation, so the predicted rows'
    # urls are exactly the urls that have a main pair
    pair_urls = kg.filter(F.col("source") == "predicted").select("url").distinct().count()
    assert 0 < pair_urls < 100
    assert seen == 100 + pair_urls


def test_no_pair_plan_has_no_link_branch(spark):
    tree = plan_tree(fused_kg(_docs(spark), StubModel(eq.CONFIG), eq.CONFIG))
    assert not any("ArrowEvalPython" in ln or "BroadcastExchange" in ln for ln in tree), tree


def test_pair_url_semi_join_sits_below_normalize_udf(spark):
    tree = plan_tree(fused_kg(_docs(spark), SplitChainModel(eq.CONFIG), eq.CONFIG))
    udf = [i for i, ln in enumerate(tree) if "ArrowEvalPython" in ln]
    semi = [i for i, ln in enumerate(tree) if "Join LeftSemi" in ln]
    # one normalize pass on the link branch, with the pair-url filter under it
    assert len(udf) == 1 and len(semi) == 1, "\n".join(tree)
    assert udf[0] < semi[0], "\n".join(tree)


def test_no_pair_run_job_count(spark):
    """The barrier job carries the pair count (DataFrame.observe), so a
    corpus without pairs runs no link job: 5 jobs from the documents
    to the sink."""
    sc = spark.sparkContext
    kg = fused_kg(_docs(spark), StubModel(eq.CONFIG), eq.CONFIG)
    kg.write.format("noop").mode("overwrite").save()  # warm the session

    group = "fused-kg-no-pairs"
    sc.setJobGroup(group, "fused_kg job count")
    try:
        kg = fused_kg(_docs(spark), StubModel(eq.CONFIG), eq.CONFIG)
        kg.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5


def test_kg_entry_queries_leave_no_cached_corpus(spark, tmp_path):
    """The KG entry queries cache nothing: a leftover cached corpus would
    serve a later query's normalized documents by plan match and grow
    with every call."""
    texts = ["spark join filter table then query sort merge window",
             "hash scan row batch and key value stream vector"]
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], "doc_id bigint, text string, lang string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    for q in (eq.q_kg_triples, eq.q_lp_links_flaky):
        assert q(spark, str(tmp_path)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("extract, udf_name", [(extract_and_tag, "extract_tag"), (extract_triples, "extract")])
def test_extract_udf_chains_onto_normalize_udf(spark, extract, udf_name):
    """One ArrowEvalPython evaluates extract(normalize(text, html)): each
    task starts one Python worker. explode_outer keeps Catalyst from
    inferring a size() filter that would run the UDF chain twice."""
    lines = plan_lines(extract(_docs(spark), StubModel(eq.CONFIG)))
    udfs = [ln for ln in lines if "ArrowEvalPython" in ln]
    assert len(udfs) == 1, "\n".join(lines)
    assert f"{udf_name}(_normalize_batch(" in udfs[0], udfs[0]
    assert not any("MapInPandas" in ln for ln in lines), "\n".join(lines)
    assert not any("Filter" in ln and "size(" in ln for ln in lines), "\n".join(lines)


def test_extract_and_tag_schema_is_typed_schema(spark):
    typed = extract_and_tag(_docs(spark), StubModel(eq.CONFIG)).schema
    want = spark.createDataFrame([], TYPED_SCHEMA).schema
    assert [(f.name, f.dataType) for f in typed] == [(f.name, f.dataType) for f in want]


def test_python_passes_run_one_task_per_core_slot(spark):
    """A warm fused_kg runs its IE/ET stage (the map side of the url
    shuffle) and its align stage (the barrier's localCheckpoint) with
    one task per core slot: a second wave, or an align pass coalesced
    to one task, pays the per-task Python start-up again or serializes
    the pass onto one core."""
    sc = spark.sparkContext
    kg = fused_kg(_docs(spark), StubModel(eq.CONFIG), eq.CONFIG)
    kg.write.format("noop").mode("overwrite").save()  # warm the session

    group = "fused-kg-task-counts"
    sc.setJobGroup(group, "fused_kg stage task counts")
    try:
        kg = fused_kg(_docs(spark), StubModel(eq.CONFIG), eq.CONFIG)
        kg.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stage_ids = sorted(
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    )
    # stages that ran tasks (a stage whose shuffle output is reused is skipped)
    ran = [st for st in map(tracker.getStageInfo, stage_ids) if st.numCompletedTasks > 0]
    align = next(i for i, st in enumerate(ran) if st.name.startswith("localCheckpoint"))
    ie_et = ran[align - 1]
    assert (ie_et.numTasks, ran[align].numTasks) == (sc.defaultParallelism,) * 2, ran


@pytest.mark.parametrize("slots, shuffle", [(3, "hashpartitioning(url#*, 3), REPARTITION_BY_NUM"),
                                            (None, "REPARTITION_BY_COL")])
def test_grouped_map_pins_core_slots_or_stays_coalescible(spark, monkeypatch, slots, shuffle):
    """The url shuffle is pinned to the core-slot count; without one (Spark
    Connect) it stays a bare repartition that AQE may coalesce, rather
    than a pinned guess."""
    import fnmatch

    from ctinexus_spark import partitioning

    monkeypatch.setattr(partitioning, "core_slots", lambda s: slots)
    rows = spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, n int")
    out = partitioning.grouped_map_stitched(rows, "url", lambda pdf: pdf, rows.schema)
    exchanges = [ln for ln in plan_lines(out) if "Exchange" in ln]
    assert len(exchanges) == 1 and fnmatch.fnmatch(exchanges[0], f"*{shuffle}*"), exchanges
    assert sorted(out.collect()) == sorted(rows.collect())
