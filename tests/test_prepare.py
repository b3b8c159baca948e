"""Corpus-preparation combinator tests."""

from ctinexus_spark.operators.prepare import dedupe_by_key, exact_text_dedupe, quality_gate


def test_quality_gate_filters(spark):
    rows = [
        (1, "a good long document with many distinct useful tokens present here today"),
        (2, "the the the the the the the the the the"),  # all stopwords
        (3, "x"),  # too short
        (4, None),  # null
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = {r.doc_id for r in quality_gate(df, min_tokens=5).collect()}
    assert kept == {1}


def test_dedupe_by_key_keeps_one(spark):
    rows = [("u1", "a"), ("u1", "b"), ("u2", "c")]
    df = spark.createDataFrame(rows, "url string, text string")
    got = dedupe_by_key(df, "url")
    assert got.count() == 2
    assert {r.url for r in got.collect()} == {"u1", "u2"}
    # deterministic winner across runs
    a = sorted(map(str, got.collect()))
    b = sorted(map(str, dedupe_by_key(df, "url").collect()))
    assert a == b


def test_exact_text_dedupe_min_id_wins(spark):
    rows = [(5, "same text"), (2, "same text"), (9, "other")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id for r in exact_text_dedupe(df).collect()}
    assert got == {2, 9}


def test_stratified_sample_quotas(spark):
    from ctinexus_spark.operators.prepare import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string")
    got = stratified_sample(docs, "lang", {"en": 0.1, "fr": 0.5})
    by = {r.lang: r["count"] for r in got.groupBy("lang").count().collect()}
    assert 0.05 < by.get("en", 0) / 1000 < 0.15
    assert 0.4 < by.get("fr", 0) / 1000 < 0.6
    # default_frac=0 drops unmapped strata entirely; deterministic
    assert stratified_sample(docs, "lang", {"en": 0.1}).filter("lang='fr'").count() == 0
    a = sorted(r.doc_id for r in got.collect())
    b = sorted(r.doc_id for r in stratified_sample(docs, "lang", {"en": 0.1, "fr": 0.5}).collect())
    assert a == b


def test_mixture_plan_weighted_prefixes(spark):
    """A weight-2 source must appear ~twice as often as a weight-1
    source in every schedule prefix, and ranks must be a dense global
    permutation (the offset-based rank matches a naive global sort)."""
    from ctinexus_spark.operators.prepare import mixture_plan

    rows = [(i, "heavy") for i in range(300)] + [(1000 + i, "light") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = mixture_plan(docs, {"heavy": 2.0, "light": 1.0}).collect()
    assert sorted(r.mix_rank for r in got) == list(range(1, 601))
    prefix = [r.source for r in sorted(got, key=lambda r: r.mix_rank)[:90]]
    n_heavy = prefix.count("heavy")
    assert 50 <= n_heavy <= 70  # ~2:1 interleave (60 expected)


def test_mixture_plan_matches_naive_global_rank(spark):
    """The offset-based global rank (range-repartition + broadcast
    cumulative counts) must equal a naive single-window global
    row_number over the same total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ctinexus_spark.operators.prepare import mixture_plan

    rows = [(i, f"s{i % 5}") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string")
    weights = {"s0": 3.0, "s1": 2.0, "s2": 1.5}
    got = {r.doc_id: r.mix_rank for r in mixture_plan(docs, weights).collect()}

    wsrc = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    wmap = F.create_map(*[x for k, v in weights.items() for x in (F.lit(k), F.lit(v))])
    pos = F.row_number().over(wsrc).cast("double") / F.coalesce(wmap[F.col("source")], F.lit(1.0))
    naive = (
        docs.withColumn("_pos", pos)
        .withColumn("mix_rank", F.row_number().over(Window.orderBy("_pos", "source", "doc_id")))
    )
    expected = {r.doc_id: r.mix_rank for r in naive.collect()}
    assert got == expected


def test_chunk_documents_coverage_and_overlap(spark):
    from ctinexus_spark.operators.prepare import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame([(1, text), (2, "short doc")], "doc_id int, text string")
    got = sorted(chunk_documents(docs).collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    one = [r for r in got if r.doc_id == 1]
    assert [r.n_tokens for r in one] == [64, 52]
    # consecutive chunks share exactly `overlap`=16 tokens
    a, b = one[0].chunk_text.split(" "), one[1].chunk_text.split(" ")
    assert a[-16:] == b[:16]
    assert b[-1] == "t99"  # full coverage
    short = [r for r in got if r.doc_id == 2]
    assert len(short) == 1 and short[0].n_tokens == 2


def test_pack_documents_contiguous_blocks(spark):
    from ctinexus_spark.operators.prepare import pack_documents

    docs = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * 100)) for i in range(10)],
        "doc_id int, source string, text string",
    )
    got = sorted(pack_documents(docs, budget_tokens=256).collect(),
                 key=lambda r: r.start_offset)
    # offsets are the exact cumulative layout: 0,100,...,900
    assert [r.start_offset for r in got] == [i * 100 for i in range(10)]
    assert [r.pack_id for r in got] == [i * 100 // 256 for i in range(10)]
    assert all(r.n_tokens == 100 for r in got)


def test_line_dedup_hot_line_across_corpus(spark):
    """One boilerplate line repeated across 30% of documents (the
    'enable JavaScript' shape): the job completes without routing every
    copy through one partition (the winners aggregate combines it
    map-side) and only the first occurrence survives."""
    from ctinexus_spark.operators.prepare import line_dedup

    hot = "please enable javascript to view this page"
    rows = []
    for i in range(300):
        body = f"unique line {i} alpha\nunique line {i} beta"
        rows.append((i, f"{hot}\n{body}" if i % 3 == 0 else body))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert len(got) == 300
    # doc 0 is the lexicographic first (id, idx) holder of the hot line
    assert got[0].kept_text.startswith(hot) and got[0].n_kept == 3
    # every other hot-line doc loses exactly that one line
    for i in range(3, 300, 3):
        assert got[i].n_lines == 3 and got[i].n_kept == 2, i
        assert hot not in got[i].kept_text
    # non-hot docs keep everything
    assert got[1].n_kept == 2 and got[1].n_lines == 2


def test_pack_documents_multi_shard_cross_partition(spark):
    """The range-repartitioned cumsum must equal the per-shard global
    cumsum even when a shard spans several range partitions."""
    import hashlib

    from ctinexus_spark.operators.prepare import pack_documents

    rows = [(i, f"s{i % 3}", " ".join(["w"] * (10 + i % 7))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id int, source string, text string")
    got = {r.doc_id: r for r in pack_documents(docs, budget_tokens=64).collect()}
    # reference layout: per shard, md5(id) order, running token offsets
    by_shard = {}
    for i, src, text in rows:
        by_shard.setdefault(src, []).append((hashlib.md5(str(i).encode()).hexdigest(), i, len(text.split(" "))))
    for src, items in by_shard.items():
        cum = 0
        for _, i, n in sorted(items):
            r = got[i]
            assert (r.shard, r.start_offset, r.pack_id, r.n_tokens) == (
                src, cum, cum // 64, n), (i, r)
            cum += n


def test_chunk_documents_rejects_bad_window(spark):
    import pytest

    from ctinexus_spark.operators.prepare import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=16, overlap=16)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=16, overlap=-1)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, chunk_tokens=0, overlap=0)


def test_stratified_sample_full_fraction_keeps_stratum(spark):
    """frac >= 1.0 must keep the WHOLE stratum — the naive 5-hex-digit
    threshold '10000' sorts below 'ffff' and silently kept ~6%."""
    from ctinexus_spark.operators.prepare import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(100)], "doc_id int, lang string"
    )
    got = stratified_sample(docs, "lang", {"en": 1.0}, default_frac=0.0).collect()
    assert len(got) == 50 and all(r.lang == "en" for r in got)
    # default_frac >= 1 keeps everything
    assert stratified_sample(docs, "lang", {}, default_frac=1.5).count() == 100


def test_decontaminate_flags_ngram_overlap(spark):
    from ctinexus_spark.operators.prepare import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id int, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text the quick brown fox jumps over more"),  # overlaps
            (2, "completely unrelated words in this training doc"),  # clean
            (3, "the quick brown cat sits"),  # shares exactly one 3-gram
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in decontaminate(docs, bench, n=3).collect()}
    assert got[1].contaminated and got[1].n_hits == 3  # 3 distinct shared 3-grams
    assert not got[2].contaminated and got[2].n_hits == 0
    assert got[3].contaminated and got[3].n_hits == 1  # only "the quick brown"
    # a doc shorter than n is never contaminated
    tiny = spark.createDataFrame([(9, "too short")], "doc_id int, text string")
    assert decontaminate(tiny, bench, n=3).collect()[0].n_hits == 0


def test_decontaminate_counts_distinct_hits(spark):
    from ctinexus_spark.operators.prepare import decontaminate

    bench = spark.createDataFrame([(0, "a b c")], "doc_id int, text string")
    # the shared 3-gram appears twice in the doc but counts once (distinct)
    docs = spark.createDataFrame([(1, "a b c x a b c")], "doc_id int, text string")
    assert decontaminate(docs, bench, n=3).collect()[0].n_hits == 1


def test_line_dedup_first_occurrence_wins(spark):
    from ctinexus_spark.operators.prepare import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "keep me\nshared line\nunique one"),
            (2, "shared line\nanother line"),  # loses "shared line" to doc 1
            (3, "shared line"),  # fully emptied
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert got[1].kept_text == "keep me\nshared line\nunique one"
    assert (got[1].n_lines, got[1].n_kept) == (3, 3)
    assert got[2].kept_text == "another line"
    assert (got[2].n_lines, got[2].n_kept) == (2, 1)
    assert got[3].kept_text == "" and got[3].n_kept == 0


def test_line_dedup_within_doc_repeat(spark):
    from ctinexus_spark.operators.prepare import line_dedup

    docs = spark.createDataFrame([(1, "a\nb\na")], "doc_id int, text string")
    r = line_dedup(docs).collect()[0]
    # the repeated line survives only at its first index
    assert r.kept_text == "a\nb" and r.n_kept == 2 and r.n_lines == 3


def test_domain_cap_matches_naive_window(spark):
    from pyspark.sql import Window, functions as F

    from ctinexus_spark.operators.prepare import domain_cap

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "t") for i in range(40)],
        "doc_id bigint, source string, text string",
    )
    got = sorted(
        (r.doc_id, r.source, r.capped_rank)
        for r in domain_cap(docs, max_per_key=5, salts=4).collect()
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    naive = sorted(
        (r.doc_id, r.source, r.r)
        for r in docs.withColumn("r", F.row_number().over(w).cast("int"))
        .filter("r <= 5")
        .collect()
    )
    assert got == naive and len(got) == 15
