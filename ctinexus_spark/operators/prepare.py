"""Corpus-preparation combinators: the filters a 100 TB training-data
pipeline runs in front of extraction. All JVM-side.

- quality gate : keep documents passing cheap text-quality thresholds
  (token count, stopword ratio bounds, distinct-token ratio) — the
  standard pre-LLM cost guard.
- url dedup    : keep one row per url (first by deterministic order) —
  crawls re-fetch pages; the pipeline key must be unique.
- near-dup gate: drop docs whose exact fingerprint already occurred
  (canonical = min id wins), composing with the MinHash-LSH candidates
  for fuzzy dedup (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ctinexus_spark.stopwords import STOPWORD_LIST


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.9,
    min_distinct_ratio: float = 0.1,
) -> DataFrame:
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORD_LIST])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    return docs.filter(
        F.col(text_col).isNotNull()
        & (n >= float(min_tokens))
        & ((n_stop / n) <= max_stopword_ratio)
        & ((n_distinct / n) >= min_distinct_ratio)
    )


def dedupe_by_key(docs: DataFrame, key: str = "url", order_col: str | None = None) -> DataFrame:
    """One row per key; winner = lowest order_col (default: the key
    itself makes any single row win deterministically)."""
    oc = F.col(order_col) if order_col else F.md5(F.to_json(F.struct(*docs.columns)))
    w = Window.partitionBy(key).orderBy(oc)
    return docs.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def exact_text_dedupe(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id document per exact text fingerprint."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return docs.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_tokens) — sliding-window token
    chunking (stride = chunk_tokens - overlap), the context-window
    prep for LLM training / RAG indexing. Pure JVM: token slices via
    transform+sequence, no Python; each chunk starts at idx·stride and
    the last chunk may be short. Every token is covered; consecutive
    chunks share `overlap` tokens."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < chunk_tokens, got "
            f"overlap={overlap}, chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(n - chunk_tokens, F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_c"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(F.col("_c"), " ").alias("chunk_text"),
        F.size(F.col("_c")).cast("bigint").alias("n_tokens"),
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    modulus: int = 16,
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_tokens) — content-defined
    chunking: a chunk boundary falls AFTER any token whose md5 ends in
    a fixed residue (probability 1/modulus), so boundaries depend only
    on local content. Unlike fixed-stride chunking, an insertion early
    in a document shifts at most one chunk — every later chunk is
    byte-identical — which is what makes chunk-level dedup/caching
    stable under edits (the rsync/LBFS rolling-hash property, token
    granularity).

    Scale shape: boundary flags are a JVM expression over the token
    array; chunk ids are a per-document running sum (window partitioned
    by the unique doc id — bounded by document length, never by corpus
    size); reassembly is one groupBy with an order-pinned fold."""
    from ctinexus_spark.partitioning import ensure_parallelism

    if modulus <= 0 or 256 % modulus != 0:
        raise ValueError(
            f"modulus must be a positive divisor of 256, got {modulus}: the "
            "boundary hash draws from the last md5 byte (256 values), so "
            "other moduli would silently bias the boundary probability"
        )
    docs = ensure_parallelism(docs)  # single-split scans: spread the explode
    toks = F.split(F.col(text_col), " ")
    pos = docs.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    ).withColumn(
        # boundary AFTER tokens whose md5 last hex nibble is 0 (1/16)
        "_b", (F.substring(F.md5("tok"), 32, 1) == F.lit("0")).cast("int")
        if modulus == 16
        else (F.conv(F.substring(F.md5("tok"), 31, 2), 16, 10).cast("int") % modulus == 0).cast("int"),
    )
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunked = pos.withColumn(
        "chunk_idx", F.coalesce(F.sum("_b").over(w), F.lit(0)).cast("int")
    )
    return chunked.groupBy(id_col, "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk_text"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )


def pack_documents(
    docs: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
) -> DataFrame:
    """(id, shard, pack_id, start_offset, n_tokens) — concatenate-and-
    split sequence packing: within each shard, documents are laid out
    in deterministic md5(id) order and the token stream is cut into
    budget_tokens blocks; a document belongs to the pack its FIRST
    token lands in (the standard GPT-style packing bookkeeping).

    Scale shape: a plain `sum() OVER (PARTITION BY shard ORDER BY ...)`
    makes each shard ONE sorting task — with shard = source and O(10)
    sources at 100 TB that is a multi-TB single-task sort.  Instead the
    per-shard cumsum uses the mixture_plan decomposition: rows are
    range-repartitioned on (shard, md5(id), id) — order-preserving
    across partition indices — cumsum'd locally per (partition, shard),
    then offset by the broadcast per-(shard, partition) token totals.
    Every task is bounded by the partitioner's own split sizing, so a
    hot shard spreads over many tasks instead of landing on one."""
    from ctinexus_spark.partitioning import barrier

    toks = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    with_n = docs.select(
        F.col(id_col),
        F.col(shard_col).alias("shard"),
        toks.alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
    )
    s = with_n.repartitionByRange("shard", "_k", id_col)
    # pin partition ids before BOTH consumers (local cumsums + offsets)
    s = barrier(s.withColumn("_pid", F.spark_partition_id()))
    wl = Window.partitionBy("_pid", "shard").orderBy("_k", id_col)
    local = s.withColumn("_lcum", F.sum("n_tokens").over(wl).cast("bigint"))
    # offsets table is shards × partitions rows — tiny, broadcastable
    woff = Window.partitionBy("shard").orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        s.groupBy("shard", "_pid")
        .agg(F.sum("n_tokens").alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(woff), F.lit(0)).cast("bigint"))
        .drop("_n")
    )
    cum = F.col("_off") + F.col("_lcum")
    return local.join(F.broadcast(offs), ["shard", "_pid"]).select(
        id_col,
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget_tokens)).cast("bigint").alias("pack_id"),
        (cum - F.col("n_tokens")).cast("bigint").alias("start_offset"),
        "n_tokens",
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(id, n_lines, n_kept, kept_text) — CCNet-style corpus-wide
    line-level deduplication: every distinct line survives only at its
    FIRST occurrence (lexicographic (id, line_idx) order); later
    occurrences are dropped and each document's text is reassembled
    from its surviving lines. The step that strips boilerplate lines
    ("enable JavaScript", cookie banners) repeated across a crawl.
    Documents whose every line is removed stay in the output with
    kept_text = ''.

    Scale shape: explode → groupBy(md5(line)) with a struct-min
    aggregate that CARRIES the winning occurrence's (id, line_idx,
    line) — partial/map-side combine collapses a billion-fold repeated
    hot line to one row per map task, and because the winner struct
    already holds everything reassembly needs there is NO join back on
    the line hash: the hot key never concentrates on one reduce/join
    partition (no AQE skew-split reliance; pinned by
    test_plans.py::test_line_dedup_no_join_on_line_hash). `sep` is
    both the split regex and the rejoin delimiter, so it must be a
    regex-literal string."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("line_idx", "line"),
    )
    # (i, x) is unique per occurrence, so appending the line text as a
    # trailing struct field cannot change which occurrence wins
    winners = lines.groupBy(F.md5("line").alias("_h")).agg(
        F.min(
            F.struct(
                F.col(id_col).alias("i"),
                F.col("line_idx").alias("x"),
                F.col("line").alias("l"),
            )
        ).alias("_w")
    )
    kept = winners.select(
        F.col("_w.i").alias(id_col),
        F.col("_w.x").alias("line_idx"),
        F.col("_w.l").alias("line"),
    )
    agg = kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("kept_text"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep, -1)).cast("bigint").alias("n_lines"),
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


def domain_cap(
    docs: DataFrame,
    max_per_key: int,
    key: str = "source",
    id_col: str = "doc_id",
    salts: int = 64,
) -> DataFrame:
    """Keep at most max_per_key documents per domain/source, in
    deterministic md5(id) order, with the surviving rank exposed as
    `capped_rank` — the RefinedWeb-style per-domain quota that stops a
    link-farm host from dominating the corpus.

    Skew-safe two-phase top-n: a hot domain holding 30% of a 100 TB
    crawl would make a single `row_number() OVER (PARTITION BY key)`
    task sort 30 TB, so phase 1 ranks within (key, salt) buckets
    (bounded partitions) and keeps each bucket's top-n; phase 2 ranks
    the <= salts*n survivors per key exactly. Any true top-n row is in
    its bucket's top-n, and every row ranked above a survivor also
    survives, so phase-2 rank == true rank."""
    h = F.md5(F.col(id_col).cast("string"))
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salts))
    w_local = Window.partitionBy(F.col(key), salt).orderBy(h, id_col)
    local = (
        docs.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= max_per_key)
        .drop("_lr")
    )
    w_global = Window.partitionBy(key).orderBy(h, id_col)
    return (
        local.withColumn("capped_rank", F.row_number().over(w_global).cast("int"))
        .filter(F.col("capped_rank") <= max_per_key)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """(id, n_hits, contaminated) — benchmark n-gram decontamination:
    flag training documents sharing any whitespace n-gram with an
    eval/benchmark set (the GPT-3/PaLM-style 13-gram overlap rule).
    n_hits = number of DISTINCT shared n-grams.

    Scale shape: the benchmark side (eval suites — thousands of docs,
    not billions) collapses to a distinct md5(n-gram) set that is
    broadcast, so the training side is a single linear scan + local
    hash probe: no shuffle of the 100 TB side, no self-join. Grams are
    md5-hashed before the join so the probe keys are fixed-width
    instead of ~13-token strings."""
    from ctinexus_spark.operators.dedup import shingle_col

    bench_grams = (
        benchmark.select(F.explode(shingle_col(bench_text_col, n)).alias("_g"))
        .select(F.md5("_g").alias("_gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(shingle_col(text_col, n)).alias("_g")
    ).select(id_col, F.md5("_g").alias("_gh"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_gh")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dup_gram_fraction(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, n_shared, dup_fraction) — the cross-document
    duplicated-text measurement (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    the fraction of its distinct whitespace n-grams that also occur in
    at least one OTHER document. High dup_fraction = boilerplate /
    templated / near-copied text that survives document-level dedup.

    Scale shape: self-decontamination. Distinct (doc, md5(gram)) pairs
    (per-doc distinct collapses within-doc repeats before any
    shuffle) → groupBy(gram) doc-count with partial aggregation → one
    equi-join back on the fixed-width gram hash → per-doc counts. A
    boilerplate-hot gram's probe side is one row per CONTAINING doc
    (already distinct), and AQE skew-join splitting covers the
    residual imbalance."""
    from ctinexus_spark.operators.dedup import shingle_col
    from ctinexus_spark.partitioning import ensure_parallelism

    doc_grams = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(shingle_col(text_col, n)).alias("_g")
    ).select(id_col, F.md5("_g").alias("_gh"))
    gram_docs = doc_grams.groupBy("_gh").agg(F.count("*").cast("bigint").alias("_nd"))
    per_doc = (
        doc_grams.join(gram_docs, "_gh")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum((F.col("_nd") >= 2).cast("bigint")).cast("bigint").alias("n_shared"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce("n_shared", F.lit(0).cast("bigint")).alias("n_shared"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    fracs: dict[str, float],
    id_col: str = "doc_id",
    default_frac: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: a row survives iff the
    first 4 md5 hex chars of its id fall under the stratum's
    fraction. Reproducible across engines and runs (no RNG — the same
    portable primitive as the corpus doc_sample), and embarrassingly
    parallel: a pure filter, no shuffle, fully pushed past the scan's
    column pruning. The training-data use: per-language / per-source
    quotas when carving eval splits or rebalancing a corpus.

    The threshold compares the first 4 md5 hex chars against the
    stratum's fraction rendered as a 4-hex-digit ceiling — pure string
    comparison, identical in any engine (same trick as doc_sample).
    Fractions >= 1.0 render as 'g' (lexicographically above every hex
    prefix) so 'keep the whole stratum' keeps it — a naive 5-digit
    '10000' literal would sort BELOW 'ffff' and silently keep ~6%."""

    def _thr(v: float) -> str:
        v = float(v)
        if v >= 1.0:
            return "g"
        return format(max(int(v * 65536), 0), "04x")

    h4 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    default_thr = F.lit(_thr(default_frac))
    if fracs:
        thresholds = F.create_map(
            *[x for k, v in fracs.items() for x in (F.lit(k), F.lit(_thr(v)))]
        )
        thr = F.coalesce(thresholds[F.col(strata_col)], default_thr)
    else:
        thr = default_thr
    return docs.filter(h4 < thr)


def mixture_plan(
    sources: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted dataset mixing — the training-data
    ordering step: each source's rows (in md5(id) shuffled order) get
    positions k/weight for k = 1..n, and the global mix_rank sorts the
    interleave so a weight-2 source appears twice as often as a
    weight-1 source at every prefix of the schedule.

    Scale shape: the per-source rank is an ordinary partitioned
    window; the GLOBAL rank deliberately avoids a single-task
    `row_number() OVER (ORDER BY ...)` — instead rows are
    range-repartitioned on the sort key (order-preserving across
    partition indices), ranked locally, and offset by the broadcast
    cumulative partition counts. Every step is bounded by the data's
    own partitioning; no RNG, so the schedule is reproducible for
    resumable training runs."""
    from ctinexus_spark.partitioning import barrier

    w = Window.partitionBy(source_col).orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    wmap = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    weight = F.coalesce(wmap[F.col(source_col)], F.lit(1.0))
    pos = F.row_number().over(w).cast("double") / weight
    ranked = sources.withColumn("_pos", pos)

    s = ranked.repartitionByRange(F.col("_pos"), F.col(source_col), F.col(id_col))
    # pin partition ids before BOTH consumers (local ranks + offsets):
    # an unpinned spark_partition_id() could recompute differently
    s = barrier(s.withColumn("_pid", F.spark_partition_id()))
    wl = Window.partitionBy("_pid").orderBy("_pos", source_col, id_col)
    local = s.withColumn("_lrn", F.row_number().over(wl).cast("bigint"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        s.groupBy("_pid")
        .agg(F.count("*").alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(woff), F.lit(0)).cast("bigint"))
        .drop("_n")
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn("mix_rank", F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off", "_pos")
    )
