"""Training-data-pipeline query registry with DuckDB
oracle twins (extends entry_queries; merged by __spark_entry__).

Families:
- dedup         : exact, MinHash signatures, LSH bands/candidates
                  (bucket-capped), candidate-gated n-gram Jaccard,
                  SimHash + hamming bands, LSH-gated embedding
                  near-dups, CC duplicate clusters (operators/dedup.py,
                  graph/components.py)
- similarity    : query-broadcast exact top-k, LSH buckets/top-k,
                  IVF assign/top-k (+ trained k-means centroids),
                  kNN label vote over LSH neighbors
                  (operators/similarity.py)
- url ops       : normalize/validate/domain (text/urls.py)

Float determinism notes (verified empirically):
- cosine: Spark left-fold aggregate over double-cast arrays is
  bit-identical to DuckDB list_cosine_similarity(::DOUBLE[]).
- ratios of ints and double divisions are IEEE-exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ctinexus_spark.operators import dedup as D
from ctinexus_spark.operators import similarity as S
from ctinexus_spark.stopwords import STOPWORD_LIST


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- dedup --------------------------------------------------------------


def q_doc_chunks(spark, sf_dir):
    from ctinexus_spark.operators.prepare import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_pack_plan(spark, sf_dir):
    from ctinexus_spark.operators.prepare import pack_documents

    return pack_documents(_docs(spark, sf_dir), budget_tokens=256)


def q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_docs(spark, sf_dir))


def q_minhash(spark, sf_dir):
    return D.minhash_signatures(_docs(spark, sf_dir))


def q_lsh_bands(spark, sf_dir):
    return D.lsh_bands(_docs(spark, sf_dir))


def q_lsh_candidates(spark, sf_dir):
    return D.lsh_candidates(_docs(spark, sf_dir))


def q_shingle_overlap(spark, sf_dir):
    # Jaccard verify restricted to LSH candidate pairs — the MinHash→
    # LSH→verify funnel a web-scale dedup actually runs (the corpus-
    # wide shingle self-join variant is test-only)
    docs = _docs(spark, sf_dir)
    return D.shingle_overlap(docs, candidates=D.lsh_candidates(docs))


def q_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir))


def q_simhash_candidates(spark, sf_dir):
    return D.simhash_candidates(_docs(spark, sf_dir))


def q_dedup_clusters_cc(spark, sf_dir):
    """Corpus-wide duplicate clusters: distributed min-label connected
    components over the LSH candidate-pair graph (the cross-document
    graph case GraphFrames would serve; graph/components.py)."""
    from ctinexus_spark.graph.components import connected_components

    edges = D.lsh_candidates(_docs(spark, sf_dir))
    return connected_components(edges, "a_id", "b_id")


def q_dedup_clusters_stars(spark, sf_dir):
    """Same duplicate-cluster semantics as dedup_clusters_cc through
    the large-star/small-star algorithm (O(log² n) rounds, diameter-
    independent) — shares the recursive-CTE transitive-closure oracle,
    which is exactly the point: two distributed algorithms, one
    fixpoint."""
    from ctinexus_spark.graph.components import connected_components_stars

    edges = D.lsh_candidates(_docs(spark, sf_dir))
    return connected_components_stars(edges, "a_id", "b_id")


def q_dedup_keeplist(spark, sf_dir):
    return D.dedup_keep_list(_docs(spark, sf_dir))


def q_emb_cosine_pairs(spark, sf_dir):
    # low threshold so the check is value-rich on random vectors;
    # LSH-gated scale path (the brute all-pairs variant is test-only)
    return D.embedding_near_dups_lsh(_emb(spark, sf_dir), threshold=0.3)


# --- similarity ---------------------------------------------------------


def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 25)
    return S.brute_force_topk(emb, queries)


def q_lsh_buckets(spark, sf_dir):
    return S.lsh_buckets(_emb(spark, sf_dir))


def q_lsh_topk(spark, sf_dir):
    return S.lsh_topk(_emb(spark, sf_dir))


def q_mmr_topk(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-5 (λ=0.7) over the
    20 highest-cosine candidates for 8 query vectors — the de-dup
    re-rank for retrieved context. Greedy loop = 4 unrolled DataFrame
    rounds (join vs the selected set + struct-min argmax); the SQL
    twin unrolls the identical recurrence, float constants embedded
    from Python ({v!r}::DOUBLE, DuckDB literals are DECIMAL), scores a fixed IEEE
    chain over left-fold cosines — hash-exact."""
    emb = _emb(spark, sf_dir)
    return S.mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 8), k=5, lam=0.7, candidates=20
    )


def q_knn_vote(spark, sf_dir):
    # neighbors from the LSH-bucketed top-k (default) — no all-pairs
    return S.knn_label_vote(_emb(spark, sf_dir))


def q_ivf_assign(spark, sf_dir):
    return S.ivf_assign(_emb(spark, sf_dir))


def q_ivf_topk(spark, sf_dir):
    return S.ivf_topk(_emb(spark, sf_dir))


# Literal short docs appended to the incremental-admission corpus: the
# sf0.01 texts are all shingle-able, so without them the band-less
# exact-hash side channel would be value-free at oracle scale. Parity
# of the id decides corpus (even) vs batch (odd); expected outcomes:
# 10001 admitted (min of the in-batch 'dup' pair), 10003 dropped,
# 10005 admitted solo, 10007 dropped (fingerprint hits corpus 10000).
_SHORT_DOC_ROWS = [
    (10000, "crossdup"),
    (10001, "dup"),
    (10003, "dup"),
    (10005, "solo tiny"),
    (10007, "crossdup"),
]


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup admission: even doc_ids play the already-
    admitted corpus (stored band index + band-less fingerprint set),
    odd ids the new crawl batch — one index equi-join rejects near-dups
    of admitted docs, the capped star-edge funnel dedups within the
    batch, and band-less docs (injected literals; too short to shingle)
    dedupe through the md5 side channel. Survivors return as
    index-appendable band/fingerprint rows."""
    from ctinexus_spark.operators.dedup import dedup_keep_list_incremental, lsh_bands

    extra = spark.createDataFrame(_SHORT_DOC_ROWS, "doc_id bigint, text string")
    docs = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    corpus_bandless_fp = corpus.filter(
        F.size(F.split(F.col("text"), " ")) < 3
    ).select(F.md5(F.col("text")).alias("fingerprint"))
    return dedup_keep_list_incremental(
        batch, lsh_bands(corpus), index_fingerprints=corpus_bandless_fp
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup keep-list: IVF cells as blocks, within-cell cosine >=
    0.3 edges (value-rich on the random-vector corpus), distributed CC,
    min-id survivors — the embedding-space analogue of dedup_keeplist."""
    from ctinexus_spark.operators.dedup import semantic_dedup_keeplist

    return semantic_dedup_keeplist(_emb(spark, sf_dir), threshold=0.3)


def q_url_ops(spark, sf_dir):
    """URL normalize/validate/domain (T8) over synthesized URLs — half
    with an explicit scheme (mixed case host), half scheme-less (which
    urlparse treats as all-path: empty domain, invalid)."""
    from pyspark.sql.functions import pandas_udf

    from ctinexus_spark.text.urls import extract_domain, is_valid_url, normalize_url

    @pandas_udf("string")
    def _norm(u):
        return u.map(normalize_url)

    @pandas_udf("string")
    def _dom(u):
        return u.map(extract_domain)

    @pandas_udf("boolean")
    def _valid(u):
        return u.map(is_valid_url)

    d = F.col("doc_id").cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("https://WWW.Example"), d, F.lit(".COM/p/"), d),
    ).otherwise(F.concat(F.lit("www.example"), d, F.lit(".com/p/"), d))
    u = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        _norm(F.col("url")).alias("norm_url"),
        _dom(_norm(F.col("url"))).alias("domain"),
        _dom(F.col("url")).alias("raw_domain"),
        _valid(F.col("url")).alias("raw_valid"),
    )


def q_quality_gate(spark, sf_dir):
    from ctinexus_spark.operators.prepare import quality_gate

    return quality_gate(_docs(spark, sf_dir), min_tokens=30).select(
        "doc_id", "lang", "n_chars"
    )


def q_text_dedupe(spark, sf_dir):
    from ctinexus_spark.operators.prepare import exact_text_dedupe

    return exact_text_dedupe(_docs(spark, sf_dir)).select("doc_id", "n_chars")


# --- corpus preparation -------------------------------------------------


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling quotas (md5-threshold per
    stratum) — the reproducible eval-split / rebalance primitive."""
    from ctinexus_spark.operators.prepare import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(docs, "lang", {"en": 0.2, "fr": 0.5}, default_frac=0.05)


def q_mixture_plan(spark, sf_dir):
    """Deterministic weighted dataset mixing: src0 appears 3x and src1
    2x as often as the rest at every schedule prefix; global rank via
    range-repartition + broadcast offsets (no single-task window)."""
    from ctinexus_spark.operators.prepare import mixture_plan

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return mixture_plan(docs, {"src0": 3.0, "src1": 2.0}).select(
        "doc_id", "source", "mix_rank"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination (GPT-3's 13-gram rule; n=8
    here so every 10..99-token synthetic doc has grams). Benchmark set
    = every 97th doc, standing in for a held-out eval suite; its
    distinct gram hashes broadcast against one linear scan of the
    corpus."""
    from ctinexus_spark.operators.prepare import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=8)


def q_line_dedup(spark, sf_dir):
    """CCNet-style corpus-wide line dedup. The synthetic docs are
    single-line, so the query derives a multi-line view (newline after
    every 3rd token — 3-token lines repeat across this corpus, ~19%
    dupes at sf0.01) and dedups lines to their first (doc_id,
    line_idx) occurrence."""
    from ctinexus_spark.operators.prepare import line_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"(\S+ \S+ \S+) ", "$1\n").alias("text"),
    )
    return line_dedup(docs)


def q_domain_cap(spark, sf_dir):
    """RefinedWeb-style per-source quota: at most 10 docs per source
    (sf0.01 carries 25/source, so the cap truncates) in deterministic
    md5(id) order, via the skew-safe two-phase top-n."""
    from ctinexus_spark.operators.prepare import domain_cap

    return domain_cap(_docs(spark, sf_dir), max_per_key=10).select(
        "doc_id", "source", "capped_rank"
    )


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking: boundaries where a token's md5 ends
    in nibble 0 (1/16) — chunk ids stable under upstream edits."""
    from ctinexus_spark.operators.prepare import cdc_chunks

    return cdc_chunks(_docs(spark, sf_dir))


def q_dup_grams(spark, sf_dir):
    """Cross-document duplicated-text fraction per doc (Lee et al.
    2022 measurement) over 3-grams — the sf corpus has no shared
    8-grams but ~19% repeated 3-token spans, so 3 is the
    discriminating width here."""
    from ctinexus_spark.operators.prepare import dup_gram_fraction

    return dup_gram_fraction(_docs(spark, sf_dir), n=3)


# --- oracle SQL ---------------------------------------------------------

# SQL string literals: single quotes doubled ("don't" → 'don''t')
_STOPS = ", ".join("'" + w.replace("'", "''") + "'" for w in STOPWORD_LIST)
_TOKS = "str_split(text, ' ')"

_SHINGLES = (
    "CASE WHEN len(str_split(text,' ')) >= 3 THEN "
    "list_distinct(list_transform(range(1, len(str_split(text,' ')) - 1), "
    "i -> array_to_string(list_slice(str_split(text,' '), i, i + 2), ' '))) "
    "ELSE [] END"
)

_MINHASH_COLS = ", ".join(
    f"min(md5('{s}|' || shingle)) AS h{s}" for s in range(D.MINHASH_SEEDS)
)

_SIG = f"""
sig AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
  GROUP BY doc_id
)
"""

_N_BANDS = D.MINHASH_SEEDS // D.BAND_SIZE
_BAND_ROWS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{b * D.BAND_SIZE} || '|' || h{b * D.BAND_SIZE + 1}) AS band_key FROM sig"
    for b in range(_N_BANDS)
)

_HYPERPLANES = S.hyperplane_signs()

# LSH candidate pairs with the degenerate-bucket cap — shared by the
# lsh_candidates and shingle_overlap oracles (must match
# D.lsh_candidates bit for bit).
_CAND_CTES = f"""{_SIG}, bands AS ({_BAND_ROWS}),
okbuckets AS (
  SELECT band_idx, band_key FROM bands GROUP BY band_idx, band_key HAVING count(*) <= {D.MAX_BUCKET}
),
bandsf AS (
  SELECT b.doc_id, b.band_idx, b.band_key FROM bands b JOIN okbuckets USING (band_idx, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bandsf a JOIN bandsf b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""

# banded vector-LSH buckets (4 bands × 8 planes, global plane index
# b*8+p) — shared hyperplanes with S.lsh_band_buckets
_N_VBANDS, _VBAND_PLANES = 4, 8
_HP_BANDED = S.hyperplane_signs(planes=_N_VBANDS * _VBAND_PLANES)


def _plane_sql_from(signs: list[list[int]], p: int) -> str:
    lits = ", ".join(f"{float(s)}" for s in signs[p])
    return (
        f"(list_sum(list_transform(range(1, 65), "
        f"i -> embedding[i]::DOUBLE * ([{lits}])[i])) >= 0)"
    )


def _vband_bucket_sql(b: int, band_planes: int = _VBAND_PLANES) -> str:
    return "concat(" + ", ".join(
        f"CASE WHEN {_plane_sql_from(_HP_BANDED, b * band_planes + p)} THEN '1' ELSE '0' END"
        for p in range(band_planes)
    ) + ")"


_VBANDS_ROWS = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band_idx, {_vband_bucket_sql(b)} AS bucket FROM embeddings"
    for b in range(_N_VBANDS)
)

_CENTROIDS = S.ivf_centroids()
_CENTROID_VALUES = ", ".join(
    f"({i}, [{', '.join(f'{x!r}' for x in c)}]::DOUBLE[])" for i, c in enumerate(_CENTROIDS)
)
# nearest centroid: max cosine, ties toward higher cell index (matches
# Spark's struct array_max ordering)
_IVF_ASSIGN_SQL = f"""
cents(cell, cvec) AS (SELECT * FROM (VALUES {_CENTROID_VALUES})),
scored_cells AS (
  SELECT e.vec_id, c.cell,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS cos
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, CAST(cell AS INT) AS cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell DESC) AS rn
    FROM scored_cells
  ) WHERE rn = 1
)
"""


def _plane_sql(p: int) -> str:
    lits = ", ".join(f"{float(s)}" for s in _HYPERPLANES[p])
    return (
        f"(list_sum(list_transform(range(1, 65), "
        f"i -> embedding[i]::DOUBLE * ([{lits}])[i])) >= 0)"
    )


_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN {_plane_sql(p)} THEN '1' ELSE '0' END" for p in range(S.N_PLANES)
) + ")"

ORACLES = {
    "doc_chunks": """
WITH tk AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
nc AS (
  SELECT doc_id, l,
         1 + CAST(floor((greatest(len(l) - 64, 0) + 47) / 48.0) AS INT) AS n_chunks
  FROM tk
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(list_slice(l, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text,
       CAST(len(list_slice(l, i * 48 + 1, i * 48 + 64)) AS BIGINT) AS n_tokens
FROM nc, unnest(range(0, n_chunks)) t(i)
""",
    "pack_plan": """
WITH n AS (
  SELECT doc_id, source AS shard,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
  FROM n
)
SELECT doc_id, shard,
       CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       n_tokens
FROM c
""",
    "decontaminate": """
WITH g8 AS (
  SELECT doc_id,
         CASE WHEN len(str_split(text, ' ')) >= 8 THEN
           list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 6),
             i -> array_to_string(list_slice(str_split(text, ' '), i, i + 7), ' ')))
         ELSE [] END AS grams
  FROM documents
),
bg AS (
  SELECT DISTINCT md5(g) AS gh
  FROM (SELECT unnest(grams) AS g FROM g8 WHERE doc_id % 97 = 0)
),
dg AS (
  SELECT doc_id, md5(g) AS gh
  FROM (SELECT doc_id, unnest(grams) AS g FROM g8)
),
hits AS (
  SELECT doc_id, count(*) AS n_hits FROM dg JOIN bg USING (gh) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
    # raw string: '\n' / '\S' must reach DuckDB's regex engine escaped
    "line_dedup": r"""
WITH docs2 AS (
  SELECT doc_id,
         regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS text
  FROM documents
),
ln AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS line_idx, l[i] AS line
  FROM (SELECT doc_id, str_split_regex(text, '\n') AS l FROM docs2) t,
       unnest(range(1, len(l) + 1)) u(i)
),
win AS (
  SELECT md5(line) AS h,
         min(struct_pack(i := doc_id, x := line_idx)) AS w
  FROM ln GROUP BY md5(line)
),
kept AS (
  SELECT ln.doc_id, ln.line_idx, ln.line
  FROM ln JOIN win ON md5(ln.line) = win.h
  WHERE ln.doc_id = (win.w).i AND ln.line_idx = (win.w).x
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         array_to_string(list(line ORDER BY line_idx), chr(10)) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(str_split_regex(d.text, '\n')) AS BIGINT) AS n_lines,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(a.kept_text, '') AS kept_text
FROM docs2 d LEFT JOIN agg a USING (doc_id)
""",
    "domain_cap": """
SELECT doc_id, source, CAST(r AS INT) AS capped_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS r
  FROM documents
)
WHERE r <= 10
""",
    "cdc_chunks": f"""
WITH pos AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS tok,
         CASE WHEN substr(md5(l[i]), 32, 1) = '0' THEN 1 ELSE 0 END AS b
  FROM (SELECT doc_id, {_TOKS} AS l FROM documents), unnest(range(1, len(l) + 1)) t(i)
),
ch AS (
  SELECT doc_id, pos, tok,
         CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS chunk_idx
  FROM pos
)
SELECT doc_id, chunk_idx,
       array_to_string(list(tok ORDER BY pos), ' ') AS chunk_text,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM ch GROUP BY doc_id, chunk_idx
""",
    "dup_grams": f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len({_TOKS}) >= 3 THEN
           list_distinct(list_transform(range(1, len({_TOKS}) - 1),
             i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' ')))
         ELSE [] END AS grams
  FROM documents
),
dg AS (
  SELECT doc_id, md5(gr) AS gh
  FROM (SELECT doc_id, unnest(grams) AS gr FROM g)
),
nd AS (SELECT gh, CAST(count(*) AS BIGINT) AS n_docs FROM dg GROUP BY gh),
s AS (
  SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM dg JOIN nd USING (gh) GROUP BY dg.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN coalesce(s.n_grams, 0) > 0
            THEN CAST(coalesce(s.n_shared, 0) AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
            ELSE 0.0 END AS dup_fraction
FROM documents d LEFT JOIN s USING (doc_id)
""",
    "dedup_exact": """
SELECT md5(text) AS fingerprint,
       min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY md5(text)
""",
    "minhash": f"WITH {_SIG} SELECT * FROM sig",
    "lsh_bands": f"WITH {_SIG}, bands AS ({_BAND_ROWS}) SELECT doc_id, CAST(band_idx AS INT) AS band_idx, band_key FROM bands",
    "lsh_candidates": f"""
WITH {_CAND_CTES}
SELECT a_id, b_id FROM cand
""",
    "shingle_overlap": f"""
WITH {_CAND_CTES},
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.a_id
  JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
  GROUP BY c.a_id, c.b_id HAVING count(*) >= 2
)
SELECT s.a_id, s.b_id, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / CAST(ca.n + cb.n - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN cnt ca ON s.a_id = ca.doc_id
JOIN cnt cb ON s.b_id = cb.doc_id
""",
    # simhash: 48-bit sign-sum in SQL — parse the first 12 md5 hex
    # chars per token as a BIGINT, sum ±1 per bit position weighted by
    # token multiplicity, OR-fold the positive bits back into a bigint.
    "simhash": """
WITH tok AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
  GROUP BY doc_id, t
),
hv AS (
  SELECT doc_id, cnt,
         CAST(list_sum(list_transform(range(1, 13),
           i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)
                * (CAST(1 AS BIGINT) << ((12 - i) * 4)))) AS BIGINT) AS h
  FROM tok
),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN cnt ELSE -cnt END) AS acc
  FROM hv, range(0, 48) r(j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
    # simhash_candidates: sketch from the simhash oracle logic, then
    # pigeonhole 12-bit chunks → bucket join → exact hamming filter.
    "simhash_candidates": """
WITH tok AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
  GROUP BY doc_id, t
),
hv AS (
  SELECT doc_id, cnt,
         CAST(list_sum(list_transform(range(1, 13),
           i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)
                * (CAST(1 AS BIGINT) << ((12 - i) * 4)))) AS BIGINT) AS h
  FROM tok
),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN cnt ELSE -cnt END) AS acc
  FROM hv, range(0, 48) r(j)
  GROUP BY doc_id, j
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
chunks0 AS (
  SELECT doc_id, simhash, CAST(b AS INT) AS band_idx,
         (simhash >> CAST(b * 12 AS INT)) & 4095 AS chunk
  FROM sh, range(0, 4) r(b)
),
okch AS (
  SELECT band_idx, chunk FROM chunks0 GROUP BY band_idx, chunk HAVING count(*) <= 1000
),
chunks AS (
  SELECT c.doc_id, c.simhash, c.band_idx, c.chunk
  FROM chunks0 c JOIN okch USING (band_idx, chunk)
)
SELECT a_id, b_id, hamming FROM (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.band_idx = b.band_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
) WHERE hamming <= 3
""",
    # dedup_clusters_cc: min-reachable-label components via recursive
    # transitive closure over the (capped) LSH candidate-pair graph —
    # the SQL twin of graph/components.py's label propagation.
    "dedup_clusters_cc": f"""
WITH RECURSIVE {_CAND_CTES},
sym AS (
  SELECT a_id AS a, b_id AS b FROM cand
  UNION
  SELECT b_id AS a, a_id AS b FROM cand
),
verts AS (SELECT DISTINCT a AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, s.b FROM reach JOIN sym s ON reach.r = s.a
)
SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v
""",
    # dedup_keeplist: survivors = all docs minus non-canonical cluster
    # members from the recursive-CTE transitive closure over capped
    # LSH candidate pairs (twin of D.dedup_keep_list).
    "dedup_keeplist": f"""
WITH RECURSIVE {_CAND_CTES},
sym AS (
  SELECT a_id AS a, b_id AS b FROM cand
  UNION
  SELECT b_id AS a, a_id AS b FROM cand
),
verts AS (SELECT DISTINCT a AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, s.b FROM reach JOIN sym s ON reach.r = s.a
),
cc AS (SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT vertex FROM cc WHERE vertex != component)
""",
    "emb_cosine_pairs": f"""
WITH vb AS ({_VBANDS_ROWS}),
okb AS (
  SELECT band_idx, bucket FROM vb GROUP BY band_idx, bucket HAVING count(*) <= {D.MAX_BUCKET}
),
vbf AS (SELECT vb.vec_id, vb.band_idx, vb.bucket FROM vb JOIN okb USING (band_idx, bucket)),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM vbf a JOIN vbf b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS cosine
FROM cand c
JOIN embeddings ea ON c.a_id = ea.vec_id
JOIN embeddings eb ON c.b_id = eb.vec_id
WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= 0.3
""",
    "ann_topk": """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 25
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    "lsh_buckets": f"""
SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings
""",
    "lsh_topk": f"""
WITH b AS (SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings),
okb AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= {S.MAX_BUCKET}),
withb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e
          JOIN b ON e.vec_id = b.vec_id JOIN okb ON b.bucket = okb.bucket),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
  FROM withb q JOIN withb c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    "ivf_assign": f"""
WITH {_IVF_ASSIGN_SQL}
SELECT vec_id, cell FROM assign
""",
    # dedup_incremental: batch (odd ids) admitted against the even-id
    # corpus's band index; within-batch star-edge + transitive closure
    "dedup_incremental": f"""
WITH RECURSIVE
extra(doc_id, text) AS (VALUES {{extra_vals}}),
docs_all AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id::BIGINT, text FROM extra
),
sig_b AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM docs_all WHERE doc_id % 2 = 1)
  GROUP BY doc_id
),
bands_b AS ({" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{b * D.BAND_SIZE} || '|' || h{b * D.BAND_SIZE + 1}) AS band_key FROM sig_b"
    for b in range(_N_BANDS))}),
okb AS (
  SELECT band_idx, band_key FROM bands_b GROUP BY band_idx, band_key
  HAVING count(*) <= {D.MAX_BUCKET}
),
bf AS (SELECT b.doc_id, b.band_idx, b.band_key FROM bands_b b JOIN okb USING (band_idx, band_key)),
sig_i AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM docs_all WHERE doc_id % 2 = 0)
  GROUP BY doc_id
),
bands_i AS ({" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{b * D.BAND_SIZE} || '|' || h{b * D.BAND_SIZE + 1}) AS band_key FROM sig_i"
    for b in range(_N_BANDS))}),
hit AS (
  SELECT DISTINCT bf.doc_id FROM bf
  JOIN (SELECT DISTINCT band_idx, band_key FROM bands_i) i USING (band_idx, band_key)
),
fresh AS (SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
hubs AS (SELECT band_idx, band_key, min(doc_id) AS hub FROM fresh GROUP BY band_idx, band_key),
edges AS (
  SELECT DISTINCT hub AS a, f.doc_id AS b
  FROM fresh f JOIN hubs USING (band_idx, band_key) WHERE f.doc_id != hub
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT a AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, s.b FROM reach JOIN sym s ON reach.r = s.a
),
cc AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
banded_admitted AS (
  SELECT f.doc_id, CAST(f.band_idx AS INT) AS band_idx, f.band_key,
         NULL::VARCHAR AS fingerprint
  FROM fresh f
  WHERE f.doc_id NOT IN (SELECT v FROM cc WHERE v != comp)
),
corpus_fp AS (
  SELECT DISTINCT md5(text) AS fingerprint FROM docs_all
  WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) < 3
),
bandless AS (
  SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id
  FROM docs_all
  WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM bf)
  GROUP BY md5(text)
),
bandless_admitted AS (
  SELECT doc_id, NULL::INT AS band_idx, NULL::VARCHAR AS band_key, fingerprint
  FROM bandless
  WHERE fingerprint NOT IN (SELECT fingerprint FROM corpus_fp)
)
SELECT doc_id, band_idx, band_key, fingerprint FROM banded_admitted
UNION ALL
SELECT doc_id, band_idx, band_key, fingerprint FROM bandless_admitted
""",
    # semantic_dedup: SemDeDup keep-list — IVF-cell blocking, in-cell
    # cosine edges, recursive-CTE transitive closure, min-id survivors
    "semantic_dedup": f"""
WITH RECURSIVE {_IVF_ASSIGN_SQL},
okc AS (SELECT cell FROM assign GROUP BY cell HAVING count(*) <= {S.MAX_CELL}),
mem AS (
  SELECT e.vec_id, e.embedding, a.cell
  FROM embeddings e JOIN assign a USING (vec_id) JOIN okc USING (cell)
),
cand AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
),
sym AS (
  SELECT a_id AS a, b_id AS b FROM cand
  UNION
  SELECT b_id AS a, a_id AS b FROM cand
),
verts AS (SELECT DISTINCT a AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, s.b FROM reach JOIN sym s ON reach.r = s.a
),
cc AS (SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vertex FROM cc WHERE vertex != component)
""",
    "ivf_topk": f"""
WITH {_IVF_ASSIGN_SQL},
probes AS (
  SELECT vec_id, CAST(cell AS INT) AS cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell DESC) AS rn
    FROM scored_cells
  ) WHERE rn <= {S.N_IVF_PROBE}
),
okc AS (SELECT cell FROM assign GROUP BY cell HAVING count(*) <= {S.MAX_CELL}),
cand AS (
  SELECT e.vec_id, e.embedding, a.cell FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id JOIN okc ON a.cell = okc.cell
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
  FROM (SELECT p.vec_id, e.embedding, p.cell FROM probes p
        JOIN embeddings e ON p.vec_id = e.vec_id) q
  JOIN cand c ON q.cell = c.cell AND q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    "knn_vote": f"""
WITH b AS (SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings),
okb AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= {S.MAX_BUCKET}),
withb AS (SELECT e.vec_id, e.embedding, e.label, b.bucket FROM embeddings e
          JOIN b ON e.vec_id = b.vec_id JOIN okb ON b.bucket = okb.bucket),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS n_label,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
  FROM withb q JOIN withb c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
),
topk AS (
  SELECT query_id, n_label FROM (
    SELECT query_id, n_label,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT query_id, n_label, count(*) AS votes FROM topk GROUP BY query_id, n_label
)
SELECT query_id, n_label AS predicted_label FROM (
  SELECT query_id, n_label,
         row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, n_label) AS rk
  FROM votes
) WHERE rk = 1
""",
    "url_ops": """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN 'https://WWW.Example' || CAST(doc_id AS VARCHAR) || '.COM/p/' || CAST(doc_id AS VARCHAR)
              ELSE 'www.example' || CAST(doc_id AS VARCHAR) || '.com/p/' || CAST(doc_id AS VARCHAR) END AS url
  FROM documents
),
n AS (
  SELECT doc_id, url,
         CASE WHEN url LIKE 'https://%' THEN url ELSE 'https://' || url END AS norm_url
  FROM u
)
SELECT doc_id, norm_url,
       lower(split_part(substr(norm_url, 9), '/', 1)) AS domain,
       CASE WHEN url LIKE 'https://%' THEN lower(split_part(substr(url, 9), '/', 1)) ELSE '' END AS raw_domain,
       (url LIKE 'https://%') AS raw_valid
FROM n
""",
    "quality_gate": f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE text IS NOT NULL
  AND CAST(len({_TOKS}) AS DOUBLE) >= 30.0
  AND CAST(len(list_filter({_TOKS}, w -> w IN ({_STOPS}))) AS DOUBLE)
      / CAST(len({_TOKS}) AS DOUBLE) <= 0.9
  AND CAST(len(list_distinct({_TOKS})) AS DOUBLE)
      / CAST(len({_TOKS}) AS DOUBLE) >= 0.1
""",
    "text_dedupe": """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS _rn
  FROM documents
) WHERE _rn = 1
""",
    "stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE lang WHEN 'en' THEN '3333' WHEN 'fr' THEN '8000' ELSE '0ccc' END
""",
    "mixture_plan": """
WITH pos AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS DOUBLE)
         / (CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END) AS p
  FROM documents
)
SELECT doc_id, source,
       CAST(row_number() OVER (ORDER BY p, source, doc_id) AS BIGINT) AS mix_rank
FROM pos
""",
}

QUERIES = {
    "doc_chunks": q_doc_chunks,
    "pack_plan": q_pack_plan,
    "dedup_exact": q_dedup_exact,
    "minhash": q_minhash,
    "lsh_bands": q_lsh_bands,
    "lsh_candidates": q_lsh_candidates,
    "shingle_overlap": q_shingle_overlap,
    "simhash": q_simhash,
    "simhash_candidates": q_simhash_candidates,
    "dedup_clusters_cc": q_dedup_clusters_cc,
    "dedup_clusters_stars": q_dedup_clusters_stars,
    "dedup_keeplist": q_dedup_keeplist,
    "emb_cosine_pairs": q_emb_cosine_pairs,
    "ann_topk": q_ann_topk,
    "lsh_buckets": q_lsh_buckets,
    "lsh_topk": q_lsh_topk,
    "knn_vote": q_knn_vote,
    "ivf_assign": q_ivf_assign,
    "ivf_topk": q_ivf_topk,
    "url_ops": q_url_ops,
    "quality_gate": q_quality_gate,
    "text_dedupe": q_text_dedupe,
    "stratified_sample": q_stratified_sample,
    "mixture_plan": q_mixture_plan,
    "decontaminate": q_decontaminate,
    "line_dedup": q_line_dedup,
    "domain_cap": q_domain_cap,
    "dup_grams": q_dup_grams,
    "semantic_dedup": q_semantic_dedup,
    "dedup_incremental": q_dedup_incremental,
    "cdc_chunks": q_cdc_chunks,
}

ORACLES["dedup_clusters_stars"] = ORACLES["dedup_clusters_cc"]
ORACLES["dedup_incremental"] = ORACLES["dedup_incremental"].format(
    extra_vals=", ".join(f"({i}, '{t}')" for i, t in _SHORT_DOC_ROWS)
)


def _mmr_sql(k: int = 5, lam: float = 0.7, candidates: int = 20, nq: int = 8) -> str:
    """Unrolled-round DuckDB twin of similarity.mmr_rerank: greedy
    MMR as k CTE rounds — per round, max-sim against the union of
    prior selections, score = λ·rel − (1−λ)·maxsim with BOTH float
    constants computed in Python and embedded ({v!r}::DOUBLE, since
    DuckDB bare literals are DECIMAL), argmax = min(struct_pack(ns := −score, cid)) and
    the winning score recovered as −ns (negation is sign-bit-exact).
    Cosines are list_cosine_similarity(::DOUBLE[]) — bit-identical to
    the Spark left-fold."""
    lam_f = float(lam)
    om = 1.0 - lam_f

    def prev_union(r: int) -> str:
        return " UNION ALL ".join(
            f"SELECT query_id, cid FROM s{i}" for i in range(1, r)
        )

    parts = [
        f"""q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {nq}),
scored AS (
  SELECT q.query_id, c.vec_id AS cid,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS rel
  FROM q JOIN embeddings c ON c.vec_id != q.query_id
),
cand AS (
  SELECT query_id, cid, rel FROM (
    SELECT query_id, cid, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cid) AS rk
    FROM scored
  ) WHERE rk <= {candidates}
),
pairs AS (
  SELECT x.query_id, x.cid AS a, y.cid AS b,
         list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
  FROM cand x JOIN cand y ON x.query_id = y.query_id AND x.cid != y.cid
  JOIN embeddings ea ON ea.vec_id = x.cid
  JOIN embeddings eb ON eb.vec_id = y.cid
),
s1 AS (
  SELECT query_id, (w).cid AS cid, 1 AS pick_rank, -((w).ns) AS mmr_score FROM (
    SELECT query_id,
           min(struct_pack(
             ns := -({lam_f!r}::DOUBLE * rel - {om!r}::DOUBLE * 0.0::DOUBLE),
             cid := cid)) AS w
    FROM cand GROUP BY query_id
  )
)"""
    ]
    for r in range(2, k + 1):
        prev = prev_union(r)
        parts.append(
            f"""ms{r} AS (
  SELECT p.query_id, p.a AS cid, max(p.sim) AS maxsim
  FROM pairs p JOIN ({prev}) s ON s.query_id = p.query_id AND s.cid = p.b
  GROUP BY p.query_id, p.a
),
rem{r} AS (
  SELECT c.query_id, c.cid, c.rel FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM ({prev}) s
                    WHERE s.query_id = c.query_id AND s.cid = c.cid)
),
s{r} AS (
  SELECT query_id, (w).cid AS cid, {r} AS pick_rank, -((w).ns) AS mmr_score FROM (
    SELECT t.query_id,
           min(struct_pack(
             ns := -({lam_f!r}::DOUBLE * t.rel
                     - {om!r}::DOUBLE * coalesce(m.maxsim, 0.0::DOUBLE)),
             cid := t.cid)) AS w
    FROM rem{r} t LEFT JOIN ms{r} m ON m.query_id = t.query_id AND m.cid = t.cid
    GROUP BY t.query_id
  )
)"""
        )
    final = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, k + 1))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, cid AS neighbor_id, CAST(pick_rank AS INT) AS pick_rank, mmr_score
FROM ({final})
"""
    )


ORACLES["mmr_topk"] = _mmr_sql(k=5, lam=0.7, candidates=20, nq=8)
QUERIES["mmr_topk"] = q_mmr_topk


# --- exact near-dup join ---------------------------------------------


def q_jaccard_pairs(spark, sf_dir):
    """EXACT all-pairs near-dup join (shingle Jaccard >= 1/2) via
    prefix filtering — the deterministic sibling of the MinHash/LSH
    funnel: no probabilistic recall loss, no bucket cap, yet never
    O(n²) (candidates equi-join only on each doc's globally RAREST
    shingles; PPJoin prefix principle, operators/dedup.py). The
    oracle is the brute-force all-pairs intersection — an independent
    algorithm — so the gate checks the prefix filter lost nothing.
    Threshold stays integer on both engines ((p+q)·I >= p·(|A|+|B|));
    jaccard is one IEEE division of integer-valued doubles."""
    return D.jaccard_join_exact(_docs(spark, sf_dir), threshold=(1, 2))


ORACLES["jaccard_pairs"] = f"""
WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.a_id, i.b_id, i.n_shared, ca.n AS n_a, cb.n AS n_b,
       CAST(i.n_shared AS DOUBLE) / CAST(ca.n + cb.n - i.n_shared AS DOUBLE) AS jaccard
FROM inter i
JOIN cnt ca ON i.a_id = ca.doc_id
JOIN cnt cb ON i.b_id = cb.doc_id
WHERE 3 * i.n_shared >= 1 * (ca.n + cb.n)
"""
QUERIES["jaccard_pairs"] = q_jaccard_pairs


