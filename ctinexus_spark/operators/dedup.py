"""Deduplication operators for web-scale training-data pipelines.

All hot paths are JVM-side DataFrame expressions (whole-stage
codegen); the only UDF is the SimHash packer (Arrow-batched).

- exact dedup      : md5 fingerprint → groupBy, keep min id
- shingling        : 3-token shingles via native transform/slice
- MinHash          : k seeded md5 minima over distinct shingles
                     (portable: md5 is identical in Spark and DuckDB)
- LSH banding      : band key = md5(concat of band minima); candidate
                     pairs = docs sharing a band bucket (self-join on
                     the bucket key — the scale path: no O(n²))
- n-gram Jaccard   : |A∩B| / |A∪B| over distinct shingles for
                     candidate pairs (exact verify step after LSH)
- SimHash          : 48-bit sign-sum over token hashes (pandas UDF)
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ctinexus_spark.partitioning import barrier

MINHASH_SEEDS = 8
BAND_SIZE = 2  # 4 bands of 2 minima each


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def shingle_col(text_col: str = "text", k: int = 3) -> Column:
    """Distinct k-token shingles, JVM-side."""
    toks = _tokens(text_col)
    return F.when(
        F.size(toks) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, canonical_id, n_docs) — canonical = min id."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", seeds: int = MINHASH_SEEDS
) -> DataFrame:
    """(id, h0..h{seeds-1}) — min of seeded md5 over distinct shingles.
    Docs with no shingles are dropped (nothing to compare)."""
    from ctinexus_spark.partitioning import ensure_parallelism

    sh = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(shingle_col(text_col)).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"h{s}")
        for s in range(seeds)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seeds: int = MINHASH_SEEDS,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, band_idx, band_key) — md5 of each band's concatenated
    minima. Docs sharing any (band_idx, band_key) are near-dup
    candidates; the bucket join replaces the O(n²) pair scan."""
    sig = minhash_signatures(docs, id_col, text_col, seeds)
    bands = []
    for b in range(seeds // band_size):
        cols = [F.col(f"h{b * band_size + j}") for j in range(band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_key"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))


MAX_BUCKET = 1000


def lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate pairs (a_id < b_id) from shared LSH buckets.

    Buckets larger than max_bucket are dropped before the self-join —
    the standard Common-Crawl-dedup guard: a degenerate band key (e.g.
    empty-ish docs sharing minima) would contribute n²/2 pairs from one
    bucket, and membership in a bucket that common carries no near-dup
    signal."""
    from ctinexus_spark.operators.similarity import cap_buckets

    # localCheckpoint (not persist): both sides of the self-join consume
    # the band lineage (shingle explode + 8 md5 minima) — unmaterialized
    # it computes twice, and an explicit persist would leak in the cache
    # manager with no safe point to unpersist a lazily-consumed result.
    # localCheckpointed blocks are GC-reclaimed once unreferenced.
    bands = barrier(lsh_bands(docs, id_col, text_col))
    bands = cap_buckets(bands, ["band_idx", "band_key"], max_bucket)
    a = bands.select(F.col(id_col).alias("a_id"), "band_idx", "band_key")
    b = bands.select(F.col(id_col).alias("b_id"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def lsh_star_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """(a_id, b_id) star edges per LSH bucket: every member links to
    its bucket's MINIMUM id instead of to every other member.

    Connectivity-equivalent to lsh_candidates (a bucket's members are
    all reachable through its min-id hub, and cross-bucket links come
    from shared membership exactly as before), but LINEAR in bucket
    size where the pair join is quadratic: a 1000-member boilerplate
    bucket contributes 999 edges instead of ~500k pairs. This is the
    edge set dedup_keep_list feeds to connected components — cluster
    formation needs connectivity only; use lsh_candidates when each
    pair is individually verified downstream (shingle_overlap)."""
    from ctinexus_spark.operators.similarity import cap_buckets

    bands = barrier(lsh_bands(docs, id_col, text_col))
    bands = cap_buckets(bands, ["band_idx", "band_key"], max_bucket)
    return _star_edges_from_bands(bands, id_col)


def _star_edges_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """(a_id, b_id) member→bucket-min star edges from a (id, band_idx,
    band_key) table — shared by lsh_star_edges and the incremental
    admission path so the star construction has one definition."""
    hubs = bands.groupBy("band_idx", "band_key").agg(F.min(id_col).alias("_hub"))
    return (
        bands.join(hubs, ["band_idx", "band_key"])
        .filter(F.col(id_col) != F.col("_hub"))
        .select(F.col("_hub").alias("a_id"), F.col(id_col).alias("b_id"))
        .distinct()
    )


def shingle_overlap(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 2,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥ min_shared shingles.

    `candidates` (a_id, b_id — e.g. lsh_candidates output) is the
    scale path: shared-shingle counts are computed ONLY for candidate
    pairs via two equi-joins (cand⨝a on a_id, then ⨝b on (b_id,
    shingle)), so cost is |candidates|·|doc| instead of the corpus-wide
    shingle self-join, which is quadratic on hot shingles.

    candidates=None keeps the exact corpus-wide variant — the
    TEST-ONLY baseline (round-1 anti-pattern #3); never run it at
    scale.

    min_shared must be >= 1: at 0 the candidate path would emit every
    candidate pair, including pairs with no shingle in common.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    from ctinexus_spark.partitioning import ensure_parallelism

    if candidates is not None:
        # Candidate-gated path, array form (optimization round 6, guide
        # §2.4): shingle_col already yields each doc's DISTINCT shingle
        # array, so the shared count is size(array_intersect(...)) over
        # the two docs' arrays — no shingle explode, no (b_id, shingle)
        # equi-join of exploded rows, no pair-count aggregation, and
        # the per-doc sizes ride along instead of re-joining. Integer
        # results identical to the exploded join-count.
        arr = barrier(
            ensure_parallelism(docs)
            .select(F.col(id_col), shingle_col(text_col).alias("toks"))
            .select(
                id_col, "toks", F.size("toks").cast("bigint").alias("n_shingles")
            )
        )  # consumed by both join sides
        ta = arr.select(
            F.col(id_col).alias("a_id"),
            F.col("toks").alias("toks_a"),
            F.col("n_shingles").alias("a_n"),
        )
        tb = arr.select(
            F.col(id_col).alias("b_id"),
            F.col("toks").alias("toks_b"),
            F.col("n_shingles").alias("b_n"),
        )
        return (
            candidates.select("a_id", "b_id")
            .join(ta, "a_id")
            .join(tb, "b_id")
            .select(
                "a_id",
                "b_id",
                F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint").alias("n_shared"),
                "a_n",
                "b_n",
            )
            .filter(F.col("n_shared") >= min_shared)
            .select(
                "a_id", "b_id", "n_shared",
                (F.col("n_shared").cast("double")
                 / (F.col("a_n") + F.col("b_n") - F.col("n_shared")).cast("double")).alias("jaccard"),
            )
        )

    # corpus-wide exact variant (TEST-ONLY baseline)
    sh = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(shingle_col(text_col)).alias("shingle")
    )
    counts = sh.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b = sh.select(F.col(id_col).alias("b_id"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(counts.select(F.col(id_col).alias("a_id"), F.col("n_shingles").alias("a_n")), "a_id")
        .join(counts.select(F.col(id_col).alias("b_id"), F.col("n_shingles").alias("b_n")), "b_id")
        .select(
            "a_id", "b_id", "n_shared",
            (F.col("n_shared").cast("double")
             / (F.col("a_n") + F.col("b_n") - F.col("n_shared")).cast("double")).alias("jaccard"),
        )
    )


SIMHASH_BITS = 48


def _simhash_one(tokens: list[str], bits: int = SIMHASH_BITS) -> int:
    """Scalar reference kernel (tests + documentation of the exact
    bit semantics); the hot path is _simhash_batch."""
    acc = [0] * bits
    for t in tokens:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[: bits // 4], 16)
        for j in range(bits):
            acc[j] += 1 if (h >> j) & 1 else -1
    v = 0
    for j in range(bits):
        if acc[j] > 0:
            v |= 1 << j
    return v


# Bound on the signs[inv[...]] gather materialized per sub-chunk of
# _simhash_batch: 2^16 tokens × 48 bits × 4 B ≈ 12.6 MB transient per
# executor thread. Without the bound a 10k-record Arrow batch of
# ~1k-token web documents would gather a (total_tokens × 48) int32
# matrix — ~2 GB per thread, an OOM the per-doc loop never had.
_SIMHASH_TOKEN_CHUNK = 1 << 16


def _simhash_batch(texts, bits: int = SIMHASH_BITS) -> "pd.Series":
    """Vectorized SimHash over one Arrow batch of texts, bit-identical
    to _simhash_one: Python md5 runs once per DISTINCT token in the
    batch (np.unique collapses the Zipfian repeat mass); sign sums run
    numpy-side over doc-boundary-aligned sub-chunks of the flat token
    stream so the expanded gather stays under _SIMHASH_TOKEN_CHUNK
    tokens (add.reduceat per chunk; a single oversized doc falls back
    to slice-wise accumulation). Bit-identity with the scalar kernel
    is pinned by the hypothesis test in test_aux_operators."""
    import numpy as np

    tok_lists = [(t or "").split(" ") for t in texts]
    if not tok_lists:
        return pd.Series([], dtype="int64")
    n_docs = len(tok_lists)
    counts = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64, count=n_docs)
    flat = np.asarray([t for tl in tok_lists for t in tl], dtype=object)
    uniq, inv = np.unique(flat, return_inverse=True)
    nhex = bits // 4
    hs = np.fromiter(
        (int(hashlib.md5(t.encode("utf-8")).hexdigest()[:nhex], 16) for t in uniq),
        dtype=np.int64,
        count=len(uniq),
    )
    js = np.arange(bits, dtype=np.int64)
    signs = (((hs[:, None] >> js[None, :]) & 1) * 2 - 1).astype(np.int32)
    offsets = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])

    acc = np.empty((n_docs, bits), dtype=np.int64)
    d0 = 0
    while d0 < n_docs:
        # extend [d0, d1) while the chunk stays under the token bound
        # (always take at least one doc)
        d1 = d0 + 1
        tok0 = offsets[d0]
        while d1 < n_docs and offsets[d1] + counts[d1] - tok0 <= _SIMHASH_TOKEN_CHUNK:
            d1 += 1
        tok1 = offsets[d1 - 1] + counts[d1 - 1]
        if tok1 - tok0 <= _SIMHASH_TOKEN_CHUNK:
            acc[d0:d1] = np.add.reduceat(
                signs[inv[tok0:tok1]], offsets[d0:d1] - tok0, axis=0
            )
        else:
            # single doc longer than the chunk: accumulate its sign sum
            # slice by slice (integer addition — order-independent)
            a = np.zeros(bits, dtype=np.int64)
            for s in range(tok0, tok1, _SIMHASH_TOKEN_CHUNK):
                e = min(s + _SIMHASH_TOKEN_CHUNK, tok1)
                a += signs[inv[s:e]].sum(axis=0, dtype=np.int64)
            acc[d0] = a
        d0 = d1
    v = ((acc > 0).astype(np.int64) << js[None, :]).sum(axis=1)
    return pd.Series(v)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash bigint) — 48-bit sign-sum sketch (Arrow-batched)."""
    from ctinexus_spark.partitioning import ensure_parallelism

    @pandas_udf("bigint")
    def _sh(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    return ensure_parallelism(docs).select(F.col(id_col), _sh(F.col(text_col)).alias("simhash"))


def check_simhash_bands(bands: int, max_hamming: int) -> None:
    """Reject banding parameters that break the pigeonhole guarantee:
    bands > SIMHASH_BITS gives 0-bit chunks (one bucket for every
    document), and max_hamming >= bands admits pairs that may share
    no chunk at all (one differing bit per chunk), so they would be
    silently missed."""
    if not 1 <= bands <= SIMHASH_BITS:
        raise ValueError(f"bands must be in 1..{SIMHASH_BITS}, got {bands}")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"max_hamming must be in 0..bands-1 ({bands - 1}), got {max_hamming}"
        )


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Near-dup candidate pairs by SimHash hamming distance.

    Pigeonhole banding: split the 48-bit sketch into `bands` chunks —
    any pair within hamming ≤ bands-1 shares at least one identical
    chunk, so a bucket join on (band_idx, chunk) finds all such pairs
    without O(n²); the exact hamming filter then enforces max_hamming.
    JVM-side bit ops on the sketch; the sketch itself comes from the
    Arrow-batched simhash() UDF. max_bucket drops degenerate hot
    chunk buckets (boilerplate-heavy corpora put thousands of docs on
    one chunk → n_bucket² pairs in a single task) — same guard as
    every other bucket self-join in this module.
    """
    check_simhash_bands(bands, max_hamming)
    sh = simhash(docs, id_col, text_col)
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    # localCheckpoint: see lsh_candidates — barrier for the self-join
    # without a cache-manager leak
    from ctinexus_spark.operators.similarity import cap_buckets

    banded = sh.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.band_idx").alias("band_idx"), F.col("c.chunk").alias("chunk")
    )
    # cap downstream of the barrier: computed once AND plan-visible
    # (test_plans.py::test_ann_topk_plans_carry_bucket_cap pattern)
    banded = cap_buckets(barrier(banded), ["band_idx", "chunk"], max_bucket)

    a = banded.select(F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sh"), "band_idx", "chunk")
    b = banded.select(F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sh"), "band_idx", "chunk")
    pairs = (
        a.join(b, ["band_idx", "chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def dedup_keep_list(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
    contract_hubs: bool = True,
) -> DataFrame:
    """The end-to-end near-dup decision a training-data pipeline ships:
    MinHash→LSH candidates → duplicate clusters (distributed CC) →
    keep exactly the minimum-id member of every cluster plus all
    unclustered docs. Every stage is a bucketed equi-join or a
    label-propagation round — the full Common-Crawl dedup funnel with
    no all-pairs step.

    Default path (contract_hubs=True, round 5): HUB-GRAPH CONTRACTION.
    Each ≥2-member bucket elects its minimum member as hub; a doc links
    each of its hubs to its own minimum hub, and connected components
    run over the HUB graph only. CC's iterative state shrinks from
    every banded document to one vertex per near-dup bucket — on a
    mostly-unique crawl that is the small fraction of the corpus
    actually involved in duplication, so the ~6 label-propagation
    rounds iterate over orders of magnitude fewer rows at 100 TB. The
    keep list is EXACTLY the star-edge path's: a cluster's global
    minimum member m* sits in some bucket whose hub is ≤ every member
    including m*, hence equals m* — so m* is itself a hub, component
    minima coincide, and a doc is dropped iff its component label
    differs from its id (pinned equivalent to contract_hubs=False by
    test_aux_operators).

    contract_hubs=False keeps the member-level star-edge funnel
    (lsh_star_edges → CC over all banded docs): linear in bucket size,
    identical components to the pair-join edge set."""
    from ctinexus_spark.graph.components import connected_components

    if not contract_hubs:
        edges = lsh_star_edges(docs, id_col, text_col, max_bucket)
        comps = connected_components(edges, "a_id", "b_id")
        drops = comps.filter(F.col("vertex") != F.col("component")).select(
            F.col("vertex").alias(id_col)
        )
        return docs.select(id_col).join(drops, id_col, "left_anti")

    from ctinexus_spark.operators.similarity import cap_buckets

    bands = barrier(lsh_bands(docs, id_col, text_col))
    bands = cap_buckets(bands, ["band_idx", "band_key"], max_bucket)
    hubs = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.min(id_col).alias("_hub"), F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )
    # (doc, hub) membership — only buckets that witness duplication
    mem = (
        bands.join(hubs, ["band_idx", "band_key"])
        .select(F.col(id_col), F.col("_hub").alias("hub"))
        .distinct()
    )
    # a doc's anchor hub + hub-hub edges through shared membership;
    # barrier: mem feeds both the anchor aggregate and the edge join
    mem = barrier(mem)
    anchors = mem.groupBy(id_col).agg(F.min("hub").alias("hub0"))
    anchors = barrier(anchors)
    hub_edges = (
        mem.join(anchors, id_col)
        .filter(F.col("hub") != F.col("hub0"))
        .select(F.col("hub").alias("a_id"), F.col("hub0").alias("b_id"))
        .distinct()
    )
    comps = connected_components(hub_edges, "a_id", "b_id")
    labels = (
        anchors.join(
            comps.select(F.col("vertex").alias("hub0"), "component"), "hub0", "left"
        )
        .select(
            F.col(id_col),
            F.coalesce("component", "hub0").alias("component"),
        )
    )
    drops = labels.filter(F.col(id_col) != F.col("component")).select(id_col)
    return docs.select(id_col).join(drops, id_col, "left_anti")


def dedup_keep_list_incremental(
    new_docs: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
    index_fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup admission — the daily-crawl shape: sketch
    ONLY the new batch and decide each new document against (a) the
    stored band index of the already-admitted corpus and (b) the other
    documents in the batch. Returns one row per admitted doc's band —
    (id, band_idx, band_key, fingerprint=NULL) — ready to append to the
    index (the index stays the single accumulating state, exactly what
    a 100 TB corpus can afford to carry forward; nothing is ever
    resketched).

    Docs with NO surviving bands (text too short to shingle, or every
    band in an over-cap hot bucket) go through an EXACT-HASH side
    channel instead of being admitted blind: empty/boilerplate-short
    pages are among the most duplicated documents in real crawls, and
    the LSH funnel is structurally silent on them. md5(text) dedupes
    them within the batch (min-id winner via one map-side-combined
    aggregation — no join on the hot fingerprint, so a billion-fold
    empty-page clique collapses before any shuffle fan-out) and, when
    `index_fingerprints` (a `fingerprint` column of previously admitted
    band-less docs) is supplied, against the stored corpus. Admitted
    band-less docs appear once with NULL band columns and their
    fingerprint populated — the appendable side state, symmetric with
    the band rows.

    A banded doc is dropped if any of its bands hits an existing index
    bucket (near-dup of an admitted doc), or if it collides with a
    smaller-id batch member (within-batch dedup, min-id wins via the
    same star-edge + CC decision as the batch funnel).

    Scale shape: the index probe is one equi-join on (band_idx,
    band_key) against the stored band table — no index rescan, no
    pairwise work; within-batch the standard capped star-edge funnel
    runs on the (small) batch only; the fingerprint channel is one
    partial aggregation plus one anti-join on distinct fingerprints."""
    from ctinexus_spark.graph.components import connected_components
    from ctinexus_spark.operators.similarity import cap_buckets
    from ctinexus_spark.partitioning import barrier

    bands = barrier(lsh_bands(new_docs, id_col, text_col))
    bands = cap_buckets(bands, ["band_idx", "band_key"], max_bucket)

    # (a) near-dup of the admitted corpus: any band bucket collision
    hit_index = (
        bands.join(
            index_bands.select("band_idx", "band_key").distinct(),
            ["band_idx", "band_key"],
        )
        .select(id_col)
        .distinct()
    )
    # three consumers below (star edges twice via hubs+join, final
    # projection) — barrier so the cap join + index probe run once
    fresh = barrier(bands.join(hit_index, id_col, "left_anti"))

    # (b) within-batch dedup over the remaining docs: star edges + CC
    edges = _star_edges_from_bands(fresh, id_col)
    drops = connected_components(edges, "a_id", "b_id").filter(
        F.col("vertex") != F.col("component")
    ).select(F.col("vertex").alias(id_col))

    admitted_banded = fresh.join(drops, id_col, "left_anti").select(
        id_col,
        "band_idx",
        "band_key",
        F.lit(None).cast("string").alias("fingerprint"),
    )

    # (c) band-less docs: exact-hash channel. Aggregate BEFORE the
    # index probe so a hot fingerprint collapses map-side first.
    bandless = (
        new_docs.join(bands.select(id_col).distinct(), id_col, "left_anti")
        .select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    if index_fingerprints is not None:
        bandless = bandless.join(
            index_fingerprints.select("fingerprint").distinct(),
            "fingerprint",
            "left_anti",
        )
    admitted_bandless = bandless.select(
        id_col,
        F.lit(None).cast("int").alias("band_idx"),
        F.lit(None).cast("string").alias("band_key"),
        "fingerprint",
    )
    return admitted_banded.unionByName(admitted_bandless)


def semantic_dedup_keeplist(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    cells: int | None = None,
    centroids: list[list[float]] | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep-list: cluster embeddings with
    the IVF coarse quantizer, connect within-cell pairs whose cosine
    clears `threshold`, and keep exactly the minimum-id member of each
    semantic-duplicate component (plus everything unclustered). The
    embedding-space analogue of the MinHash keep-list — what prunes
    paraphrased/templated text that lexical dedup cannot see.

    Scale shape: cell assignment is one Arrow GEMM pass; pair scoring
    is a cell-bucketed equi-join bounded by max_cell (a degenerate hot
    cell is dropped, same guard as ivf_topk); clustering is the
    distributed CC operator. cells should track corpus size
    (suggest_ivf_cells) so in-cell pair cost stays ~n²/cells."""
    from ctinexus_spark.graph.components import connected_components
    from ctinexus_spark.operators.similarity import (
        MAX_CELL,
        N_IVF_CELLS,
        cap_buckets,
        cosine_expr,
        ivf_assign,
    )
    from ctinexus_spark.partitioning import barrier

    cells = cells if cells is not None else N_IVF_CELLS
    max_cell = max_cell if max_cell is not None else MAX_CELL
    cellmap = ivf_assign(embeddings, id_col, vec_col, cells=cells, centroids=centroids)
    withc = barrier(embeddings.join(cellmap, id_col))
    capped = cap_buckets(withc, ["cell"], max_cell)
    a = capped.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"), "cell")
    b = capped.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"), "cell")
    edges = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cosine_expr("a_vec", "b_vec").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id")
    )
    comps = connected_components(edges, "a_id", "b_id")
    drops = comps.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias(id_col)
    )
    return embeddings.select(id_col).join(drops, id_col, "left_anti")


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    band_planes: int = 8,
    max_bucket: int = MAX_BUCKET,
    input_materialized: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-gated — the scale path:
    banded sign-LSH buckets (OR-amplified for recall) produce candidate
    pairs via an equi bucket join, then the exact cosine threshold
    re-ranks. No nested-loop join, no full-table broadcast; cost is
    Σ bucket²/2 per band, bounded by the max_bucket cap.

    input_materialized=True (optimization round 6): the caller asserts
    `embeddings` is already checkpointed/cached, so re-deriving the
    banding per join side is one cheap Arrow pass and the internal
    bands barrier job is skipped — global_entity_resolution passes it
    for its checkpointed entity-text embeddings. Default False keeps
    the barrier: with a lazy expensive input the band lineage would
    otherwise compute once per self-join side."""
    from ctinexus_spark.operators.similarity import cap_buckets, cosine_udf, lsh_band_buckets

    bands = lsh_band_buckets(embeddings, id_col, vec_col, n_bands=n_bands, band_planes=band_planes)
    bands = cap_buckets(bands, ["band_idx", "bucket"], max_bucket)
    if not input_materialized:
        bands = barrier(bands)
    a = bands.select(F.col(id_col).alias("a_id"), "band_idx", "bucket")
    b = bands.select(F.col(id_col).alias("b_id"), "band_idx", "bucket")
    cand = (
        a.join(b, ["band_idx", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ea = embeddings.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    eb = embeddings.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    # Arrow-batched cosine for the re-rank: candidate pairs number
    # ~n²/2^band_planes per band — the HOF expression path interprets
    # per element and GC-thrashes there; cosine_udf is bit-identical
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", cosine_udf()(F.col("a_vec"), F.col("b_vec")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def jaccard_join_exact(
    docs: DataFrame,
    threshold: tuple[int, int] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering
    (PPJoin-style), the deterministic sibling of the MinHash funnel.

    Returns every pair with shingle-Jaccard >= p/q — no probabilistic
    recall loss, no bucket cap. The prefix principle keeps it off the
    O(n²) path: order each doc's distinct k-shingles by ascending
    GLOBAL document frequency (ties by shingle value); two sets with
    J >= t must share at least one token among each other's first
    |s| - ceil(t·|s|) + 1 tokens, so candidate generation equi-joins
    only on those prefix tokens — the globally RAREST ones — and adds
    the length filter p·max(|A|,|B|) <= q·min(|A|,|B|). Verification
    recounts the true intersection per candidate pair and applies the
    integer test (p+q)·I >= p·(|A|+|B|)  ⟺  I/(|A|+|B|-I) >= p/q,
    so the threshold never touches floats; the reported `jaccard` is a
    single IEEE division of integer-valued doubles (bit-exact vs the
    DuckDB brute-force twin).

    Scale: one explode, two partial aggs (per-doc size, global df), a
    per-doc window over bounded sets, an equi-join on rare prefix
    tokens, and an equi-join verify — every stage shuffles on a key
    with natural cardinality control. The frequency ordering is what
    bounds join fan-out: a token appearing in d docs contributes at
    most d prefix rows and only while it ranks inside the prefix,
    which for hot tokens it does not.
    """
    p, q = threshold
    if not (0 < p <= q):
        raise ValueError(f"threshold must be a rational in (0,1], got {p}/{q}")
    from ctinexus_spark.partitioning import ensure_parallelism

    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_col(text_col, k)).alias("shingle"),
    )
    sh = barrier(sh)  # consumed twice below (df-freq + the arr groupBy)
    df_freq = sh.groupBy("shingle").agg(F.count("*").cast("bigint").alias("df"))
    # Per-doc frequency-sorted shingle ARRAY (optimization round 6,
    # guide §2.4): one groupBy replaces the former window rank (its own
    # full-table exchange+sort), the per-doc size aggregation AND the
    # sizes re-join — n_tok is the array length and the prefix is an
    # array slice. (df, shingle) pairs are unique per doc (shingles are
    # distinct), so array_sort reproduces the row_number order exactly.
    arr = barrier(
        sh.join(df_freq, "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ds"))
        .select(
            "doc_id",
            F.transform("ds", lambda x: x["shingle"]).alias("toks"),
            F.size("ds").cast("bigint").alias("n_tok"),
        )
    )  # consumed 3× (prefix + both verify sides)
    # prefix length = n - ceil(p·n/q) + 1, all-integer arithmetic
    ceil_pn_q = (F.lit(p) * F.col("n_tok") + F.lit(q - 1)) / F.lit(q)
    plen = (
        F.col("n_tok") - F.floor(ceil_pn_q).cast("bigint") + F.lit(1)
    ).cast("int")
    prefix = arr.select(
        "doc_id", "n_tok", F.explode(F.slice("toks", F.lit(1), plen)).alias("shingle")
    )
    a = prefix.select(
        F.col("doc_id").alias("a_id"), "shingle", F.col("n_tok").alias("n_a")
    )
    b = prefix.select(
        F.col("doc_id").alias("b_id"), "shingle", F.col("n_tok").alias("n_b")
    )
    # candidate pairs CARRY their sizes (n_a/n_b are functions of the
    # ids, so the distinct's cardinality is unchanged) — no sizes
    # re-join after verification
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            # length filter: J >= p/q forces p·max <= q·min
            & (F.lit(p) * F.greatest("n_a", "n_b") <= F.lit(q) * F.least("n_a", "n_b"))
        )
        .select("a_id", "b_id", "n_a", "n_b")
        .distinct()
    )
    # verify: exact distinct-intersection via array_intersect over the
    # two docs' shingle arrays — two equi-joins against the |docs|-row
    # arr table instead of two joins against the exploded shingle table
    # plus a pair-count aggregation
    ta = arr.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("toks_a"))
    tb = arr.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("toks_b"))
    return (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint").alias("n_shared"),
            "n_a",
            "n_b",
        )
        .filter(F.lit(p + q) * F.col("n_shared") >= F.lit(p) * (F.col("n_a") + F.col("n_b")))
        .select(
            "a_id",
            "b_id",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )
