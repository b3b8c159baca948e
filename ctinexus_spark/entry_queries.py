"""Paired Spark queries + DuckDB oracle SQL for the driver contract.

Each entry runs the REAL pipeline operators over the driver-provided
tables at a given sf dir (TESTDATA.md) in deterministic lexicon mode,
and ships an ANSI-SQL twin that DuckDB executes over the same parquet.
Column names and types are aligned on both sides — the driver's
compare hashes values after sorting columns by name.

The lexicon-mode pipeline is exactly the production CTI path (same
operators, same UDFs); only the stub ModelClient's term recognizer
differs, which is what makes the semantics SQL-expressible:
- IE      : adjacent recognized terms → (term_i, 'precedes', term_i+1)
- ET      : class = lexicon[term]
- EA      : no cosine pair ≥ 0.6 among distinct lexicon terms
            (verified: max pairwise cosine 0.33), so alignment reduces
            to the dense-id minting semantics — which IS the thing the
            oracle checks (first-occurrence ids, class-blocked entity
            numbering).
- LP      : chain-shaped docs form a single component per doc, so
            main/topic selection is a pure degree-argmax — again
            SQL-expressible, *including* component columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import StubModel
from ctinexus_spark.operators.fused import (
    align_graph_triples,
    aligned_nodes,
    entity_graph,
    extract_and_tag,
    kg_rows,
    link_main_pairs,
)
from ctinexus_spark.operators.ie import extract_triples
from ctinexus_spark.operators.normalize import normalize_documents
from ctinexus_spark.partitioning import barrier

# Term → entity class over the driver corpus vocabulary.
LEXICON = {
    "spark": "Engine",
    "query": "Workload",
    "join": "Operator", "filter": "Operator", "scan": "Operator",
    "sort": "Operator", "merge": "Operator", "window": "Operator",
    "agg": "Operator", "group": "Operator",
    "hash": "Algorithm",
    "table": "Object", "column": "Object", "row": "Object",
    "batch": "Object", "stream": "Object", "vector": "Object",
    "data": "Object", "key": "Object", "value": "Object",
    "customer": "Domain", "line": "Domain", "part": "Domain",
    "order": "Domain",
    "big": "Qualifier", "small": "Qualifier", "fast": "Qualifier",
    "slow": "Qualifier",
}

CONFIG = PipelineConfig(lexicon=LEXICON)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").cast("string").alias("url"),
            "text",
            "lang",
        )
    )


def _docs_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no lang filter: the oracle covers the full corpus
    return normalize_documents(load_documents(spark, sf_dir), lang_filter=None)


def _ie(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_norm(spark, sf_dir)
    return extract_triples(docs, StubModel(CONFIG)).filter("valid")


def _fused(spark: SparkSession, sf_dir: str, model=None, cfg: PipelineConfig = CONFIG,
           docs: DataFrame | None = None) -> DataFrame:
    """The fused rows (operators/fused.FUSED_SCHEMA) over the normalized
    corpus, or over `docs` when given: every ET/EA/LP/KG query below is
    a select/filter of them. Lazy and uncached; a query with more than
    one consumer of the rows barriers them itself."""
    model = model or StubModel(cfg)
    docs = _docs_norm(spark, sf_dir) if docs is None else docs
    return align_graph_triples(extract_and_tag(docs, model), model, cfg)


def _links(spark: SparkSession, sf_dir: str, model) -> tuple[DataFrame, DataFrame]:
    """Barriered fused rows and their main → topic link rows: the pair
    urls' subquery and the pair join both read the rows, so an
    unbarriered lineage would compute twice."""
    fused = barrier(_fused(spark, sf_dir, model))
    return fused, link_main_pairs(fused, _docs_norm(spark, sf_dir), model)


def _entities(fused: DataFrame) -> DataFrame:
    return entity_graph(fused).select(_doc_id(), "entity_id", "entity_text")


def _doc_id():
    return F.col("url").cast("bigint").alias("doc_id")


# --- Spark side -------------------------------------------------------


def q_ie_triples(spark, sf_dir):
    return _ie(spark, sf_dir).select(_doc_id(), "t_idx", "subject", "relation", "object")


def q_ie_counts(spark, sf_dir):
    return (
        _ie(spark, sf_dir)
        .groupBy(_doc_id())
        .agg(F.count("*").cast("bigint").alias("n_triples"))
    )


def q_et_typed(spark, sf_dir):
    return _fused(spark, sf_dir).filter(F.col("row_type") == "triple").select(
        _doc_id(), "t_idx",
        F.col("s_text").alias("subject_text"), F.col("s_class").alias("subject_class"),
        "relation",
        F.col("o_text").alias("object_text"), F.col("o_class").alias("object_class"),
    )


def q_ea_mentions(spark, sf_dir):
    return aligned_nodes(_fused(spark, sf_dir)).select(
        _doc_id(), "mention_id", "mention_text", "mention_class"
    ).distinct()


def q_ea_entities(spark, sf_dir):
    return _entities(_fused(spark, sf_dir))


def q_lp_graph(spark, sf_dir):
    return entity_graph(_fused(spark, sf_dir)).select(
        _doc_id(), "entity_id", "entity_text", "component_id",
        "component_size", "degree", "is_main", "is_topic",
    )


def q_kg_triples(spark, sf_dir):
    """The KG as run_pipeline assembles it: extracted triples plus
    every ok link, from one barriered pass."""
    fused, links = _links(spark, sf_dir, StubModel(CONFIG))
    return kg_rows(fused, links).select(_doc_id(), "subj", "pred", "obj", "source")


def q_kg_fused(spark, sf_dir):
    """Same result as q_kg_triples through fused_kg, which skips the
    link branch when no main pair exists — shares the kg_triples
    oracle."""
    from ctinexus_spark.operators.fused import fused_kg

    kg = fused_kg(_docs_norm(spark, sf_dir), StubModel(CONFIG), CONFIG)
    return kg.select(_doc_id(), "subj", "pred", "obj", "source")


# --- DuckDB oracle side -------------------------------------------------

_TERMS_SQL = ", ".join(f"'{t}'" for t in LEXICON)


def _class_case(col: str, lexicon: dict[str, str] | None = None) -> str:
    return (
        f"CASE {col} "
        + " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in (lexicon or LEXICON).items())
        + " ELSE 'default' END"
    )


_CLASS_CASE = _class_case("term")


def _base_sql(lexicon: dict[str, str] | None = None, text_expr: str = "text") -> str:
    """Shared CTE prefix (recognized tokens with positions → triples →
    mentions → entities → degrees), parameterized so variants can
    extend the lexicon or derive tokens from a modified text column."""
    lex = lexicon or LEXICON
    terms_sql = ", ".join(f"'{t}'" for t in lex)
    class_case = _class_case("term", lex)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(str_split({text_expr}, ' '), w -> w IN ({terms_sql}))) AS term,
         generate_subscripts(list_filter(str_split({text_expr}, ' '), w -> w IN ({terms_sql})), 1) AS pos
  FROM documents
),
trip AS (
  SELECT a.doc_id, CAST(a.pos - 1 AS INT) AS t_idx, a.term AS s, b.term AS o
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
ment AS (
  SELECT doc_id, term, min(pos) AS fp
  FROM toks GROUP BY doc_id, term
),
eligible AS (
  SELECT doc_id FROM toks GROUP BY doc_id HAVING count(*) >= 2
),
ment2 AS (
  SELECT m.doc_id, m.term, m.fp,
         CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY m.fp) - 1 AS INT) AS mention_id,
         {class_case} AS cls
  FROM ment m JOIN eligible e ON m.doc_id = e.doc_id
),
clsfp AS (
  SELECT doc_id, cls, min(fp) AS cfp FROM ment2 GROUP BY doc_id, cls
),
ent AS (
  SELECT m.doc_id, m.term, m.mention_id, m.cls,
         CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY c.cfp, m.mention_id) - 1 AS INT) AS entity_id
  FROM ment2 m JOIN clsfp c ON m.doc_id = c.doc_id AND m.cls = c.cls
),
deg AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS degree
  FROM (SELECT doc_id, s AS term FROM trip UNION ALL SELECT doc_id, o AS term FROM trip)
  GROUP BY doc_id, term
)
"""


# shared CTE prefix: recognized tokens with positions, then triples
_BASE = _base_sql()

ORACLES = {
    "ie_triples": _BASE + """
SELECT doc_id, t_idx, s AS subject, 'precedes' AS relation, o AS object FROM trip
""",
    "ie_counts": _BASE + """
SELECT doc_id, count(*) AS n_triples FROM trip GROUP BY doc_id
""",
    "et_typed": _BASE + f"""
SELECT doc_id, t_idx,
       s AS subject_text,
       {_class_case('s')} AS subject_class,
       'precedes' AS relation,
       o AS object_text,
       {_class_case('o')} AS object_class
FROM trip
""",
    "ea_mentions": """
SELECT doc_id, mention_id, term AS mention_text, cls AS mention_class FROM ment2
""",
    "ea_entities": """
SELECT doc_id, entity_id, term AS entity_text FROM ent
""",
    "lp_graph": """
SELECT e.doc_id, e.entity_id, e.term AS entity_text,
       CAST(0 AS INT) AS component_id,
       CAST(count(*) OVER (PARTITION BY e.doc_id) AS INT) AS component_size,
       d.degree,
       (row_number() OVER (PARTITION BY e.doc_id ORDER BY d.degree DESC, e.entity_id) = 1) AS is_main,
       (row_number() OVER (PARTITION BY e.doc_id ORDER BY d.degree DESC, e.entity_id) = 1) AS is_topic
FROM ent e JOIN deg d ON e.doc_id = d.doc_id AND e.term = d.term
""",
    "kg_triples": """
SELECT doc_id, s AS subj, 'precedes' AS pred, o AS obj, 'extracted' AS source FROM trip
""",
}
# queries whose oracle needs the shared CTE prefix
for _name in ("ea_mentions", "ea_entities", "lp_graph", "kg_triples"):
    ORACLES[_name] = _BASE + ORACLES[_name]

def q_lp_split_graph(spark, sf_dir):
    """LP graph analysis over MULTI-component documents: the
    SplitChainModel extractor pairs terms only within each half of a
    document, so docs yield two chains — connected into one component
    exactly when some term participates in both halves (shared
    mention ⇒ shared entity). Exercises component discovery order,
    per-component main selection and largest-component topic choice
    under the SQL oracle."""
    from ctinexus_spark.model import SplitChainModel

    return entity_graph(_fused(spark, sf_dir, SplitChainModel(CONFIG))).select(
        _doc_id(), "entity_id", "entity_text", "component_id",
        "component_size", "degree", "is_main", "is_topic",
    )


def q_kg_entity_degree(spark, sf_dir):
    """Corpus-wide KG analytics: per-document entity participation
    counts over the materialized triple table (the 'graph IS the
    table' query shape of SURVEY §2.1 S5)."""
    kg = q_kg_triples(spark, sf_dir)
    subj = kg.select("doc_id", F.col("subj").alias("entity"))
    obj = kg.select("doc_id", F.col("obj").alias("entity"))
    return (
        subj.unionByName(obj)
        .groupBy("doc_id", "entity")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )


def q_doc_sample(spark, sf_dir):
    """Deterministic 10% corpus sample: md5-prefix threshold — the
    reproducible sampling primitive for eval-split carving (portable:
    md5 is identical in Spark and DuckDB, unlike engine RNGs)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < F.lit("1a")
    ).select("doc_id", "lang", "n_chars")


ORACLES["kg_fused"] = ORACLES["kg_triples"]

# Multi-component LP oracle: pairs never cross the doc's midpoint;
# the two chains share a component iff some term participates in both
# halves. Derivation mirrors doc_kernel.analyze_doc's pinned orders: node
# stream key skey = t_idx*2 + side, discovery order = min skey.
# The CTE prefix (through topcomp) is shared with the lp_links_flaky
# oracle below.
_LP_SPLIT_PREFIX = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(str_split(text, ' '), w -> w IN ({_TERMS_SQL}))) AS term,
         generate_subscripts(list_filter(str_split(text, ' '), w -> w IN ({_TERMS_SQL})), 1) AS pos
  FROM documents
),
nn AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id,
         CAST(a.pos - 1 - CASE WHEN a.pos > (nn.n // 2) THEN 1 ELSE 0 END AS INT) AS t_idx,
         a.term AS s, b.term AS o,
         CASE WHEN a.pos + 1 <= (nn.n // 2) THEN 0 ELSE 1 END AS part
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN nn ON nn.doc_id = a.doc_id
  WHERE a.pos != (nn.n // 2)
),
occ AS (
  SELECT doc_id, s AS term, t_idx * 2 AS skey, part FROM pairs
  UNION ALL
  SELECT doc_id, o AS term, t_idx * 2 + 1 AS skey, part FROM pairs
),
ment AS (
  SELECT doc_id, term, min(skey) AS fs, count(*) AS degree,
         min(part) AS minp, max(part) AS maxp
  FROM occ GROUP BY doc_id, term
),
ment2 AS (
  SELECT doc_id, term, fs, degree, minp, maxp,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fs) - 1 AS INT) AS mention_id,
         {_CLASS_CASE} AS cls
  FROM ment
),
clsfp AS (SELECT doc_id, cls, min(fs) AS cfs FROM ment2 GROUP BY doc_id, cls),
ent AS (
  SELECT m.doc_id, m.term, m.degree, m.minp, m.maxp, m.mention_id,
         CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY c.cfs, m.mention_id) - 1 AS INT) AS entity_id
  FROM ment2 m JOIN clsfp c ON m.doc_id = c.doc_id AND m.cls = c.cls
),
docmerge AS (
  SELECT doc_id, max(CASE WHEN minp != maxp THEN 1 ELSE 0 END) AS merged,
         min(minp) AS first_part
  FROM ment GROUP BY doc_id
),
entcomp AS (
  SELECT e.*, CAST(CASE WHEN d.merged = 1 THEN 0
                        WHEN e.minp = d.first_part THEN 0 ELSE 1 END AS INT) AS component_id
  FROM ent e JOIN docmerge d ON e.doc_id = d.doc_id
),
sized AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY doc_id, component_id) AS INT) AS component_size
  FROM entcomp
),
flags AS (
  SELECT *,
         (row_number() OVER (PARTITION BY doc_id, component_id ORDER BY degree DESC, entity_id) = 1) AS is_main
  FROM sized
),
topcomp AS (
  SELECT doc_id, component_id FROM (
    SELECT doc_id, component_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY component_size DESC, component_id) AS rc
    FROM (SELECT DISTINCT doc_id, component_id, component_size FROM sized)
  ) WHERE rc = 1
)
"""
ORACLES["lp_split_graph"] = _LP_SPLIT_PREFIX + """
SELECT f.doc_id, f.entity_id, f.term AS entity_text, f.component_id, f.component_size,
       CAST(f.degree AS INT) AS degree, f.is_main,
       (f.is_main AND t.component_id = f.component_id) AS is_topic
FROM flags f JOIN topcomp t ON f.doc_id = t.doc_id
"""
ORACLES["kg_entity_degree"] = _BASE + """
SELECT doc_id, entity, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT doc_id, s AS entity FROM trip
  UNION ALL
  SELECT doc_id, o AS entity FROM trip
) GROUP BY doc_id, entity
"""
ORACLES["doc_sample"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
"""


def q_doc_text_norm(spark, sf_dir):
    """Normalization byte-identity (T4) on the driver corpus: the
    word-salad docs contain none of the boilerplate / zero-width
    patterns normalize_text strips, so its output must equal the raw
    text byte for byte — hash-checked by the oracle (the reference-
    corpus twin of this invariant is EVAL.md's 148/148)."""
    return _docs_norm(spark, sf_dir).select(_doc_id(), "text_norm")


ORACLES["doc_text_norm"] = "SELECT doc_id, text AS text_norm FROM documents"


# --- EA cosine-merge under a real alias pair ---------------------------
# StubModel's alias_map drives cosine('join','merge') ≈ 0.96 > the 0.6
# threshold (model.py:93-103), so wherever a document mentions both
# Operator-class terms they merge into one entity — exercising the
# reference's type-blocked pairwise-cosine + star-set clustering +
# frequency-argmax canonical naming (graph_constructor.py:246-441)
# under a value-hashed DuckDB oracle (VERDICT round-1 blind spot #1).

EA_ALIAS_MAP = {"join": "merge"}


def q_ea_entities_merged(spark, sf_dir):
    return _entities(_fused(spark, sf_dir, StubModel(CONFIG, alias_map=EA_ALIAS_MAP)))


# Oracle: the only ≥threshold pair is {join, merge}; clusters are that
# pair (where both terms appear) plus singletons. Entity numbering =
# row_number over (class first-appearance, min member mention_id);
# canonical text = argmax(occurrence count, ties → lower mention_id).
ORACLES["ea_entities_merged"] = _BASE + """
, pairjm AS (
  SELECT j.doc_id, least(j.mention_id, m.mention_id) AS ckey
  FROM ment2 j JOIN ment2 m ON j.doc_id = m.doc_id
  WHERE j.term = 'join' AND m.term = 'merge'
),
clus AS (
  SELECT m2.doc_id, m2.term, m2.cls, m2.mention_id,
         COALESCE(CASE WHEN m2.term IN ('join', 'merge') THEN p.ckey END,
                  m2.mention_id) AS ckey
  FROM ment2 m2 LEFT JOIN pairjm p ON m2.doc_id = p.doc_id
),
canon AS (
  SELECT doc_id, ckey, term AS canon_term FROM (
    SELECT c.doc_id, c.ckey, c.term,
           row_number() OVER (PARTITION BY c.doc_id, c.ckey
                              ORDER BY d.degree DESC, c.mention_id) AS rn
    FROM clus c JOIN deg d ON c.doc_id = d.doc_id AND c.term = d.term
  ) WHERE rn = 1
),
clusters AS (
  SELECT DISTINCT doc_id, cls, ckey FROM clus
),
eid AS (
  SELECT cl.doc_id, cl.ckey,
         CAST(row_number() OVER (PARTITION BY cl.doc_id ORDER BY f.cfp, cl.ckey) - 1 AS INT) AS entity_id
  FROM clusters cl JOIN clsfp f ON cl.doc_id = f.doc_id AND cl.cls = f.cls
)
SELECT e.doc_id, e.entity_id, c.canon_term AS entity_text
FROM eid e JOIN canon c ON e.doc_id = c.doc_id AND e.ckey = c.ckey
"""


# --- kNN demonstration retrieval (I3/I4) under a pinned-fixture oracle --
# TF-IDF math (sklearn-default token pattern, smooth idf, l2 norm —
# tfidf.py) is not expressible in DuckDB SQL, so the oracle is a
# PINNED FIXTURE: the expected top-3 demo ids per sf0.01 document,
# generated once from the 148-demo reference corpus
# (llm_processor.py:1309-1353) and cross-verified against an
# independent Counter/math.log TF-IDF implementation (0 mismatches on
# all 500 docs). The Spark side runs the REAL attach_demos machinery;
# the fixture hash-check catches any retrieval regression.


def q_ie_demo_topk(spark, sf_dir):
    from ctinexus_spark.demos import load_demo_corpus
    from ctinexus_spark.operators.ie import attach_demos

    ids, texts, _ = load_demo_corpus()
    docs = _docs_norm(spark, sf_dir)
    out = attach_demos(docs, texts, ids, CONFIG)
    return out.select(_doc_id(), F.posexplode("demo_ids").alias("rank", "demo_id"))


def _demo_topk_oracle_sql() -> str:
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", "demo_topk_sf001.json")
    with open(path, encoding="utf-8") as f:
        fixture = json.load(f)
    vals = ",\n".join(
        f"({doc_id}, {r}, '{demo.replace(chr(39), chr(39) * 2)}')"
        for doc_id, demos in sorted(fixture.items(), key=lambda kv: int(kv[0]))
        for r, demo in enumerate(demos)
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS INT) AS rank, demo_id
FROM (VALUES {vals}) t(doc_id, rank, demo_id)
"""


ORACLES["ie_demo_topk"] = _demo_topk_oracle_sql()


# --- CC-mode clustering where star-sets and CC genuinely differ ---------
# A transitive alias chain join~merge~sort: embed_overrides pin
# cos(join,merge) = cos(merge,sort) = √2/2 ≥ 0.6 while cos(join,sort)
# = 0 < 0.6 (off-chain Operator-class cosines ≤ 0.36, pinned by
# tests/test_ea_semantics.py). Connected components (the north_star's
# §2.5 A5 semantics, doc_kernel._clusters_cc) merge all three into ONE
# entity; the reference's star-sets (graph_constructor.py:394-436)
# keep overlapping {join,merge} / {join,merge,sort} / {merge,sort}
# clusters with last-write-wins membership — the SURVEY §7 divergence
# case. The oracle hash-checks CC mode; the star/CC divergence on the
# same corpus is pinned by test_ea_semantics.py::test_star_vs_cc_diverge.

CHAIN_TERMS = ("join", "merge", "sort")
CONFIG_CC = PipelineConfig(lexicon=LEXICON, ea_cluster_mode="cc")


def chain_embed_overrides() -> dict[str, list[float]]:
    """Deterministic chain geometry in the stub embedding space:
    join = e1, sort = e2 (Gram-Schmidt of its own stub vector against
    e1), merge = (e1+e2)/√2 — exact cosines (√2/2, √2/2, 0)."""
    import numpy as np

    from ctinexus_spark.model import stub_embedding

    e1 = stub_embedding("join")
    v = stub_embedding("sort")
    e2 = v - float(v @ e1) * e1
    e2 = e2 / np.linalg.norm(e2)
    mid = (e1 + e2) / np.sqrt(2.0)
    return {"join": e1.tolist(), "merge": mid.tolist(), "sort": e2.tolist()}


def q_ea_entities_cc(spark, sf_dir):
    model = StubModel(CONFIG_CC, embed_overrides=chain_embed_overrides())
    return _entities(_fused(spark, sf_dir, model, CONFIG_CC))


# Oracle: whenever 'merge' is present its component is {merge} ∪
# ({join} if present) ∪ ({sort} if present); without 'merge' there is
# no edge, so join/sort stay singletons. Component key = min member
# mention_id (matches _clusters_cc's discovery order over the sorted
# group); entity numbering and canonical naming identical to the
# ea_entities_merged oracle.
ORACLES["ea_entities_cc"] = _BASE + """
, mdocs AS (SELECT DISTINCT doc_id FROM ment2 WHERE term = 'merge'),
chain AS (
  SELECT m.doc_id, min(m.mention_id) AS ckey
  FROM ment2 m JOIN mdocs d ON m.doc_id = d.doc_id
  WHERE m.term IN ('join', 'merge', 'sort')
  GROUP BY m.doc_id
),
clus AS (
  SELECT m2.doc_id, m2.term, m2.cls, m2.mention_id,
         COALESCE(CASE WHEN m2.term IN ('join', 'merge', 'sort') THEN ch.ckey END,
                  m2.mention_id) AS ckey
  FROM ment2 m2 LEFT JOIN chain ch ON m2.doc_id = ch.doc_id
),
canon AS (
  SELECT doc_id, ckey, term AS canon_term FROM (
    SELECT c.doc_id, c.ckey, c.term,
           row_number() OVER (PARTITION BY c.doc_id, c.ckey
                              ORDER BY d.degree DESC, c.mention_id) AS rn
    FROM clus c JOIN deg d ON c.doc_id = d.doc_id AND c.term = d.term
  ) WHERE rn = 1
),
clusters AS (
  SELECT DISTINCT doc_id, cls, ckey FROM clus
),
eid AS (
  SELECT cl.doc_id, cl.ckey,
         CAST(row_number() OVER (PARTITION BY cl.doc_id ORDER BY f.cfp, cl.ckey) - 1 AS INT) AS entity_id
  FROM clusters cl JOIN clsfp f ON cl.doc_id = f.doc_id AND cl.cls = f.cls
)
SELECT e.doc_id, e.entity_id, c.canon_term AS entity_text
FROM eid e JOIN canon c ON e.doc_id = c.doc_id AND e.ckey = c.ckey
"""


# --- IOC unmerge (A8-A10) under a DuckDB oracle -------------------------
# Every document gets two IP literals appended post-normalization; they
# share the class 'Indicator: IP' and an alias-map cosine ≈ 0.96, so EA
# merges them — then the PostProcessor unmerge (cti_processor.py:53-115)
# splits the all-IOC cluster back apart: the canonical member keeps the
# cluster's entity_id, the other gets a fresh id AFTER all clusters.

IOC_A, IOC_B = "10.9.9.1", "10.9.9.2"
LEXICON_IOC = {**LEXICON, IOC_A: "Indicator: IP", IOC_B: "Indicator: IP"}
CONFIG_IOC = PipelineConfig(lexicon=LEXICON_IOC)
IOC_ALIAS_MAP = {IOC_B: IOC_A}


def q_ea_ioc_unmerge(spark, sf_dir):
    docs = _docs_norm(spark, sf_dir).withColumn(
        "text_norm", F.concat(F.col("text_norm"), F.lit(f" {IOC_A} {IOC_B}"))
    )
    model = StubModel(CONFIG_IOC, alias_map=IOC_ALIAS_MAP)
    return _entities(_fused(spark, sf_dir, model, CONFIG_IOC, docs=docs))


# Oracle: IOC_A appears before IOC_B, occurs ≥ as often, and has the
# lower mention_id, so it is canonical: the merged cluster is numbered
# at IOC_A's slot (equivalently: number all terms except IOC_B), and
# the unmerged IOC_B entity gets id = cluster count.
ORACLES["ea_ioc_unmerge"] = _base_sql(
    LEXICON_IOC, f"text || ' {IOC_A} {IOC_B}'"
) + f"""
, ent_main AS (
  SELECT m.doc_id, m.term, m.mention_id,
         CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY c.cfp, m.mention_id) - 1 AS INT) AS entity_id
  FROM ment2 m JOIN clsfp c ON m.doc_id = c.doc_id AND m.cls = c.cls
  WHERE m.term != '{IOC_B}'
),
ncl AS (SELECT doc_id, count(*) AS n FROM ent_main GROUP BY doc_id)
SELECT doc_id, entity_id, term AS entity_text FROM ent_main
UNION ALL
SELECT doc_id, CAST(n AS INT) AS entity_id, '{IOC_B}' AS entity_text FROM ncl
"""


def q_kg_global_entities(spark, sf_dir):
    """Cross-document entity resolution over the corpus's distinct
    entity texts: with the alias-map embeddings, 'join' and 'merge'
    connect (cos ≈ 0.94, sharing LSH bands 1-2 deterministically) and
    collapse to one global id; every other term is its own entity.
    Runs the REAL machinery — Arrow embeddings → banded LSH pairs →
    exact cosine → distributed CC (operators/resolve.py)."""
    from ctinexus_spark.operators.resolve import global_entity_resolution

    entities = entity_graph(_fused(spark, sf_dir))
    model = StubModel(CONFIG, alias_map=EA_ALIAS_MAP)
    return global_entity_resolution(entities, model, CONFIG.similarity_threshold)


ORACLES["kg_global_entities"] = _BASE + """
SELECT entity_text,
       CASE WHEN entity_text IN ('join', 'merge') THEN 'join' ELSE entity_text END AS global_id
FROM (SELECT DISTINCT term AS entity_text FROM ment2)
"""


# --- LP hallucination guard + orientation swap (L7-L8) ------------------


def q_lp_links_flaky(spark, sf_dir):
    """Link-prediction output table under FlakyLinkModel: a
    deterministic md5 slice of main→topic pairs gets a malformed
    answer (missing relation key → hallucination sentinel) and another
    slice a swapped orientation (guard re-orients). Exercises the
    reference's lp_verification path (llm_processor.py:940-965)."""
    from ctinexus_spark.model import FlakyLinkModel

    _fused_rows, links = _links(spark, sf_dir, FlakyLinkModel(CONFIG))
    return links.select(
        _doc_id(), "subject_entity_id", "subject_text", "relation",
        "object_entity_id", "object_text", "status",
    )


# Oracle: reuse the split-chain component derivation, pair each
# non-topic main with the doc's topic, then branch on the same md5 hex
# FlakyLinkModel keys its defects on.
ORACLES["lp_links_flaky"] = _LP_SPLIT_PREFIX + """
, topicrow AS (
  SELECT f.doc_id, f.entity_id AS topic_id, f.term AS topic_text
  FROM flags f JOIN topcomp t ON f.doc_id = t.doc_id AND f.component_id = t.component_id
  WHERE f.is_main
),
mainrow AS (
  SELECT f.doc_id, f.entity_id AS main_id, f.term AS main_text
  FROM flags f JOIN topcomp t ON f.doc_id = t.doc_id
  WHERE f.is_main AND f.component_id != t.component_id
),
linkpairs AS (
  SELECT m.doc_id, m.main_id, m.main_text, t.topic_id, t.topic_text,
         substr(md5(m.main_text || '|' || t.topic_text), 1, 1) AS h
  FROM mainrow m JOIN topicrow t ON m.doc_id = t.doc_id
)
SELECT doc_id,
       CAST(CASE WHEN h < '6' THEN NULL WHEN h < 'a' THEN topic_id ELSE main_id END AS INT) AS subject_entity_id,
       CASE WHEN h < '6' THEN 'hallucination' WHEN h < 'a' THEN topic_text ELSE main_text END AS subject_text,
       CASE WHEN h < '6' THEN 'unknown' ELSE 'related-to' END AS relation,
       CAST(CASE WHEN h < '6' THEN NULL WHEN h < 'a' THEN main_id ELSE topic_id END AS INT) AS object_entity_id,
       CASE WHEN h < '6' THEN 'hallucination' WHEN h < 'a' THEN main_text ELSE topic_text END AS object_text,
       CASE WHEN h < '6' THEN 'hallucination' ELSE 'ok' END AS status
FROM linkpairs
"""

QUERIES = {
    "kg_global_entities": q_kg_global_entities,
    "ea_entities_merged": q_ea_entities_merged,
    "ea_entities_cc": q_ea_entities_cc,
    "ie_demo_topk": q_ie_demo_topk,
    "ea_ioc_unmerge": q_ea_ioc_unmerge,
    "lp_links_flaky": q_lp_links_flaky,
    "kg_fused": q_kg_fused,
    "kg_entity_degree": q_kg_entity_degree,
    "lp_split_graph": q_lp_split_graph,
    "doc_sample": q_doc_sample,
    "doc_text_norm": q_doc_text_norm,
    "ie_triples": q_ie_triples,
    "ie_counts": q_ie_counts,
    "et_typed": q_et_typed,
    "ea_mentions": q_ea_mentions,
    "ea_entities": q_ea_entities,
    "lp_graph": q_lp_graph,
    "kg_triples": q_kg_triples,
}


def q_kg_entity_cooc(spark, sf_dir):
    """Cross-document entity co-occurrence lift over the materialized
    KG: pairs of entities appearing in >= 2 common documents, scored
    by lift = P(a,b)/(P(a)·P(b)) = (n_ab·N)/(n_a·n_b) — the 'related
    entities' panel every CTI product derives from its KG (reference
    renders per-doc graphs; at scale the graph IS the triple table and
    this is one groupBy + one per-doc pair join over it). Lift is one
    IEEE division of exact integer-valued doubles, so both engines agree;
    the corpus total N attaches as a keyless 1-row broadcast aggregate
    — no driver collect."""
    kg = q_kg_triples(spark, sf_dir)
    ents = barrier(
        kg.select("doc_id", F.col("subj").alias("entity"))
        .unionByName(kg.select("doc_id", F.col("obj").alias("entity")))
        .distinct()
    )
    cnt = ents.groupBy("entity").agg(F.count("*").cast("bigint").alias("n"))
    tot = ents.select(
        F.count_distinct(F.col("doc_id")).cast("bigint").alias("n_docs")
    )
    a = ents.select("doc_id", F.col("entity").alias("entity_a"))
    b = ents.select("doc_id", F.col("entity").alias("entity_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ca = cnt.select(F.col("entity").alias("entity_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("entity").alias("entity_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ca, "entity_a")
        .join(cb, "entity_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "entity_a",
            "entity_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


ORACLES["kg_entity_cooc"] = _BASE + """
, ed AS (
  SELECT DISTINCT doc_id, s AS entity FROM trip
  UNION
  SELECT DISTINCT doc_id, o AS entity FROM trip
),
cnt AS (SELECT entity, CAST(count(*) AS BIGINT) AS n FROM ed GROUP BY entity),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM ed),
pr AS (
  SELECT a.entity AS entity_a, b.entity AS entity_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
  GROUP BY a.entity, b.entity HAVING count(*) >= 2
)
SELECT pr.entity_a, pr.entity_b, pr.n_ab, ca.n AS n_a, cb.n AS n_b,
       CAST(pr.n_ab * tot.nd AS DOUBLE) / CAST(ca.n * cb.n AS DOUBLE) AS lift
FROM pr
JOIN cnt ca ON pr.entity_a = ca.entity
JOIN cnt cb ON pr.entity_b = cb.entity
CROSS JOIN tot
"""
QUERIES["kg_entity_cooc"] = q_kg_entity_cooc
