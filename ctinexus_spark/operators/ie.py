"""IE stage: kNN demonstration retrieval + batched triple extraction.

Reference behavior: per document, retrieve top-k TF-IDF-similar demos
(llm_processor.py:1309-1353), build a prompt, one LLM call, tolerant
JSON parse, validation filter (llm_processor.py:1185-1211, 81-137).

Spark shape:
- the demo corpus (~148 docs) is fit into a TF-IDF model once on the
  driver and captured by closure → broadcast to executors; retrieval
  is a *broadcast kNN join* inside a pandas UDF — zero shuffle.
- extraction runs in a scalar pandas UDF chained onto the normalize
  UDF (per_document_rows): one ModelClient batch call per Arrow batch
  (strictly better batching than the reference's one-call-per-doc);
  each response goes through
  doc_kernel.parse_extraction (JSON repair + validation), the parse
  the fused path shares.
- invalid triplets land in a `valid=false` side-output instead of a
  log line.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.doc_kernel import parse_extraction
from ctinexus_spark.tfidf import TfidfModel, clean_for_retrieval

IE_SCHEMA = (
    "url string, t_idx int, subject string, relation string, object string, valid boolean"
)


def attach_demos(
    docs: DataFrame,
    demo_texts: list[str],
    demo_ids: list[str],
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Add `demo_ids: array<string>` — the top-k in-context examples
    per document (query-conditioned, see SURVEY.md §2.3 fidelity note)."""
    cfg = config or PipelineConfig()
    model = TfidfModel([clean_for_retrieval(t) for t in demo_texts])
    ids = list(demo_ids)
    shot, perm = cfg.shot, cfg.demo_permutation

    @pandas_udf("array<string>")
    def _topk(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ranked = model.top_k(clean_for_retrieval(t or ""), shot, perm)
            out.append([ids[i] for i, _ in ranked])
        return pd.Series(out)

    return docs.withColumn("demo_ids", _topk(F.col("text_norm")))


def per_document_rows(docs: DataFrame, text_col: str, rows_of, schema: str) -> DataFrame:
    """docs → one row per element of `rows_of`'s per-document lists,
    with the document's url prepended.

    `rows_of(texts)` maps one Arrow batch of texts (nulls as "") to one
    list of row tuples per text, whose fields are `schema`'s after its
    leading `url string`. It runs as a scalar pandas UDF returning an
    array per document, so Catalyst chains it onto an upstream pandas
    UDF (normalize_documents) in ONE ArrowEvalPython: each task starts
    one Python worker and the text crosses the boundary once. The JVM
    explodes the arrays: explode_outer plus a null filter, because a
    plain explode lets InferFiltersFromGenerate put `size(arr) > 0`
    below the round-robin exchange, which evaluates the UDF chain twice.
    """
    fields = schema.split(", ", 1)[1]  # drop the leading "url string"
    names = [f.split()[0] for f in fields.split(", ")]

    def batch(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [[dict(zip(names, row)) for row in rows] for rows in rows_of(texts.fillna("").tolist())]
        )

    batch.__name__ = rows_of.__name__  # the UDF's name in plans
    udf = pandas_udf(batch, f"array<struct<{fields}>>")
    # the UDF gets its own Project (not inside the Generate), so that
    # CollapseProject can merge it with the normalize UDF's Project
    return (
        docs.select("url", udf(F.col(text_col)).alias("rows"))
        .select("url", F.explode_outer("rows").alias("row"))
        .filter(F.col("row").isNotNull())
        .select("url", "row.*")
    )


def extract_triples(docs: DataFrame, model, text_col: str = "text_norm") -> DataFrame:
    """documents → (url, t_idx, subject, relation, object, valid).

    `model` is a ModelClient; its `.extract(texts)` gets one call per
    Arrow batch. Responses are parsed by doc_kernel.parse_extraction;
    rejects keep valid=false.
    """

    def extract(texts: list[str]) -> list[list[tuple]]:
        return [
            [(i, *triplet) for i, triplet in enumerate(parse_extraction(resp))]
            for resp in model.extract(texts)
        ]

    return per_document_rows(docs, text_col, extract, IE_SCHEMA)
