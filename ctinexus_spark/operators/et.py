"""ET stage: entity typing.

Reference behavior: ONE prompt per document carrying all of its
triples (llm_processor.py:163-213); response keys `tagged_triples` or
`triplets`; typed validation (cti_processor.py:118-144); dict-valued
class → first key; missing class → "default"
(cti_processor.py:194-198).

Spark shape: triples are re-grouped per document with
`sort_array(collect_list(struct(...)))` (map-side partial aggregation,
one shuffle on url), then a `mapInPandas` batch calls the model once
per Arrow batch of documents and explodes typed triples back out.
Responses are parsed by doc_kernel.parse_tagging, the parse the fused
path shares.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.doc_kernel import parse_tagging

ET_SCHEMA = (
    "url string, t_idx int, subject_text string, subject_class string, "
    "relation string, object_text string, object_class string, valid boolean"
)


def tag_triples(triples_ie: DataFrame, docs: DataFrame, model) -> DataFrame:
    """triples_ie(url, t_idx, subject, relation, object) + documents →
    typed triples (url, t_idx, subject_text, subject_class, relation,
    object_text, object_class, valid)."""
    per_doc = (
        triples_ie.groupBy("url")
        .agg(F.sort_array(F.collect_list(F.struct("t_idx", "subject", "relation", "object"))).alias("triples"))
        .join(docs.select("url", "text_norm"), "url", "left")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf["text_norm"].fillna("").tolist()
            triples_per_doc = [
                [
                    {"subject": t["subject"], "relation": t["relation"], "object": t["object"]}
                    for t in doc_triples
                ]
                for doc_triples in pdf["triples"]
            ]
            rows = [
                (url, i, *typed)
                for url, resp in zip(pdf["url"].tolist(), model.tag(texts, triples_per_doc))
                for i, typed in enumerate(parse_tagging(resp))
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "t_idx", "subject_text", "subject_class",
                    "relation", "object_text", "object_class", "valid",
                ],
            )

    return per_doc.mapInPandas(run, schema=ET_SCHEMA)
