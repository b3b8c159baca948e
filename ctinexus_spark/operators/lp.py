"""LP stage: link prediction over disconnected subgraphs.

Reference semantics (graph_constructor.py:51-209,
llm_processor.py:900-1015):
- L2-L6 per-document components, degree, main and topic node — rules
  defined once in doc_kernel.analyze_doc, run inside the fused align
  pass (operators/fused.align_graph_triples), which emits the main →
  topic pairs;
- one LLM call per non-topic main node proposing the edge
  main ↔ topic; answers that name neither orientation exactly become
  the "hallucination" sentinel (L7-L8) — the answer parse is
  doc_kernel.parse_link.

Spark shape: link calls batch per Arrow batch in mapInPandas
(infer_links); the guard is plain column logic on the model output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.doc_kernel import parse_link

LINKS_SCHEMA = (
    "url string, subject_entity_id int, subject_text string, relation string, "
    "object_entity_id int, object_text string, status string"
)


_LINK_COLS = [
    "url", "subject_entity_id", "subject_text", "relation",
    "object_entity_id", "object_text", "status",
]


def _link_rows(pdf: pd.DataFrame, model) -> pd.DataFrame:
    """Batched link inference + hallucination guard over one Arrow
    batch of (url, main_id, main_text, topic_id, topic_text, text_norm)
    rows: ONE model.link_batch call per batch (mirrors extract/tag —
    with an HTTP-backed client this is batched-async vs serial
    round-trips)."""
    recs = list(pdf.itertuples(index=False))
    responses = model.link_batch(
        [((r.text_norm or ""), r.main_text, r.topic_text) for r in recs]
    )
    rows = []
    for r, resp in zip(recs, responses):
        rel, forward = parse_link(resp, r.main_text, r.topic_text)
        if forward is None:
            rows.append((r.url, None, "hallucination", rel,
                         None, "hallucination", "hallucination"))
        elif forward:
            rows.append((r.url, int(r.main_id), r.main_text, rel,
                         int(r.topic_id), r.topic_text, "ok"))
        else:
            rows.append((r.url, int(r.topic_id), r.topic_text, rel,
                         int(r.main_id), r.main_text, "ok"))
    return pd.DataFrame(rows, columns=_LINK_COLS)


def infer_links(pairs: DataFrame, docs: DataFrame, model) -> DataFrame:
    """(url, main_id, main_text, topic_id, topic_text) pairs + docs'
    (url, text_norm) → LINKS_SCHEMA rows (fused.link_main_pairs).

    Only the documents whose url has a pair are fetched. The IN
    subquery matters: Catalyst rewrites it into a left-semi join
    planned below docs' normalize UDF and repartition, so the rest of
    the corpus is neither re-read nor re-normalized. A DataFrame
    join(..., "left_semi") stays above the UDF and normalizes every
    document. The left join keeps every pair, and fans a pair out once
    per document sharing its url."""
    texts = docs.filter(F.col("url").isin(pairs.select("url"))).select("url", "text_norm")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _link_rows(pdf, model)

    return pairs.join(texts, "url", "left").mapInPandas(run, schema=LINKS_SCHEMA)
