"""EA stage: entity alignment.

Reference semantics (re-expressed, not ported):
- A1 mention minting — first-occurrence dense ids per unique
  mention_text within a document (cti_processor.py:147-202);
- A2 embedding — one batch per document there; here one batch per
  Arrow batch of *globally distinct* mention texts (strictly better);
- A3-A10 merge and IOC unmerge — per-document rules defined once in
  doc_kernel.align_doc.

Minting, embedding and the merge run inside the fused align pass
(operators/fused.align_graph_triples). This module keeps the
stand-alone embedding pass over a text column, which cross-document
resolution (operators/resolve.py) uses.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def embed_mentions(nodes: DataFrame, model) -> DataFrame:
    """(mention_text) → (mention_text, embedding array<float>) over
    globally distinct texts; one model call per Arrow batch."""

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        vecs = model.embed(texts.fillna("").tolist())
        return pd.Series([v.astype("float32").tolist() for v in vecs])

    return nodes.select("mention_text").distinct().withColumn(
        "embedding", _embed(F.col("mention_text"))
    )
