"""Document normalization operator (stage T*).

documents(url, warc_ts, html, text, lang) → adds `text_norm`, the
byte-identical per-url invariant (BASELINE.json input_hint). The text
column wins when present; otherwise the html fallback extractors run
(JSON-LD + meta description in-sandbox; see text/normalize.py).

Arrow-batched pandas UDF — one Python call per ~10k rows, no per-row
Python dispatch. Column pruning: only (text, html) feed the UDF, so a
downstream select keeps parquet scans narrow. A downstream scalar
pandas UDF over text_norm (extract_and_tag, extract_triples) chains
onto this one in the same Python worker.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ctinexus_spark.text.normalize import extract_html_content, normalize_text


def _normalize_batch(text: pd.Series, html: pd.Series) -> pd.Series:
    out = []
    for t, h in zip(text, html):
        if isinstance(t, str) and t:
            out.append(normalize_text(t))
        elif h is not None:
            raw = h.decode("utf-8", errors="replace") if isinstance(h, (bytes, bytearray)) else str(h)
            out.append(normalize_text(extract_html_content(raw)["text"]))
        else:
            out.append("")
    return pd.Series(out)


def normalize_documents(
    documents: DataFrame,
    lang_filter: str | None = "en",
) -> DataFrame:
    """Add text_norm; optionally keep one language (pushed-down filter).

    Inputs arriving as a handful of large files (or one small file)
    would serialize every downstream Arrow pass onto a few cores —
    repartition up to one task per core slot when the scan is
    under-split; more tasks than slots only add a task wave (cheap:
    a reused Python worker pays PySpark's per-task header on its
    first two tasks only, see partitioning.py). At 100 TB the scan
    naturally yields thousands of splits and this is a no-op.
    """
    from ctinexus_spark.partitioning import core_slots, ensure_parallelism

    df = documents
    if lang_filter and "lang" in df.columns:
        df = df.filter(F.col("lang") == lang_filter)

    df = ensure_parallelism(df, core_slots(df.sparkSession))

    html_col = F.col("html") if "html" in df.columns else F.lit(None).cast("binary")
    normalize_udf = pandas_udf(_normalize_batch, "string")
    return df.withColumn("text_norm", normalize_udf(F.col("text"), html_col))
