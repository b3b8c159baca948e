"""End-to-end pipeline orchestration: IE → ET → EA → LP.

Replaces the reference's run_pipeline sequencing
(utils/gradio_utils.py:89-150) with a DataFrame DAG. run_pipeline runs
the two Arrow passes of operators/fused.py and exposes every stage
table as a select/filter of their rows; run_pipeline_checkpointed
commits each model-call stage so a rerun resumes (see checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.operators.fused import (
    align_graph_triples,
    aligned_nodes,
    barriered_rows,
    entity_graph,
    extract_and_tag,
    kg_rows,
    link_main_pairs,
)
from ctinexus_spark.operators.ie import extract_triples
from ctinexus_spark.operators.normalize import normalize_documents


def run_pipeline_checkpointed(
    spark,
    documents: DataFrame,
    model,
    store,
    config: PipelineConfig | None = None,
    lang_filter: str | None = "en",
) -> DataFrame:
    """Resumable fused pipeline: each stage commits atomically to the
    StageStore and re-runs only for urls missing from the committed
    output (north_rule: resume from the last committed snapshot; the
    Iceberg build swaps StageStore for snapshot reads).

    Stage boundaries chosen where re-computation is expensive
    (model-call stages): documents_clean → triples_typed → kg.
    """
    cfg = config or PipelineConfig()

    docs = store.run_stage(
        spark, "documents_clean", documents,
        lambda d: normalize_documents(d, lang_filter=lang_filter), key="url",
    )
    typed = store.run_stage(
        spark, "triples_typed", docs,
        lambda d: extract_and_tag(d, model), key="url",
    )
    fused = store.run_stage(
        spark, "kg_fused_rows", typed,
        lambda t: align_graph_triples(t, model, cfg), key="url",
    )
    # LP stage over the committed main_pair rows. The work-list is the
    # urls that HAVE pairs (single-component docs never enter, so they
    # don't re-run on every resume), and the committed links table
    # keeps hallucination rows too, so every input url appears in the
    # output and the resume anti-join terminates.
    pairs_input = fused.filter(F.col("row_type") == "main_pair")
    links = store.run_stage(
        spark, "kg_links", pairs_input,
        lambda fr: link_main_pairs(fr, docs, model), key="url",
    )
    return kg_rows(fused, links)


@dataclass
class PipelineResult:
    documents_clean: DataFrame
    triples_ie: DataFrame
    triples_typed: DataFrame
    mentions: DataFrame
    aligned_nodes: DataFrame
    graph: DataFrame
    predicted_links: DataFrame
    kg: DataFrame


def run_pipeline(
    documents: DataFrame,
    model,
    config: PipelineConfig | None = None,
    lang_filter: str | None = "en",
) -> PipelineResult:
    """Every stage table over one align_graph_triples pass. The fused
    rows are barriered here (an eager job); the other tables stay lazy.
    documents_clean and triples_typed are cached, because the fused
    pass, the link fetch and the caller all read them: unpersist them
    when done. triples_ie is the IE-only table and runs its own extract
    pass when read."""
    cfg = config or PipelineConfig()
    docs = normalize_documents(documents, lang_filter=lang_filter).persist()
    typed = extract_and_tag(docs, model).persist()
    fused, n_pairs = barriered_rows(typed, model, cfg)
    nodes = aligned_nodes(fused)
    links = link_main_pairs(fused, docs, model)
    return PipelineResult(
        documents_clean=docs,
        triples_ie=extract_triples(docs, model).filter("valid"),
        triples_typed=typed,
        mentions=nodes.select(
            "url", "t_idx", "side", "mention_id", "mention_text", "mention_class"
        ),
        aligned_nodes=nodes,
        graph=entity_graph(fused),
        predicted_links=links,
        kg=kg_rows(fused, links if n_pairs else None),
    )
