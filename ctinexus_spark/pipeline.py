"""End-to-end pipeline orchestration: IE → ET → EA → LP → materialize.

Replaces the reference's run_pipeline sequencing
(utils/gradio_utils.py:89-150) with a DataFrame DAG. Each stage is an
independent function over tables, so callers can checkpoint/resume any
prefix (see checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.operators.ea import align_entities, embed_mentions, mint_mentions
from ctinexus_spark.operators.et import tag_triples
from ctinexus_spark.operators.ie import extract_triples
from ctinexus_spark.operators.lp import analyze_graph, predict_links
from ctinexus_spark.operators.materialize import materialize_kg
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
    from pyspark.sql import functions as F

    from ctinexus_spark.operators.fused import (
        align_graph_triples,
        extract_and_tag,
        extracted_triples,
        link_main_pairs,
        predicted_triples,
    )
    from ctinexus_spark.operators.normalize import normalize_documents

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
    return extracted_triples(fused).unionByName(predicted_triples(links))


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
    cfg = config or PipelineConfig()

    # Persist at DAG branch points: docs feeds IE, ET and LP; typed
    # feeds minting and materialize; aligned feeds graph and
    # materialize. Without these every downstream branch would re-run
    # the whole extraction lineage. (On the checkpointed production
    # path each stage is a parquet/Iceberg write instead.)
    docs = normalize_documents(documents, lang_filter=lang_filter).persist()

    ie_all = extract_triples(docs, model)
    triples_ie = ie_all.filter("valid")

    typed_all = tag_triples(triples_ie, docs, model).persist()
    nodes = mint_mentions(typed_all)
    embeddings = embed_mentions(nodes, model)
    aligned = align_entities(nodes, embeddings, cfg).persist()

    graph = analyze_graph(aligned, pre_grouped=True)
    links = predict_links(graph, docs, model, cfg)
    kg = materialize_kg(aligned, typed_all, links)

    return PipelineResult(
        documents_clean=docs,
        triples_ie=triples_ie,
        triples_typed=typed_all,
        mentions=nodes,
        aligned_nodes=aligned,
        graph=graph,
        predicted_links=links,
        kg=kg,
    )
