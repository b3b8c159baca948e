"""run_pipeline's stage tables are projections of the one fused align
pass, and that pass processes every document whole across Arrow batch
boundaries."""

from pyspark.sql import functions as F

from ctinexus_spark import entry_queries as eq
from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import SplitChainModel, StubModel
from ctinexus_spark.operators.fused import align_graph_triples, extract_and_tag, fused_kg
from ctinexus_spark.operators.normalize import normalize_documents
from ctinexus_spark.pipeline import run_pipeline


def _kg_set(df):
    return {(r.url, r.subj, r.pred, r.obj, r.source) for r in df.collect()}


def test_stage_tables_project_the_fused_rows(spark, cti_documents):
    cfg = PipelineConfig()
    # two chains per document, so some documents have a main pair
    model = SplitChainModel(cfg, alias_map={"Cozy Bear": "APT29"})
    result = run_pipeline(cti_documents, model, cfg)
    docs = normalize_documents(cti_documents, lang_filter="en")
    fused = align_graph_triples(extract_and_tag(docs, model), model, cfg).collect()
    triples = [r for r in fused if r.row_type == "triple"]
    entities = [r for r in fused if r.row_type == "entity"]
    pairs = [r for r in fused if r.row_type == "main_pair"]
    assert triples and entities and pairs

    nodes = sorted(
        (r.url, r.t_idx, side, r[f"{p}_mention_id"], r[f"{p}_text"], r[f"{p}_entity_id"],
         r[f"{p}_entity_text"])
        for r in triples for side, p in (("subject", "s"), ("object", "o"))
    )
    assert sorted(
        tuple(r) for r in result.aligned_nodes.select(
            "url", "t_idx", "side", "mention_id", "mention_text", "entity_id", "entity_text"
        ).collect()
    ) == nodes
    assert sorted(tuple(r) for r in result.graph.collect()) == sorted(
        (r.url, r.s_entity_id, r.s_entity_text, r.component_id, r.component_size, r.degree,
         r.is_main, r.is_topic)
        for r in entities
    )
    # the stub answers every pair main → topic
    links = result.predicted_links.collect()
    assert sorted((r.url, r.subject_entity_id, r.object_entity_id) for r in links) == sorted(
        (r.url, r.s_entity_id, r.o_entity_id) for r in pairs
    )
    assert _kg_set(result.kg) == {
        (r.url, r.s_entity_text, r.relation, r.o_entity_text, "extracted") for r in triples
    } | {(r.url, r.subject_text, r.relation, r.object_text, "predicted") for r in links}
    assert _kg_set(result.kg) == _kg_set(fused_kg(docs, model, cfg))


def test_fused_parity_across_arrow_batch_boundaries(spark):
    """A document whose typed rows straddle an Arrow batch boundary
    must still be EA/LP-processed as ONE unit: with maxRecordsPerBatch
    = 3, every multi-triple doc straddles, so any fragment-processing
    regression diverges from the default-batch run immediately."""
    cfg = eq.CONFIG
    raw = eq.load_documents(spark, "/root/testdata/sf0.001").filter(F.col("url").cast("int") < 40)
    docs = normalize_documents(raw, lang_filter=None)
    expected = _kg_set(fused_kg(docs, StubModel(cfg), cfg))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert _kg_set(fused_kg(docs, StubModel(cfg), cfg)) == expected
    finally:
        spark.conf.set(key, prev)
