"""LP graph-analysis semantics (reference graph_constructor.py:51-209):
components, degree, main/topic selection, hallucination guard — read
from the entity and main_pair rows of the fused align pass."""

import json

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import StubModel
from ctinexus_spark.operators.fused import align_graph_triples, entity_graph, link_main_pairs

URL = "https://d/1"

TYPED_SCHEMA = (
    "url string, t_idx int, subject_text string, subject_class string, "
    "relation string, object_text string, object_class string, valid boolean"
)


def fused_rows(spark, triples):
    """triples: list of (t_idx, subj_text, obj_text). One class and no
    alias, so entity ids are the first-occurrence mention ids."""
    rows = [(URL, t_idx, st, "c", "r", ot, "c", True) for (t_idx, st, ot) in triples]
    cfg = PipelineConfig()
    return align_graph_triples(spark.createDataFrame(rows, TYPED_SCHEMA), StubModel(cfg), cfg)


def graph(spark, triples):
    return {r.entity_id: r for r in entity_graph(fused_rows(spark, triples)).collect()}


def links(spark, triples, model):
    docs = spark.createDataFrame([(URL, "doc text")], "url string, text_norm string")
    return link_main_pairs(fused_rows(spark, triples), docs, model).collect()


# two components: {0,1,2} (entity 0 has degree 2) and {3,4}
TRIPLES = [
    (0, "Hub", "Leaf1"),
    (1, "Hub", "Leaf2"),
    (2, "IslandA", "IslandB"),
]


def test_components_and_degree(spark):
    g = graph(spark, TRIPLES)
    assert g[0].component_id == g[1].component_id == g[2].component_id
    assert g[3].component_id == g[4].component_id
    assert g[0].component_id != g[3].component_id
    assert g[0].degree == 2
    assert g[1].degree == 1
    assert g[3].degree == 1


def test_main_and_topic_selection(spark):
    g = graph(spark, TRIPLES)
    assert g[0].is_main and g[0].is_topic  # biggest component, max degree
    # island main: degree tie (1,1) → lowest entity_id
    assert g[3].is_main and not g[3].is_topic
    assert not g[4].is_main


def test_component_size_tie_first_discovered(spark):
    triples = [
        (0, "A", "B"),   # component discovered first
        (1, "C", "D"),   # same size
    ]
    g = graph(spark, triples)
    assert g[0].is_topic or g[1].is_topic
    assert not (g[2].is_topic or g[3].is_topic)


def test_self_loop_counts_degree_twice(spark):
    triples = [(0, "Selfie", "Selfie"), (1, "Other", "Third")]
    g = graph(spark, triples)
    assert g[0].degree == 2
    assert g[0].component_size == 1


def test_predicted_links_main_to_topic(spark):
    got = links(spark, TRIPLES, StubModel())
    assert len(got) == 1
    (link,) = got
    assert link.subject_text == "IslandA"
    assert link.object_text == "Hub"
    assert link.status == "ok"
    assert link.relation == PipelineConfig().lp_relation


class HallucinatingModel(StubModel):
    def link(self, doc_text, main_text, topic_text):
        return json.dumps(
            {"predicted_triple": {"subject": "WrongEntity", "relation": "x", "object": topic_text}}
        )


class ReversedModel(StubModel):
    def link(self, doc_text, main_text, topic_text):
        return json.dumps(
            {"predicted_triple": {"subject": topic_text, "relation": "hosts", "object": main_text}}
        )


def test_hallucination_guard(spark):
    got = links(spark, TRIPLES, HallucinatingModel())
    assert got[0].status == "hallucination"
    assert got[0].subject_text == "hallucination"


def test_reversed_orientation_accepted(spark):
    got = links(spark, TRIPLES, ReversedModel())
    assert got[0].status == "ok"
    assert got[0].subject_text == "Hub"       # topic as subject
    assert got[0].object_text == "IslandA"
