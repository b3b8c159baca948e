"""Per-document kernel (ctinexus_spark/doc_kernel.py) semantics on plain
lists — no Spark needed except for the last checks, which pin the fused
align pass's Spark plumbing to the same kernel calls."""

import json
import os
import subprocess
import sys

import numpy as np
from hypothesis import example, given
from hypothesis import strategies as st

from ctinexus_spark.doc_kernel import (
    align_doc,
    analyze_doc,
    first_key_or_default,
    parse_extraction,
    parse_link,
    parse_tagging,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E1, E2, E3 = np.eye(3)


def mint(texts):
    """First-occurrence dense mention ids, as the fused align pass mints them."""
    ids: dict[str, int] = {}
    return [ids.setdefault(t, len(ids)) for t in texts]


def align(texts, classes, emb_of, mode="star", threshold=0.6):
    return align_doc(mint(texts), texts, classes, emb_of, threshold, mode)


# --- parsing --------------------------------------------------------------

json_values = st.recursive(
    st.none() | st.booleans() | st.integers() | st.floats(allow_nan=False)
    | st.text(max_size=8) | st.sampled_from(["main", "topic"]),
    lambda inner: st.lists(inner, max_size=4)
    | st.dictionaries(
        st.sampled_from(["triplets", "tagged_triples", "predicted_triple", "subject",
                         "relation", "object", "text", "mention_text", "class"]),
        inner, max_size=4,
    ),
    max_leaves=20,
)


@given(st.text(max_size=300) | json_values.map(json.dumps))
@example("[]")
@example("null")
@example('"x"')
@example('{"triplets": [1, null, {"subject": {"text": 5}, "relation": 7, "object": "o"}]}')
@example('{"tagged_triples": [[], {"subject": "s", "object": {"class": {}}}]}')
@example('{"triplets": [{"subject": {"text": 5}, "relation": "uses", "object": "x"}]}')
@example('{"triplets": [{"subject": {"text": "", "mention_text": 7}, "relation": "uses", "object": "x"}]}')
@example('{"tagged_triples": [{"subject": {"text": 5, "class": "Malware"}, "relation": "uses", '
         '"object": {"text": "x", "class": "Tool"}}]}')
@example('{"tagged_triples": [{"subject": {"text": "", "mention_text": 7}, "relation": "uses", '
         '"object": {"text": "x"}}]}')
@example('{"predicted_triple": {"subject": "main", "relation": 5, "object": "topic"}}')
@example('{"predicted_triple": {"subject": "topic", "relation": ["r"], "object": "main"}}')
@example('{"s": "main", "r": 5, "o": "topic"}')
def test_parsers_never_raise(resp):
    """Model output is arbitrary text; a response that is not a JSON
    object with the expected shape yields rejects or nothing, never an
    exception that would fail the whole Arrow task. A row marked valid
    carries non-empty string subject and object texts, and a link's
    relation is always a string (a valid row with an int text or an
    int relation would fail the string column's Arrow conversion for
    the whole task)."""
    rel, forward = parse_link(resp, "main", "topic")
    assert isinstance(rel, str)
    assert forward in (True, False, None)
    for row in parse_extraction(resp):
        assert len(row) == 4
        assert all(v is None or isinstance(v, str) for v in row[:3])
        if row[3]:
            assert isinstance(row[0], str) and row[0] and isinstance(row[2], str) and row[2]
    for row in parse_tagging(resp):
        assert len(row) == 6
        assert isinstance(row[1], str) and isinstance(row[4], str)
        assert all(v is None or isinstance(v, str) for v in (row[0], row[2], row[3]))
        if row[5]:
            assert isinstance(row[0], str) and row[0] and isinstance(row[3], str) and row[3]


def test_non_object_payloads_have_no_triplets():
    for resp in ("[]", "null", '"x"', "5", None):
        assert parse_extraction(resp) == []
        assert parse_tagging(resp) == []
    # a dict response is its own payload, as parse_llm_json passes it through
    one = {"triplets": [{"subject": "a", "relation": "r", "object": "b"}]}
    assert [row[:3] for row in parse_extraction(one)] == [("a", "r", "b")]


def test_extraction_rows_keep_rejects_and_coerce_text():
    resp = json.dumps({"triplets": [
        {"subject": {"text": "APT29"}, "relation": "uses", "object": "Mimikatz"},
        {"subject": {"text": 5}, "relation": "uses", "object": "x"},
        {"subject": "a", "relation": "", "object": "b"},
        {"subject": "a", "relation": 7, "object": "b"},
        "not a triplet",
    ]})
    # a non-string text or relation is None and the row a reject (the raw
    # value would fail the string column; a valid row needs both texts)
    assert parse_extraction(resp) == [
        ("APT29", "uses", "Mimikatz", True),
        (None, "uses", "x", False),
        ("a", "", "b", False),
        ("a", None, "b", False),
        (None, None, None, False),
    ]


def test_link_orientation_and_unknown_fields():
    def ans(s, r, o):
        return json.dumps({"predicted_triple": {"subject": s, "relation": r, "object": o}})

    assert parse_link(ans("m", "uses", "t"), "m", "t") == ("uses", True)
    assert parse_link(ans("t", "uses", "m"), "m", "t") == ("uses", False)
    assert parse_link(ans("x", "uses", "t"), "m", "t") == ("uses", None)
    # without predicted_triple the first three values are the triple
    assert parse_link(json.dumps({"a": "t", "b": "hosts", "c": "m"}), "m", "t") == ("hosts", False)
    # a missing, null or non-string field makes all three 'unknown': a
    # hallucination, even when subject and object name the pair
    for bad in (ans("m", None, "t"), ans("m", 5, "t"), ans("m", ["r"], "t"),
                json.dumps({"predicted_triple": {"subject": "m", "object": "t"}}),
                json.dumps({"a": "m", "b": 5, "c": "t"}), json.dumps({"a": "m", "b": "r"}),
                "[]", None):
        assert parse_link(bad, "m", "t") == ("unknown", None)


def test_link_rows_carry_string_relations():
    """A non-string relation in a link answer becomes a hallucination
    row whose relation column still converts to an Arrow string."""
    import pandas as pd
    import pyarrow as pa

    from ctinexus_spark.operators.lp import _link_rows

    class Answers:
        def link_batch(self, items):
            return [json.dumps({"predicted_triple": {"subject": m, "relation": rel, "object": t}})
                    for (_, m, t), rel in zip(items, ("uses", 5, ["r"]))]

    pdf = pd.DataFrame({"url": ["u"] * 3, "main_id": [1, 2, 3], "main_text": ["a", "b", "c"],
                        "topic_id": [0] * 3, "topic_text": ["t"] * 3, "text_norm": ["doc"] * 3})
    out = _link_rows(pdf, Answers())
    assert out["status"].tolist() == ["ok", "hallucination", "hallucination"]
    assert out["relation"].tolist() == ["uses", "unknown", "unknown"]
    pa.Array.from_pandas(out["relation"], type=pa.string())


def test_tagging_class_fallbacks():
    resp = json.dumps({"triplets": [
        {"subject": {"text": "A", "class": {"Malware": 1, "Tool": 2}},
         "relation": "r", "object": {"text": "B"}},
        {"subject": {"text": "C", "class": ""}, "relation": "r", "object": "D"},
    ]})
    assert parse_tagging(resp) == [
        ("A", "Malware", "r", "B", "default", True),
        ("C", "default", "r", None, "default", False),
    ]
    assert first_key_or_default({}) == "default"
    assert first_key_or_default("Tool") == "Tool"


# --- EA ---------------------------------------------------------------------


def test_canonical_frequency_argmax_ties_to_lowest_mention_id():
    emb = {"B": E1, "A": E1, "X": E2, "Y": E3}
    # B and A once each: tie → B (mention id 0)
    ids, texts, merged = align(["B", "X", "A", "Y"], ["M", "T", "M", "U"], emb)
    assert texts == ["B", "X", "B", "Y"]
    assert ids[0] == ids[2]
    assert merged[0] == ["A"] and merged[2] == ["B"]
    # A twice: frequency wins over the lower id
    _, texts, _ = align(["B", "X", "A", "Y", "A", "Y"], ["M", "T", "M", "U", "M", "U"], emb)
    assert texts[:5] == ["A", "X", "A", "Y", "A"]


def test_entity_ids_in_class_first_appearance_order():
    emb = {t: E1 for t in "abcd"}
    ids, _, _ = align(["a", "b", "c", "d"], ["M", "T", "T", "M"], emb, threshold=2.0)
    assert ids == [0, 2, 3, 1]


def test_star_sets_vs_cc_on_chain_geometry():
    from ctinexus_spark.entry_queries import CHAIN_TERMS, chain_embed_overrides

    emb = {t: np.asarray(v) for t, v in chain_embed_overrides().items()}
    emb["x"] = E3
    nodes = [*CHAIN_TERMS, "x"]  # join, merge, sort: mention ids 0, 1, 2
    classes = ["Operator"] * 3 + ["Tool"]
    # star-sets {join,merge}, {join,merge,sort}, {merge,sort}; last write wins
    ids, texts, merged = align(nodes, classes, emb, mode="star")
    assert ids == [1, 2, 2, 3]
    assert texts == ["join", "merge", "merge", "x"]
    assert merged[:3] == [["merge", "sort"], ["sort"], ["merge"]]
    # connected components: one entity named by the lowest id
    ids, texts, merged = align(nodes, classes, emb, mode="cc")
    assert ids == [0, 0, 0, 1]
    assert texts == ["join", "join", "join", "x"]
    assert merged[1] == ["join", "sort"]


def test_partial_ioc_cluster_stays_merged():
    emb = {"10.0.0.1": E1, "evil host": E1}
    ids, texts, merged = align(["10.0.0.1", "evil host"], ["IP", "IP"], emb)
    assert ids == [0, 0]
    assert texts == ["10.0.0.1", "10.0.0.1"]
    assert merged == [["evil host"], ["10.0.0.1"]]


def test_all_ioc_cluster_unmerges_with_fresh_ids():
    emb = {"10.0.0.1": E1, "10.0.0.2": E1, "tool": E2}
    ids, texts, merged = align(["10.0.0.1", "tool", "10.0.0.2"], ["IP", "T", "IP"], emb)
    assert texts == ["10.0.0.1", "tool", "10.0.0.2"]
    assert ids == [0, 1, 2]  # the split-off member gets an id after every cluster
    assert merged == [[], [], []]


# --- LP ---------------------------------------------------------------------


def by_id(ents):
    return {e.entity_id: e for e in ents}


def test_topic_is_largest_component_first_discovered_on_ties():
    # two size-2 components; the one discovered first holds the HIGHER ids
    g = by_id(analyze_doc([3, 4, 0, 1], ["d", "e", "a", "b"]))
    assert g[3].component_id == 0 and g[0].component_id == 1
    assert g[3].is_main and g[0].is_main  # degree ties → lower entity id
    assert g[3].is_topic and not g[0].is_topic
    # a strictly larger later component wins
    g = by_id(analyze_doc([3, 4, 0, 1, 0, 2], list("deabac")))
    assert g[0].is_topic and g[0].degree == 2 and g[0].component_size == 3
    assert [e for e in g.values() if e.is_topic] == [g[0]]


def test_self_loop_counts_degree_twice():
    g = by_id(analyze_doc([0, 0, 1, 2], ["s", "s", "o", "t"]))
    assert g[0].degree == 2
    assert g[0].component_size == 1
    assert g[1].component_id == g[2].component_id != g[0].component_id


def test_only_listed_edges_link():
    # triple i links nodes 2i and 2i+1 only: nodes 1 and 2 sit next to
    # each other but belong to different triples, so b and c stay
    # apart; every occurrence counts toward degree
    g = by_id(analyze_doc([0, 1, 2, 3, 0, 1], list("abcdab")))
    assert g[0].component_id == g[1].component_id == 0
    assert g[2].component_id == g[3].component_id == 1
    assert g[2].is_main and not g[2].is_topic
    assert g[0].degree == 2 and g[2].degree == 1 and g[0].is_topic


def test_shared_url_triples_link_positionally():
    """Two documents under one url arrive as one node list in which
    t_idx values repeat. Every triple still links its own subject and
    object, so the pair corpus forms one graph."""
    from conftest import CTI_DOC_1, CTI_DOC_2

    from ctinexus_spark.config import PipelineConfig
    from ctinexus_spark.model import StubModel

    model = StubModel(PipelineConfig())
    texts = [CTI_DOC_1, CTI_DOC_2]
    extracted = [
        [{"subject": s, "relation": r, "object": o} for s, r, o, ok in parse_extraction(resp) if ok]
        for resp in model.extract(texts)
    ]
    typed = sorted(
        (i, *row[:5])
        for resp in model.tag(texts, extracted)
        for i, row in enumerate(parse_tagging(resp)) if row[5]
    )
    assert len({t[0] for t in typed}) < len(typed)  # t_idx repeats
    nodes = [x for t in typed for x in (t[1], t[4])]
    classes = [x for t in typed for x in (t[2], t[5])]
    emb_of = dict(zip(nodes, model.embed(nodes)))
    ids, ent_texts, _ = align(nodes, classes, emb_of)
    g = by_id(analyze_doc(ids, ent_texts))
    for a, b in zip(ids[0::2], ids[1::2]):
        assert g[a].component_id == g[b].component_id
    assert sum(e.degree for e in g.values()) == len(nodes)


# --- tooling ----------------------------------------------------------------


def test_kernel_import_does_not_load_pyspark():
    code = (
        "import sys, ctinexus_spark.doc_kernel\n"
        "loaded = sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark')\n"
        "assert not loaded, loaded\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


# --- Spark plumbing == kernel -------------------------------------------------


def test_fused_align_matches_kernel_per_url(spark, cti_documents):
    """The fused pass's per-node rows equal the collected typed triples
    grouped by url and fed through the same align_doc call."""
    from ctinexus_spark.config import PipelineConfig
    from ctinexus_spark.model import StubModel
    from ctinexus_spark.operators.fused import align_graph_triples, aligned_nodes, extract_and_tag
    from ctinexus_spark.operators.normalize import normalize_documents

    cfg = PipelineConfig()
    model = StubModel(cfg, alias_map={"Cozy Bear": "APT29"})
    docs = normalize_documents(cti_documents, lang_filter="en")
    typed = extract_and_tag(docs, model).filter("valid").toPandas()

    got = {
        (r.url, r.t_idx, r.side, r.entity_id, r.entity_text, tuple(r.mention_merged))
        for r in aligned_nodes(align_graph_triples(spark.createDataFrame(typed), model, cfg)).collect()
    }

    expected = set()
    for url, g in typed.groupby("url"):
        g = g.sort_values("t_idx")
        texts = [x for pair in zip(g["subject_text"], g["object_text"]) for x in pair]
        classes = [x for pair in zip(g["subject_class"], g["object_class"]) for x in pair]
        ids, ent_texts, merged = align_doc(
            mint(texts), texts, classes, dict(zip(texts, model.embed(texts))),
            cfg.similarity_threshold, cfg.ea_cluster_mode,
        )
        keys = [(t, side) for t in g["t_idx"].tolist() for side in ("subject", "object")]
        expected |= {
            (url, t, side, i, txt, tuple(m))
            for (t, side), i, txt, m in zip(keys, ids, ent_texts, merged)
        }
    assert got and got == expected


def test_shared_url_documents_form_one_graph(spark):
    """Two documents under one url: run_pipeline and fused_kg build the
    same KG, it holds every extracted triple of both documents, and each
    of those triples links its subject and object in the graph table."""
    from conftest import CTI_DOC_1, CTI_DOC_2

    from ctinexus_spark.config import PipelineConfig
    from ctinexus_spark.model import StubModel
    from ctinexus_spark.operators.fused import fused_kg
    from ctinexus_spark.operators.normalize import normalize_documents
    from ctinexus_spark.pipeline import run_pipeline

    url = "https://threats.example.com/akira"
    cfg = PipelineConfig()

    def frame(*texts):
        return spark.createDataFrame([(url, t, "en") for t in texts],
                                     "url string, text string, lang string")

    def kg_set(kg):
        return {tuple(r) for r in kg.select("subj", "pred", "obj", "source").collect()}

    def extracted(*texts):
        kg = fused_kg(normalize_documents(frame(*texts), lang_filter="en"), StubModel(cfg), cfg)
        return {t for t in kg_set(kg) if t[3] == "extracted"}

    result = run_pipeline(frame(CTI_DOC_1, CTI_DOC_2), StubModel(cfg), cfg)
    kg = kg_set(result.kg)
    docs = normalize_documents(frame(CTI_DOC_1, CTI_DOC_2), lang_filter="en")
    assert kg == kg_set(fused_kg(docs, StubModel(cfg), cfg))
    triples = {t for t in kg if t[3] == "extracted"}
    assert triples == extracted(CTI_DOC_1) | extracted(CTI_DOC_2)
    comp = {r.entity_text: r.component_id for r in result.graph.collect()}
    for s, _, o, _ in triples:
        assert comp[s] == comp[o]
