"""Stub model determinism + TF-IDF retrieval tests."""

import hashlib
import json
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import ReplayModel, StubModel, stub_embedding, stub_extract_triplets
from ctinexus_spark.tfidf import TfidfModel, clean_for_retrieval
from ctinexus_spark.validation import (
    split_valid,
    valid_aligned_triplet,
    valid_ie_triplet,
    valid_typed_triplet,
)


def _fresh_state_embedding(text, dim, alias_map):
    """stub_embedding's definition, one fresh RandomState per draw."""
    canonical = alias_map.get(text, text)
    seed = int.from_bytes(hashlib.md5(canonical.encode("utf-8")).digest()[:4], "big")
    vec = np.random.RandomState(seed).standard_normal(dim)
    if canonical != text:
        noise_seed = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[4:8], "big")
        vec = vec + 0.3 * np.random.RandomState(noise_seed).standard_normal(dim)
    return vec / np.linalg.norm(vec)


class TestStubModel:
    def test_lexicon_extraction_order(self):
        cfg = PipelineConfig(lexicon={"spark": "Tool", "query": "Event"})
        got = stub_extract_triplets("the spark runs a query then spark again", cfg.lexicon)
        assert got == [
            {"subject": "spark", "relation": "precedes", "object": "query"},
            {"subject": "query", "relation": "precedes", "object": "spark"},
        ]

    def test_cti_mode_ioc_extraction(self):
        text = "Akira exploited CVE-2023-1234 from 10.0.0.1 via evil.example.com"
        got = stub_extract_triplets(text, {})
        chain = [t["subject"] for t in got] + [got[-1]["object"]]
        assert "CVE-2023-1234" in chain and "10.0.0.1" in chain and "evil.example.com" in chain

    def test_extract_is_deterministic_json(self):
        m = StubModel(PipelineConfig(lexicon={"a": "X", "b": "Y"}))
        r1 = m.extract(["a b a"])
        r2 = m.extract(["a b a"])
        assert r1 == r2
        assert json.loads(r1[0])["triplets"]

    def test_embedding_identity_and_separation(self):
        e1 = stub_embedding("APT29")
        e2 = stub_embedding("APT29")
        e3 = stub_embedding("totally different text")
        assert np.allclose(e1, e2)
        assert abs(float(e1 @ e3)) < 0.6
        assert np.isclose(np.linalg.norm(e1), 1.0)

    def test_alias_embedding_close(self):
        amap = {"Cozy Bear": "APT29"}
        base = stub_embedding("APT29", alias_map=amap)
        alias = stub_embedding("Cozy Bear", alias_map=amap)
        assert float(base @ alias) >= 0.6

    @pytest.mark.parametrize("dim", [64, 63])
    def test_embedding_bits_match_fresh_random_state(self, dim):
        amap = {f"alias {i}": f"text {i}" for i in range(0, 40, 3)}
        texts = [f"text {i}" for i in range(40)] + list(amap)
        assert [stub_embedding(t, dim, amap).tobytes() for t in texts] == [
            _fresh_state_embedding(t, dim, amap).tobytes() for t in texts
        ]

    def test_embedding_bits_match_across_threads(self):
        amap = {f"alias {i}": f"text {i}" for i in range(0, 200, 7)}
        texts = [f"text {i}" for i in range(200)] + list(amap)
        want = [_fresh_state_embedding(t, 63, amap).tobytes() for t in texts]
        with ThreadPoolExecutor(max_workers=4) as pool:
            runs = list(pool.map(lambda _: [stub_embedding(t, 63, amap).tobytes() for t in texts], range(8)))
        assert all(got == want for got in runs)

    def test_tag_classes(self):
        m = StubModel(PipelineConfig())
        out = json.loads(m.tag(["doc"], [[{"subject": "CVE-2023-1234", "relation": "r", "object": "plainword"}]])[0])
        t = out["tagged_triples"][0]
        assert t["subject"]["class"] == "Vulnerability"
        assert t["object"]["class"] == "default"

    def test_link_roundtrip(self):
        m = StubModel()
        resp = json.loads(m.link("text", "MainEnt", "TopicEnt"))
        pt = resp["predicted_triple"]
        assert (pt["subject"], pt["object"]) == ("MainEnt", "TopicEnt")

    def test_replay_model_overrides(self):
        fixed = [{"subject": "X", "relation": "uses", "object": "Y"}]
        m = ReplayModel(extract_by_text={"known text": fixed})
        assert json.loads(m.extract(["known text"])[0])["triplets"] == fixed


class TestTfidf:
    CORPUS = [
        "ransomware encrypts files and demands payment",
        "phishing email steals credentials from victims",
        "ransomware actors demand cryptocurrency payment",
        "completely unrelated cooking recipe content",
    ]

    def test_clean_for_retrieval(self):
        # Non-letters become spaces *inside* the word (reference
        # llm_processor.py:1336-1342 does the same — no collapsing).
        assert clean_for_retrieval("The CVE-2023 attack!") == "cve      attack "
        # stopwords dropped, non-letters become spaces inside tokens
        assert "the" not in clean_for_retrieval("The the THE word").split()

    def test_topk_ranks_similar_docs(self):
        model = TfidfModel([clean_for_retrieval(d) for d in self.CORPUS])
        ranked = model.top_k(clean_for_retrieval("ransomware payment demanded"), k=2, permutation="desc")
        assert [i for i, _ in ranked][:2] in ([0, 2], [2, 0])
        assert ranked[0][1] > 0

    def test_asc_permutation_reverses(self):
        model = TfidfModel([clean_for_retrieval(d) for d in self.CORPUS])
        q = clean_for_retrieval("ransomware payment demanded")
        desc = model.top_k(q, k=3, permutation="desc")
        asc = model.top_k(q, k=3, permutation="asc")
        assert asc == desc[::-1]

    def test_self_similarity_is_one(self):
        model = TfidfModel(["alpha beta gamma", "delta epsilon"])
        sims = model.matrix @ model.transform("alpha beta gamma")
        assert np.isclose(sims[0], 1.0)


class TestValidation:
    def test_ie_valid(self):
        assert valid_ie_triplet({"subject": "a", "relation": "r", "object": "b"})
        assert valid_ie_triplet({"subject": {"text": "a"}, "relation": "r", "object": "b"})

    def test_ie_invalid(self):
        assert not valid_ie_triplet({"subject": "", "relation": "r", "object": "b"})
        assert not valid_ie_triplet({"subject": "a", "relation": " ", "object": "b"})
        assert not valid_ie_triplet({"subject": "a", "object": "b"})
        assert not valid_ie_triplet({"subject": 3, "relation": "r", "object": "b"})
        assert not valid_ie_triplet({"subject": {"text": 5}, "relation": "r", "object": "b"})
        assert not valid_ie_triplet(
            {"subject": {"text": "", "mention_text": 7}, "relation": "r", "object": "b"}
        )
        assert not valid_ie_triplet("not a dict")

    def test_typed(self):
        ok = {"subject": {"text": "a", "class": "Malware"}, "relation": "r", "object": {"text": "b"}}
        assert valid_typed_triplet(ok)
        assert not valid_typed_triplet({"subject": "a", "relation": "r", "object": {"text": "b"}})
        assert not valid_typed_triplet({"subject": {"text": ""}, "relation": "r", "object": {"text": "b"}})
        assert not valid_typed_triplet({"subject": {"text": 5}, "relation": "r", "object": {"text": "b"}})

    def test_aligned_entity_id_zero_ok(self):
        ok = {
            "subject": {"entity_id": 0, "entity_text": "a"},
            "relation": "r",
            "object": {"entity_id": 1, "mention_text": "b"},
        }
        assert valid_aligned_triplet(ok)
        assert not valid_aligned_triplet(
            {"subject": {"entity_text": "a"}, "relation": "r", "object": {"entity_id": 1, "entity_text": "b"}}
        )

    def test_split_valid(self):
        kept, rejected = split_valid(
            [{"subject": "a", "relation": "r", "object": "b"}, {"bad": 1}], valid_ie_triplet
        )
        assert len(kept) == 1 and len(rejected) == 1
