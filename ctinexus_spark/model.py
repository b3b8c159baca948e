"""Model client abstraction + deterministic stub implementations.

The reference calls litellm per document (IE 1 call, ET 1, EA 1
embedding batch, LP 1 per non-topic subgraph). In the rebuild every
model interaction happens *batched inside Arrow UDFs* through this
interface; the default build is a deterministic, network-free stub so
`pytest -x -q` and the bench are reproducible (mirrors the reference's
mocked-litellm test strategy, SURVEY.md §5).

Stub contract:
- ``extract``  : lexicon/IOC-driven triple extraction; adjacent
  recognized mentions in token order become (m_i, "precedes", m_i+1).
- ``tag``      : lexicon class, else IOC pattern class, else "default".
- ``embed``    : md5-seeded unit vectors; identical text → identical
  vector; configured alias pairs → cosine ≈ 0.95; unrelated texts →
  near-orthogonal (64-dim random vectors, |cos| ≪ 0.6).
- ``link``     : JSON answer (main, lp_relation, topic) — exercised
  through the same JSON-repair path real model output would take.

A ``ReplayModel`` wraps fixed per-document answers (e.g. the reference
annotation corpus) for parity evaluation.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading

import numpy as np

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.ioc import IOC_PATTERNS, classify_ioc

_WORD_SPLIT_RE = re.compile(r"\s+")

# IOC pattern name → reference ET taxonomy label (prompts/et.jinja:2-37).
IOC_CLASS_MAP = {
    "date": "Time",
    "ip": "Indicator: IP",
    "domain": "Indicator: Domain",
    "url": "Indicator: URL",
    "email": "Indicator: Email",
    "hash_md5": "Indicator: Hash",
    "hash_sha1": "Indicator: Hash",
    "hash_sha256": "Indicator: Hash",
    "hash_sha512": "Indicator: Hash",
    "cve": "Vulnerability",
    "cvss": "Vulnerability",
    "yara": "Indicator: Yara Rule",
    "money": "Information",
    "os": "Infrastructure",
    "sector": "Exploit Target",
    "version": "Information",
}


def _mentions_in_order(text: str, lexicon: dict[str, str]) -> list[str]:
    """Recognized mentions in document order (duplicates preserved)."""
    if lexicon:
        return [tok for tok in _WORD_SPLIT_RE.split(text) if tok in lexicon]
    # CTI mode: every IOC-pattern match, ordered by position; on ties
    # (same span matched by several patterns) bank order wins once.
    hits: list[tuple[int, int, str]] = []
    seen_spans: set[tuple[int, int]] = set()
    for rx in IOC_PATTERNS.values():
        for m in rx.finditer(text):
            span = (m.start(), m.end())
            if span not in seen_spans:
                seen_spans.add(span)
                hits.append((m.start(), m.end(), m.group()))
    hits.sort()
    return [h[2] for h in hits]


def stub_extract_triplets(text: str, lexicon: dict[str, str]) -> list[dict]:
    mentions = _mentions_in_order(text, lexicon)
    return [
        {"subject": a, "relation": "precedes", "object": b}
        for a, b in zip(mentions, mentions[1:])
    ]


def stub_tag_class(mention_text: str, lexicon: dict[str, str]) -> str:
    if lexicon and mention_text in lexicon:
        return lexicon[mention_text]
    pattern = classify_ioc(mention_text)
    if pattern:
        return IOC_CLASS_MAP[pattern]
    return "default"


_rng = threading.local()


def _seeded_normal(seed: int, dim: int) -> np.ndarray:
    """np.random.RandomState(seed).standard_normal(dim), bit for bit,
    without constructing a RandomState (each construction draws OS
    entropy before the seed replaces it). One generator per thread:
    the simulated endpoint embeds from its handler threads."""
    rs = getattr(_rng, "rs", None)
    if rs is None:
        rs = _rng.rs = np.random.RandomState()
    rs.seed(seed)
    return rs.standard_normal(dim)


def stub_embedding(text: str, dim: int = 64, alias_map: dict[str, str] | None = None) -> np.ndarray:
    """Deterministic unit vector. alias_map maps alias → canonical
    text; aliases reuse the canonical base vector with a small
    deterministic perturbation (cosine ≈ 0.95 > the 0.6 threshold)."""
    canonical = (alias_map or {}).get(text, text)
    seed = int.from_bytes(hashlib.md5(canonical.encode("utf-8")).digest()[:4], "big")
    vec = _seeded_normal(seed, dim)
    if canonical != text:
        noise_seed = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[4:8], "big")
        vec = vec + 0.3 * _seeded_normal(noise_seed, dim)
    return vec / np.linalg.norm(vec)


class StubModel:
    """Deterministic no-network model client (batch interface)."""

    def __init__(
        self,
        config: PipelineConfig | None = None,
        alias_map: dict[str, str] | None = None,
        embed_overrides: dict[str, list[float]] | None = None,
    ):
        self.config = config or PipelineConfig()
        self.alias_map = alias_map or {}
        # exact embedding vectors for specific texts (wins over
        # alias_map) — lets tests pin arbitrary similarity geometry,
        # e.g. a transitive chain a~b~c with cos(a,c) < threshold
        self.embed_overrides = {
            k: np.asarray(v, dtype=np.float64) for k, v in (embed_overrides or {}).items()
        }

    # Each method returns RAW response strings where the reference gets
    # model text, so the JSON-repair path is exercised end-to-end.

    def extract(self, texts: list[str]) -> list[str]:
        return [
            json.dumps({"triplets": stub_extract_triplets(t, self.config.lexicon)})
            for t in texts
        ]

    def tag(self, texts: list[str], triples_per_doc: list[list[dict]]) -> list[str]:
        out = []
        for triples in triples_per_doc:
            tagged = [
                {
                    "subject": {"text": t["subject"], "class": stub_tag_class(t["subject"], self.config.lexicon)},
                    "relation": t["relation"],
                    "object": {"text": t["object"], "class": stub_tag_class(t["object"], self.config.lexicon)},
                }
                for t in triples
            ]
            out.append(json.dumps({"tagged_triples": tagged}))
        return out

    def embed(self, texts: list[str]) -> np.ndarray:
        if not texts:
            return np.zeros((0, self.config.embedding_dim))
        return np.vstack(
            [
                self.embed_overrides[t]
                if t in self.embed_overrides
                else stub_embedding(t, self.config.embedding_dim, self.alias_map)
                for t in texts
            ]
        )

    def summarize(self, focused_text: str, repair: bool = False) -> str:
        """Deterministic CTI summary: first sentences of the focused
        text reshaped into one compliant 3-6 sentence paragraph. The
        repair call always returns a well-formed paragraph (as the
        reference's strict-format repair prompt demands)."""
        import re as _re

        sentences = [
            s.strip()
            for s in _re.split(r"(?<=[.!?])\s+", focused_text.replace("\n", " "))
            if s.strip()
        ][:4]
        while len(sentences) < 3:
            sentences.append("No further verifiable details were reported.")
        para = " ".join(s if s.endswith((".", "!", "?")) else s + "." for s in sentences)
        if len(para) < 120:
            para += " The report provides limited additional context beyond these facts."
        return para

    def link(self, doc_text: str, main_text: str, topic_text: str) -> str:
        return json.dumps(
            {
                "predicted_triple": {
                    "subject": main_text,
                    "relation": self.config.lp_relation,
                    "object": topic_text,
                }
            }
        )

    def link_batch(self, items: list[tuple[str, str, str]]) -> list[str]:
        """One call per Arrow batch of (doc_text, main, topic) pairs —
        mirrors extract/tag so a real HTTP client can fan the batch out
        concurrently instead of paying one round-trip per pair."""
        return [self.link(d, m, t) for d, m, t in items]


class SplitChainModel(StubModel):
    """Stub extractor producing TWO chains per document: recognized
    terms are split at the midpoint (first half / second half of the
    occurrence list) and adjacent pairs never cross the split. Each
    document therefore yields two connected components — exercising
    LP's multi-subgraph main/topic selection under a SQL oracle."""

    def extract(self, texts: list[str]) -> list[str]:
        out = []
        for t in texts:
            mentions = _mentions_in_order(t, self.config.lexicon)
            half = len(mentions) // 2
            triples = [
                {"subject": a, "relation": "precedes", "object": b}
                for part in (mentions[:half], mentions[half:])
                for a, b in zip(part, part[1:])
            ]
            out.append(json.dumps({"triplets": triples}))
        return out


class FlakyLinkModel(SplitChainModel):
    """Split-chain extractor whose LINK answers carry deterministic
    defects keyed on md5(main|topic) — exercising the reference's
    KeyError→'unknown'→hallucination path (llm_processor.py:940-965)
    and the orientation-normalization branch under a SQL oracle:

    - first md5 hex < '6'  : predicted_triple missing the relation key
      → all fields coerce to 'unknown' → status='hallucination'
    - '6' <= hex < 'a'     : swapped orientation (subject=topic) →
      guard re-orients, status='ok'
    - otherwise            : well-formed main→topic answer
    """

    def link(self, doc_text: str, main_text: str, topic_text: str) -> str:
        h = hashlib.md5(f"{main_text}|{topic_text}".encode("utf-8")).hexdigest()[0]
        if h < "6":
            return json.dumps(
                {"predicted_triple": {"subject": main_text, "object": topic_text}}
            )
        if h < "a":
            return json.dumps(
                {
                    "predicted_triple": {
                        "subject": topic_text,
                        "relation": self.config.lp_relation,
                        "object": main_text,
                    }
                }
            )
        return super().link(doc_text, main_text, topic_text)


class ReplayModel(StubModel):
    """Replays fixed answers keyed by document text — used to measure
    parity against the reference's annotated eval corpus without any
    network (BASELINE.md allows 'deterministic stub-replay')."""

    def __init__(
        self,
        config: PipelineConfig | None = None,
        extract_by_text: dict[str, list[dict]] | None = None,
        types_by_text: dict[str, dict[str, str]] | None = None,
        alias_map: dict[str, str] | None = None,
    ):
        super().__init__(config, alias_map)
        self.extract_by_text = extract_by_text or {}
        self.types_by_text = types_by_text or {}

    def extract(self, texts: list[str]) -> list[str]:
        return [
            json.dumps({"triplets": self.extract_by_text.get(t, stub_extract_triplets(t, self.config.lexicon))})
            for t in texts
        ]

    def tag(self, texts: list[str], triples_per_doc: list[list[dict]]) -> list[str]:
        out = []
        for text, triples in zip(texts, triples_per_doc):
            tmap = self.types_by_text.get(text, {})
            tagged = [
                {
                    "subject": {"text": t["subject"], "class": tmap.get(t["subject"], stub_tag_class(t["subject"], self.config.lexicon))},
                    "relation": t["relation"],
                    "object": {"text": t["object"], "class": tmap.get(t["object"], stub_tag_class(t["object"], self.config.lexicon))},
                }
                for t in triples
            ]
            out.append(json.dumps({"tagged_triples": tagged}))
        return out
