"""Pure text-normalization functions.

These are the per-row invariants of the pipeline: BASELINE.json's
input_hint requires *byte-identical extracted text per url* versus the
reference implementation. Behavior is specified by the reference
(ctinexus/llm_processor.py — normalize_text :828-863,
merge_extraction_candidates :419-456, is_cti_signal_line :458-519,
build_cti_focus_text :723-771, JSON-LD/meta extraction :579-639,
summary shape checks :773-802); the code here is a fresh
implementation of that contract.

Everything in this module is pure Python over plain strings so the
exact same function body runs (a) inside Arrow-batched pandas UDFs on
executors and (b) in the pytest oracle. Python `re` is used
deliberately — Spark's Java regex differs on \\b/unicode edge cases,
so these are never translated to `rlike`.
"""

from __future__ import annotations

import json
import re
from html import unescape

# --- normalize_text -------------------------------------------------

# Zero-width / BOM codepoints stripped before line processing.
_ZERO_WIDTH_RE = re.compile(r"[\u200b-\u200f\u2060\ufeff]")
_WS_RUN_RE = re.compile(r"\s+")
_BLANKS_RE = re.compile(r"\n{3,}")

# Boilerplate line starts (case-insensitive match at line start).
_BOILERPLATE_RES = [
    re.compile(p, re.IGNORECASE)
    for p in (
        r"^\s*cookie(s)?\b",
        r"^\s*accept (all )?cookies\b",
        r"^\s*privacy policy\b",
        r"^\s*terms (of use|and conditions)\b",
        r"^\s*subscribe\b",
        r"^\s*sign up\b",
        r"^\s*advertisement\b",
        r"^\s*all rights reserved\b",
    )
]


def normalize_text(raw: str) -> str:
    """Whitespace/boilerplate normalization; the byte-identity invariant.

    Per line: collapse whitespace runs, strip, drop empties, drop
    boilerplate starts, dedup case-insensitively keeping the first
    occurrence; join with \\n and squeeze 3+ blank lines.
    """
    if not isinstance(raw, str):
        return ""

    text = unescape(raw).replace("\r\n", "\n").replace("\r", "\n")
    text = _ZERO_WIDTH_RE.sub("", text)

    kept: list[str] = []
    seen_lower: set[str] = set()
    for line in text.splitlines():
        line = _WS_RUN_RE.sub(" ", line).strip()
        if not line:
            continue
        if any(rx.match(line) for rx in _BOILERPLATE_RES):
            continue
        key = line.lower()
        if key in seen_lower:
            continue
        seen_lower.add(key)
        kept.append(line)

    return _BLANKS_RE.sub("\n\n", "\n".join(kept)).strip()


# --- is_cti_signal_line ----------------------------------------------

_SIGNAL_DROP_RES = [
    re.compile(p)
    for p in (
        r"^figure\s+\d+",
        r"^source:",
        r"^sources:",
        r"^cookie",
        r"^subscribe",
        r"^sign up",
        r"^read more",
        r"^trend micro solutions?",
        r"^here are some security best practices",
        r"^recommendations?$",
    )
]

_SIGNAL_TERMS = (
    "ransomware", "threat actor", "campaign", "extortion", "raas",
    "cve-", "exploit", "vulnerability", "cobalt strike", "mimikatz",
    "psexec", "anydesk", "rclone", "winscp", "linux", "esxi", "vpn",
    "initial access", "persistence", "defense evasion",
    "lateral movement", "command and control", "exfiltration",
    "impact", "encrypt", "leak site", "conti", "ryuk", "akira",
    "victim", "compromis", "credential", "double extortion", "tor",
    "hc3", "cisco",
)

_SENTENCE_END_RE = re.compile(r"[.!?]$")


def is_cti_signal_line(line: str) -> bool:
    """Keep a line only if it carries CTI signal or reads like prose."""
    low = line.lower()
    if any(rx.match(low) for rx in _SIGNAL_DROP_RES):
        return False
    if any(term in low for term in _SIGNAL_TERMS):
        return True
    return len(line) >= 90 and bool(_SENTENCE_END_RE.search(line))


# --- merge_extraction_candidates --------------------------------------

# Extractor priority mirrors the reference's 5-extractor hybrid
# (llm_processor.py:361-417). The three trafilatura slots are
# environment-gated the same way as the Iceberg store: where
# trafilatura is not installed those candidates are simply never
# produced — merge_extraction_candidates ranks
# whatever sources ARE present (jsonld / meta today) and needs no code
# change when a deployment with trafilatura supplies the richer
# candidates.
_SOURCE_RANK = {
    "trafilatura_json": 0,
    "trafilatura_bare": 1,
    "trafilatura_txt": 2,
    "readability": 3,
    "jsonld": 4,
    "meta_description": 5,
}


def merge_extraction_candidates(candidates: list[dict], max_chars: int = 16000) -> str:
    """Merge extractor outputs: best source wins; extra lines from
    lower-priority sources are appended only when CTI-signal, with
    case-insensitive line dedup and a word-boundary char cap."""
    if not candidates:
        return ""

    ranked = sorted(
        candidates,
        key=lambda c: (_SOURCE_RANK.get(c["source"], 99), -c["length"]),
    )

    lines = [ln.strip() for ln in ranked[0]["text"].splitlines() if ln.strip()]
    seen = {ln.lower() for ln in lines}

    for cand in ranked[1:]:
        for ln in cand["text"].splitlines():
            ln = ln.strip()
            if not ln or ln.lower() in seen:
                continue
            if not is_cti_signal_line(ln):
                continue
            seen.add(ln.lower())
            lines.append(ln)

    merged = "\n".join(lines).strip()
    if len(merged) > max_chars:
        merged = merged[:max_chars].rsplit(" ", 1)[0].strip()
    return merged


# --- build_cti_focus_text ---------------------------------------------

_SECTION_SKIP_RES = [
    re.compile(p)
    for p in (
        r"^recommendations?$",
        r"^trend micro solutions?$",
        r"^to protect systems against similar threats",
        r"^here are some best practices",
        r"^audit and inventory$",
        r"^configure and monitor$",
        r"^patch and update$",
        r"^protect and recover$",
        r"^secure and defend$",
        r"^about trend micro$",
        r"^copyright",
    )
]

_SECTION_RESUME_RE = re.compile(
    r"^(infection chain and techniques|initial access|execution|defense evasion"
    r"|lateral movement|command and control|exfiltration|impact"
    r"|other technical details)"
)

_FOCUS_DROP_RES = [
    re.compile(p)
    for p in (
        r"^figure\s+\d+",
        r"^source:",
        r"^sources:",
        r"^read more",
        r"^related",
        r"^subscribe",
    )
]


def build_cti_focus_text(normalized_text: str, max_chars: int = 10000) -> str:
    """Section-skip state machine: drop recommendation/marketing
    sections until a technical header resumes; cap at a word boundary."""
    out: list[str] = []
    skipping = False
    for line in normalized_text.splitlines():
        line = line.strip()
        if not line:
            continue
        low = line.lower()
        if any(rx.match(low) for rx in _SECTION_SKIP_RES):
            skipping = True
            continue
        if skipping:
            if _SECTION_RESUME_RE.match(low):
                skipping = False
            else:
                continue
        if any(rx.match(low) for rx in _FOCUS_DROP_RES):
            continue
        out.append(line)

    focused = "\n".join(out).strip()
    if len(focused) > max_chars:
        focused = focused[:max_chars].rsplit(" ", 1)[0].strip()
    return focused


# --- summary shape helpers ---------------------------------------------


def normalize_summary_text(summary: str) -> str:
    if not isinstance(summary, str):
        return ""
    s = summary.strip()
    s = re.sub(r"^```[a-zA-Z]*\s*", "", s)
    s = re.sub(r"\s*```$", "", s)
    return re.sub(r"\s+", " ", s).strip()


def is_well_formed_cti_paragraph(summary: str) -> bool:
    """Strict one-paragraph / 3-6 sentence / no-markdown shape check."""
    if not summary or not isinstance(summary, str):
        return False
    text = summary.strip()
    if len(text) < 120:
        return False
    if re.search(r"(^|\n)\s*[-*+]\s+", text):
        return False
    if re.search(r"(^|\n)\s*#{1,6}\s+", text):
        return False
    if text.lower().startswith(("here is", "here's", "summary:", "in summary")):
        return False
    sentences = [s for s in re.split(r"(?<=[.!?])\s+", text) if s.strip()]
    return 3 <= len(sentences) <= 6


# --- HTML fallback extractors (JSON-LD scripts, meta description) -------

_JSONLD_SCRIPT_RE = re.compile(
    r'<script[^>]+type=["\']application/ld\+json["\'][^>]*>(.*?)</script>',
    re.IGNORECASE | re.DOTALL,
)
_CTRL_CHARS_RE = re.compile(r"[\x00-\x1f]")

_META_DESC_RES = [
    re.compile(p, re.IGNORECASE)
    for p in (
        r'<meta[^>]+name=["\']description["\'][^>]+content=["\']([^"\']+)["\']',
        r'<meta[^>]+property=["\']og:description["\'][^>]+content=["\']([^"\']+)["\']',
    )
]


def _walk_jsonld(node):
    if isinstance(node, dict):
        yield node
        graph = node.get("@graph")
        if isinstance(graph, list):
            for item in graph:
                yield from _walk_jsonld(item)
    elif isinstance(node, list):
        for item in node:
            yield from _walk_jsonld(item)


def _author_name(value):
    if isinstance(value, str):
        return value
    if isinstance(value, dict):
        return value.get("name")
    if isinstance(value, list):
        names = [
            v if isinstance(v, str) else v.get("name")
            for v in value
            if isinstance(v, str) or (isinstance(v, dict) and v.get("name"))
        ]
        return ", ".join(names) if names else None
    return None


def extract_jsonld(html: str) -> dict:
    """Pull articleBody/description/headline/date/author out of
    application/ld+json script blocks."""
    bodies: list[str] = []
    title = date = author = None

    for payload in _JSONLD_SCRIPT_RE.findall(html or ""):
        payload = payload.strip()
        if not payload:
            continue
        try:
            parsed = json.loads(payload)
        except json.JSONDecodeError:
            try:
                parsed = json.loads(_CTRL_CHARS_RE.sub("", payload))
            except json.JSONDecodeError:
                continue
        for node in _walk_jsonld(parsed):
            body = node.get("articleBody")
            desc = node.get("description")
            if isinstance(body, str) and body:
                bodies.append(body)
            if isinstance(desc, str) and desc:
                bodies.append(desc)
            if title is None and isinstance(node.get("headline"), str):
                title = node["headline"]
            if date is None and isinstance(node.get("datePublished"), str):
                date = node["datePublished"]
            if author is None:
                author = _author_name(node.get("author"))

    return {"title": title, "date": date, "author": author, "text": "\n".join(bodies).strip()}


def extract_meta_description(html: str) -> dict:
    for rx in _META_DESC_RES:
        m = rx.search(html or "")
        if m:
            return {"text": unescape(m.group(1).strip())}
    return {}


def extract_html_content(html: str, max_chars: int = 16000) -> dict:
    """Sandbox html→text path: JSON-LD + meta-description extractors
    merged CTI-aware (trafilatura is not installed here; on a real
    cluster its extractors slot in as additional candidates exactly as
    in the reference hybrid path, llm_processor.py:361-417)."""
    candidates = []
    meta = {"title": None, "author": None, "date": None}

    ld = extract_jsonld(html)
    if ld.get("text"):
        candidates.append({"source": "jsonld", "text": ld["text"]})
    for k in meta:
        if not meta[k] and ld.get(k):
            meta[k] = ld[k]

    md = extract_meta_description(html)
    if md.get("text"):
        candidates.append({"source": "meta_description", "text": md["text"]})

    normalized = []
    for c in candidates:
        t = normalize_text(c["text"])
        if t:
            normalized.append({"source": c["source"], "text": t, "length": len(t)})

    return {
        "text": merge_extraction_candidates(normalized, max_chars=max_chars),
        **meta,
    }
