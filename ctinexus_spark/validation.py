"""Stage-boundary triplet validation predicates.

Mirrors the reference's defensive log-and-drop filters
(llm_processor.py:81-137 IE; cti_processor.py:118-144 typed;
graph_constructor.py:212-243 preprocessed; graph_constructor.py:19-48
aligned). In Spark these run either as pure functions inside pandas
UDFs (dict-shaped model output) or as struct-field predicates; rejects
go to a side-output table instead of a log line.
"""

from __future__ import annotations


def _nonempty_str(v) -> bool:
    return isinstance(v, str) and bool(v.strip())


def _is_text(v) -> bool:
    """A usable entity text: a non-empty string (an int text would fail
    the string column's Arrow conversion for the whole task)."""
    return isinstance(v, str) and bool(v)


def _has_keys(t: dict) -> bool:
    return isinstance(t, dict) and all(k in t for k in ("subject", "relation", "object"))


def valid_ie_triplet(t) -> bool:
    """IE shape: subject/object non-empty string, or dict whose text
    (else mention_text) is a non-empty string; relation non-empty
    string."""
    if not _has_keys(t):
        return False
    for side in ("subject", "object"):
        v = t[side]
        if v is None:
            return False
        if isinstance(v, str):
            if not v.strip():
                return False
        elif isinstance(v, dict):
            if not _is_text(v.get("text") or v.get("mention_text")):
                return False
        else:
            return False
    return _nonempty_str(t.get("relation"))


def valid_typed_triplet(t) -> bool:
    """ET shape: subject/object dicts whose 'text' is a non-empty
    string."""
    if not _has_keys(t):
        return False
    for side in ("subject", "object"):
        v = t.get(side)
        if not isinstance(v, dict) or not _is_text(v.get("text")):
            return False
    return _nonempty_str(t.get("relation"))


def valid_preprocessed_triplet(t) -> bool:
    """EA-input shape: mention_id present (0 ok), mention_text
    non-empty, mention_class present."""
    if not _has_keys(t):
        return False
    for side in ("subject", "object"):
        v = t.get(side)
        if not isinstance(v, dict):
            return False
        if "mention_id" not in v or not v.get("mention_text") or "mention_class" not in v:
            return False
    return _nonempty_str(t.get("relation"))


def valid_aligned_triplet(t) -> bool:
    """LP-input shape: entity_id present (0 ok), some display text."""
    if not _has_keys(t):
        return False
    for side in ("subject", "object"):
        v = t.get(side)
        if not isinstance(v, dict) or "entity_id" not in v:
            return False
        if not (v.get("entity_text") or v.get("mention_text")):
            return False
    return _nonempty_str(t.get("relation"))


def split_valid(triplets: list, predicate) -> tuple[list, list]:
    """Partition a triplet list into (kept, rejected)."""
    kept, rejected = [], []
    for t in triplets or []:
        (kept if predicate(t) else rejected).append(t)
    return kept, rejected
