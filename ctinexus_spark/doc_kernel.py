"""Per-document CTINexus semantics over plain Python lists.

Every per-document rule of the pipeline lives here exactly once:

- IE/ET response parsing — JSON repair, the validation filters, the
  first-key class fallback (llm_processor.py:81-213,
  cti_processor.py:118-198);
- LP link-answer parsing — the predicted triple and its hallucination
  guard (llm_processor.py:900-1015);
- EA alignment — type-blocked pairwise cosine, star-set or connected-
  component clusters, frequency-argmax canonical name, dense entity ids
  in class-first-appearance order, IOC unmerge
  (graph_constructor.py:246-441, cti_processor.py:53-115);
- LP graph analysis — per-document components, degree, main and topic
  node (graph_constructor.py:51-209).

The Spark operators (the two Arrow passes in operators/fused.py, the
IE-only table in operators/ie.py and link inference in operators/lp.py)
only move columns in and out of these functions. Nothing here imports pyspark, so the rules are unit-tested
without a JVM.

Order-dependent reference semantics rest on CPython dict/set iteration
order; this module pins total orders instead (SURVEY.md §7): traversal
position for first occurrence, ascending mention_id inside class groups
and clusters, first-appearance order for IOC unmerge iteration,
components ordered by the first traversal appearance of any member,
argmax ties toward the lower id. Outcomes are identical wherever the
reference is deterministic.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from ctinexus_spark.ioc import detect_iocs
from ctinexus_spark.jsonrepair import parse_llm_json
from ctinexus_spark.validation import valid_ie_triplet, valid_typed_triplet

# --- IE / ET response parsing ------------------------------------------


def _dict(v) -> dict:
    return v if isinstance(v, dict) else {}


def _payload(resp) -> dict:
    """Repaired JSON object of a model response (a string, or a dict
    passed through). No content (None), an unparseable response or a
    payload that is not an object (`[]`, `null`, a bare string) reads
    as {} instead of failing the Arrow task."""
    if not isinstance(resp, (str, dict)):
        return {}
    try:
        return _dict(parse_llm_json(resp))
    except ValueError:
        return {}


def _str_or_none(v):
    return v if isinstance(v, str) else None


def _mention_text(v):
    if isinstance(v, dict):
        v = v.get("text") or v.get("mention_text")
    return _str_or_none(v)


def parse_extraction(resp) -> list[tuple]:
    """IE response → [(subject, relation, object, valid)], one per
    triplet in response order; rejects keep valid=False. Dict-shaped
    subjects/objects contribute their text (or mention_text); any
    non-string field becomes None."""
    triplets = _payload(resp).get("triplets", [])
    if not isinstance(triplets, list):
        return []
    out = []
    for t in triplets:
        d = _dict(t)
        out.append((
            _mention_text(d.get("subject")),
            _str_or_none(d.get("relation")),
            _mention_text(d.get("object")),
            valid_ie_triplet(t),
        ))
    return out


def first_key_or_default(cls) -> str:
    """Entity class: a dict-valued class → its first key; missing or
    empty → 'default' (cti_processor.py:194-198)."""
    if isinstance(cls, dict):
        keys = list(cls.keys())
        return keys[0] if keys else "default"
    if isinstance(cls, str) and cls:
        return cls
    return "default"


def parse_tagging(resp) -> list[tuple]:
    """ET response → [(subject_text, subject_class, relation,
    object_text, object_class, valid)], one per tagged triple; the
    list comes from `tagged_triples`, else `triplets`. A non-string
    text or relation becomes None."""
    payload = _payload(resp)
    tagged = payload.get("tagged_triples")
    if tagged is None:
        tagged = payload.get("triplets", [])
    if not isinstance(tagged, list):
        return []
    out = []
    for t in tagged:
        d = _dict(t)
        subj, obj = _dict(d.get("subject")), _dict(d.get("object"))
        out.append((
            _str_or_none(subj.get("text")), first_key_or_default(subj.get("class")),
            _str_or_none(d.get("relation")),
            _str_or_none(obj.get("text")), first_key_or_default(obj.get("class")),
            valid_typed_triplet(t),
        ))
    return out


def parse_link(resp, main_text: str, topic_text: str) -> tuple[str, bool | None]:
    """LP response for the pair main ↔ topic → (relation, forward).
    forward is True when the answer names main → topic, False for
    topic → main, and None when it names neither orientation exactly
    (the hallucination sentinel). Subject, relation and object come
    from `predicted_triple`, else from the payload's first three
    values. A missing, null or non-string field turns all three into
    'unknown' (reference KeyError semantics, llm_processor.py:940-965),
    so the pair lands in the hallucination branch and the relation is
    always a string."""
    payload = _payload(resp)
    pt = payload.get("predicted_triple")
    if isinstance(pt, dict):
        vals = [pt.get(k) for k in ("subject", "relation", "object")]
    else:
        vals = list(payload.values())[:3]
    if len(vals) < 3 or not all(isinstance(v, str) for v in vals):
        vals = ["unknown"] * 3
    subj, rel, obj = vals
    if subj == main_text and obj == topic_text:
        return rel, True
    if subj == topic_text and obj == main_text:
        return rel, False
    return rel, None


# --- EA: merge + IOC unmerge --------------------------------------------


def _cosine_matrix(vecs: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = vecs / norms
    return unit @ unit.T


def _clusters_star(group: list[int], neighbors: dict[int, set[int]]) -> list[set[int]]:
    """Reference star-sets: {m} ∪ neighbors(m) per member, dedup by set
    equality keeping first (graph_constructor.py:413-420)."""
    uniq: list[set[int]] = []
    for m in group:
        s = set(neighbors[m]) | {m}
        if s not in uniq:
            uniq.append(s)
    return uniq


def _clusters_cc(group: list[int], neighbors: dict[int, set[int]]) -> list[set[int]]:
    """Connected components over the ≥threshold edges (north_star
    mode), ordered by smallest member id."""
    seen: set[int] = set()
    comps: list[set[int]] = []
    for start in group:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            n = stack.pop()
            if n in comp:
                continue
            comp.add(n)
            stack.extend(neighbors[n] - comp)
        seen |= comp
        comps.append(comp)
    return comps


def align_doc(
    mids: list[int], texts: list[str], classes: list[str],
    emb_of: dict, threshold: float, mode: str,
) -> tuple[list[int], list[str], list[list[str]]]:
    """EA merge + IOC unmerge for one document.

    Inputs are per-node lists in traversal order (subject, object per
    triple): dense mention ids, mention texts and classes; `emb_of`
    maps a mention text to its embedding. `mode` is "star" (reference
    star-sets, last write wins) or "cc" (connected components).
    Returns per-node (entity_ids, entity_texts, merged_texts)."""
    n = len(mids)
    # node_dict: mention_id -> node indices in traversal order
    node_rows: dict[int, list[int]] = {}
    for i in range(n):
        node_rows.setdefault(mids[i], []).append(i)
    text_of = {m: texts[rows[0]] for m, rows in node_rows.items()}

    # class blocking in first-appearance order
    class_order: list[str] = []
    class_members: dict[str, set[int]] = {}
    for i in range(n):
        c = classes[i]
        if c not in class_members:
            class_members[c] = set()
            class_order.append(c)
        class_members[c].add(mids[i])

    entity_id = 0
    # per-mention assignment (last write wins, as in the reference)
    ent_of: dict[int, tuple[int, str, list[str]]] = {}
    for c in class_order:
        group = sorted(class_members[c])
        if len(group) == 1:
            m = group[0]
            ent_of[m] = (entity_id, text_of[m], [])
            entity_id += 1
            continue
        vecs = np.vstack([np.asarray(emb_of[text_of[m]], dtype=np.float64) for m in group])
        sims = _cosine_matrix(vecs)
        neighbors: dict[int, set[int]] = {m: set() for m in group}
        for i, m1 in enumerate(group):
            for j in range(i + 1, len(group)):
                if sims[i, j] >= threshold:
                    neighbors[m1].add(group[j])
                    neighbors[group[j]].add(m1)
        clusters = (_clusters_cc if mode == "cc" else _clusters_star)(group, neighbors)
        for cluster in clusters:
            members = sorted(cluster)
            # canonical: frequency argmax, ties → lowest mention_id
            canon = max(members, key=lambda m: (len(node_rows[m]), -m))
            all_texts = [text_of[m] for m in members]
            for m in members:
                ent_of[m] = (entity_id, text_of[canon], [t for t in all_texts if t != text_of[m]])
            entity_id += 1

    ent_ids = [0] * n
    ent_texts = [""] * n
    merged: list[list[str]] = [[] for _ in range(n)]
    for m, rows in node_rows.items():
        e_id, e_text, m_list = ent_of[m]
        for r in rows:
            ent_ids[r] = e_id
            ent_texts[r] = e_text
            merged[r] = list(m_list)

    # IOC unmerge (PostProcessor, cti_processor.py:53-115): all-IOC
    # clusters split back into their own entities, with fresh ids after
    # every cluster's.
    entity_idx = entity_id
    first_mid_of_text: dict[str, int] = {}
    for i in range(n):
        first_mid_of_text.setdefault(texts[i], mids[i])
    for i in range(n):
        if not merged[i]:
            continue
        iocs = detect_iocs(merged[i], texts[i])
        if not iocs or len(iocs) < len(merged[i]) + 1:
            continue  # partial-IOC clusters stay merged (reference TODO)
        # deterministic order: first appearance of the IOC's mention
        for m_text in sorted(iocs, key=lambda t: first_mid_of_text.get(t, 1 << 30)):
            if m_text not in first_mid_of_text:
                continue
            rows = node_rows[first_mid_of_text[m_text]]
            new_id = entity_idx
            if ent_texts[rows[0]] != m_text:
                entity_idx += 1
            for r in rows:
                merged[r] = []
                if texts[r] != ent_texts[r]:
                    ent_ids[r] = new_id
                    ent_texts[r] = m_text
    return ent_ids, ent_texts, merged


# --- LP: components / degree / main / topic -----------------------------


class EntityStats(NamedTuple):
    entity_id: int
    entity_text: str
    component_id: int
    component_size: int
    degree: int
    is_main: bool
    is_topic: bool


def analyze_doc(ent_ids: list[int], ent_texts: list[str]) -> list[EntityStats]:
    """LP graph analysis for one document.

    `ent_ids`/`ent_texts` are per-node lists in traversal order, two
    nodes per triple: triple i links its own subject and object, nodes
    2i and 2i+1 (undirected). Documents sharing a url arrive as one
    node list, so they form one graph. Degree counts every node
    occurrence, so a self-loop counts twice. Components are numbered in discovery order;
    a component's main node is its degree argmax (ties → lower entity
    id) and the topic is the main node of the largest component (ties →
    first discovered). Returns one row per entity, grouped by component
    in discovery order.
    Union-find rather than the reference's recursive DFS, which would
    exhaust the stack on big components."""
    first_pos: dict[int, int] = {}
    text_of: dict[int, str] = {}
    degree: dict[int, int] = {}
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for i, e in enumerate(ent_ids):
        if e not in first_pos:
            first_pos[e] = i
            text_of[e] = ent_texts[i]
            degree[e] = 0
        degree[e] += 1
    for a, b in zip(ent_ids[0::2], ent_ids[1::2]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comp_members: dict[int, list[int]] = {}
    for e in first_pos:
        comp_members.setdefault(find(e), []).append(e)
    # component ids in discovery order = min first_pos of members
    comps = sorted(comp_members.values(), key=lambda ms: min(first_pos[m] for m in ms))
    mains = [max(sorted(ms), key=lambda m: (degree[m], -m)) for ms in comps]
    topic = None
    if comps:
        topic = mains[max(range(len(comps)), key=lambda i: (len(comps[i]), -i))]
    return [
        EntityStats(m, text_of[m], cid, len(members), degree[m], m == main, m == topic)
        for cid, (members, main) in enumerate(zip(comps, mains))
        for m in members
    ]
