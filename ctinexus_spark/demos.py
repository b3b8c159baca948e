"""Demonstration-corpus source (SURVEY.md §2.1 S3).

The reference loads 148 ICL example JSONs from data/demo at every
extraction call (llm_processor.py:1326-1332). Here the corpus is read
once on the driver and the fitted TF-IDF model is closure-captured
into the retrieval UDF (an effective broadcast). A missing corpus
directory raises FileNotFoundError: an empty corpus would silently
retrieve no demonstrations for every document.
"""

from __future__ import annotations

import json
import os

REFERENCE_DEMO_DIR = "/root/reference/ctinexus/data/demo"


def load_demo_corpus(path: str = REFERENCE_DEMO_DIR) -> tuple[list[str], list[str], list[list[dict]]]:
    """→ (demo_ids, texts, explicit_triplets) in sorted-filename order."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"demonstration corpus directory not found: {path}")
    ids: list[str] = []
    texts: list[str] = []
    triplets: list[list[dict]] = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as f:
            js = json.load(f)
        ids.append(name[: -len(".json")])
        texts.append(js.get("text", ""))
        triplets.append(js.get("explicit_triplets", []))
    return ids, texts, triplets
