"""Demonstration-corpus loader (demos.load_demo_corpus) on small
on-disk corpora; the real reference corpus is exercised by
test_demo_retrieval.py when present."""

import json

import pytest

from ctinexus_spark.demos import load_demo_corpus


def test_missing_corpus_directory_raises(tmp_path):
    missing = tmp_path / "no-such-demo-dir"
    with pytest.raises(FileNotFoundError, match="no-such-demo-dir"):
        load_demo_corpus(str(missing))


def test_loads_json_files_in_sorted_order(tmp_path):
    for name, text in (("b", "second"), ("a", "first")):
        (tmp_path / f"{name}.json").write_text(
            json.dumps({"text": text, "explicit_triplets": [{"subject": name}]})
        )
    (tmp_path / "notes.txt").write_text("ignored")
    ids, texts, triplets = load_demo_corpus(str(tmp_path))
    assert ids == ["a", "b"]
    assert texts == ["first", "second"]
    assert triplets == [[{"subject": "a"}], [{"subject": "b"}]]
