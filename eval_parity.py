"""Full reference-parity evaluation over the 149-document annotated
corpus → prints JSON and writes EVAL.md.

Usage: python3 eval_parity.py
"""

from __future__ import annotations

import json

from ctinexus_spark.demos import REFERENCE_DEMO_DIR
from ctinexus_spark.evaluation import ANNOTATION_DIR, evaluate_parity
from ctinexus_spark.session import build_session

REFERENCE_DATA_NOTE = f"""
## Results that need the reference checkout

These read data from the CTINexus reference checkout, which is not
shipped with this repository. Where it is missing they cannot
be reproduced; the tests skip with a reason instead of passing empty.

- EVAL parity (`python3 eval_parity.py`, the table above): the
  annotated corpus at `{ANNOTATION_DIR}`.
- `tests/test_parity.py`: the same annotated corpus.
- `tests/test_demo_retrieval.py`: the 148-file demonstration corpus at
  `{REFERENCE_DEMO_DIR}`.
- `ie_demo_topk` in `tests/test_entry_contract.py`: the same
  demonstration corpus (`demos.load_demo_corpus` raises
  `FileNotFoundError` without it).
"""


def main() -> None:
    spark = build_session(app_name="ctinexus-parity")
    spark.sparkContext.setLogLevel("ERROR")
    report = evaluate_parity(spark)
    spark.stop()
    print(json.dumps(report.as_dict()))

    with open("EVAL.md", "w") as f:
        f.write(
            "# EVAL — reference parity (annotated corpus)\n\n"
            "Config: deterministic stub-replay (BASELINE.md row 1), the\n"
            "same mocked-model strategy as the reference's own tests.\n"
            "Measures OUR dataflow end-to-end: normalize → IE parse/\n"
            "validate → pipeline carry-through of every triple.\n\n"
            "| metric | value | target |\n|---|---|---|\n"
            f"| documents | {report.n_docs} | 149 |\n"
            f"| gold triples | {report.n_gold} | — |\n"
            f"| predicted triples | {report.n_pred} | — |\n"
            f"| exact matches (subj/rel/obj EM) | {report.n_match} | — |\n"
            f"| precision | {report.precision:.4f} | ≥ 0.95 |\n"
            f"| recall | {report.recall:.4f} | ≥ 0.95 |\n"
            f"| byte-identical text_norm docs | {report.text_identical_docs}/{report.n_docs} | all |\n"
            f"| EA same-entity pair precision | {report.ea_pair_precision:.4f} | supplementary |\n"
            f"| EA same-entity pair recall | {report.ea_pair_recall:.4f} | supplementary |\n"
            "\nEA rows measure hierarchical alignment (type blocking +\n"
            "cosine merge + IOC unmerge) against the annotation `entities`\n"
            "ground truth; residual recall gaps are faithful reference\n"
            "behaviors (all-IOC clusters are deliberately unmerged;\n"
            "star-mode last-write-wins can split human-annotated groups).\n"
            + REFERENCE_DATA_NOTE
        )


if __name__ == "__main__":
    main()
