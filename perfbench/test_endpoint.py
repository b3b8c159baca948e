"""The simulated endpoint is a pure function of its seed: the same seed
gives the same answers, request counts and injected failures.

    python3 -m pytest perfbench/test_endpoint.py -q
"""

import json
from collections import Counter

from ctinexus_spark.client import HttpModelClient
from perfbench.endpoint import Answerer, InProcessTransport, SimEndpoint

REPORTS = [
    f"Operators exploited CVE-2023-{1000 + i} and beaconed to 10.0.{i}.1, staging payloads on "
    f"cdn{i}.example-{i}.com; mail came from intruder{i}@malicious-{i}.net."
    for i in range(12)
]


def drive(client) -> list:
    """One fixed sequence of IE, ET, embedding and link calls."""
    extracted = client.extract(REPORTS)
    triples = [json.loads(raw)["triplets"] for raw in extracted]
    tagged = client.tag(REPORTS, triples)
    mentions = sorted({t[k] for doc in triples for t in doc for k in ("subject", "object")})
    vectors = client.embed(mentions).round(12).tolist()
    links = client.link_batch([(REPORTS[0], mentions[0], mentions[-1])])
    return [extracted, tagged, vectors, links]


def served(seed: int, fail_share: float = 0.3) -> tuple[list, Counter, int]:
    with SimEndpoint(Answerer(seed), delay_s=0.0, fail_share=fail_share) as endpoint:
        answers = drive(HttpModelClient("sim", api_base=endpoint.api_base, max_concurrency=2))
        records = endpoint.records()
    counts = Counter((r.kind, r.attempt, r.status) for r in records)
    return answers, counts, sum(r.bytes_in for r in records)


def test_same_seed_same_answers_and_counts():
    first, second = served(7), served(7)
    assert first == second
    assert sum(n for (_, _, status), n in first[1].items() if status == 503) > 0


def test_seed_changes_the_split_or_the_failures():
    answers = {seed: served(seed) for seed in range(1, 6)}
    assert len({json.dumps(a[0]) + str(sorted(a[1].items())) for a in answers.values()}) > 1


def test_http_answers_match_in_process_answers():
    answerer = Answerer(3)
    local = drive(HttpModelClient("sim", transport=InProcessTransport(answerer)))
    assert served(3)[0] == local
