"""Simulated model endpoint for the kg_llm workload.

`Answerer` turns the payloads `client.HttpModelClient` sends (chat
completions for IE / ET / LP prompts, embedding batches) into
deterministic stub-logic answers. A seeded share of documents is
extracted as two chains instead of one, so link prediction issues
requests.

`SimEndpoint` serves those answers over localhost HTTP with a fixed
service delay and seeded fail-once transient errors (HTTP 503 on the
first arrival of a chosen request body), and keeps one record per
request. `InProcessTransport` serves the same answers without HTTP;
it is the reference the kg_llm output check compares against.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ctinexus_spark.model import stub_embedding, stub_extract_triplets, stub_tag_class

KINDS = ("ie", "et", "embed", "link")


def _share(seed: int, tag: str, key: str | bytes) -> float:
    """Seeded uniform draw in [0, 1) keyed on a string or bytes."""
    raw = key if isinstance(key, bytes) else key.encode("utf-8")
    digest = hashlib.md5(f"{seed}:{tag}:".encode() + raw).digest()
    return int.from_bytes(digest[:4], "big") / 2**32


def request_kind(endpoint: str, payload: dict) -> str:
    if endpoint.endswith("/embeddings"):
        return "embed"
    content = payload["messages"][-1]["content"]
    if content.startswith("You extract"):
        return "ie"
    if content.startswith("You classify"):
        return "et"
    return "link"


def _between(content: str, start: str, end: str) -> str:
    return content.split(start, 1)[1].rsplit(end, 1)[0]


class Answerer:
    """Deterministic answers to the client's wire payloads."""

    def __init__(self, seed: int, split_share: float = 0.3, dim: int = 64, lp_relation: str = "related-to"):
        self.seed = seed
        self.split_share = split_share
        self.dim = dim
        self.lp_relation = lp_relation

    def _extract(self, report: str) -> dict:
        chain = stub_extract_triplets(report, {})
        if not chain or _share(self.seed, "split", report) >= self.split_share:
            return {"triplets": chain}
        mentions = [chain[0]["subject"]] + [t["object"] for t in chain]
        half = len(mentions) // 2
        return {
            "triplets": [
                {"subject": a, "relation": "precedes", "object": b}
                for part in (mentions[:half], mentions[half:])
                for a, b in zip(part, part[1:])
            ]
        }

    def _tag(self, triples: list[dict]) -> dict:
        return {
            "tagged_triples": [
                {
                    "subject": {"text": t["subject"], "class": stub_tag_class(t["subject"], {})},
                    "relation": t["relation"],
                    "object": {"text": t["object"], "class": stub_tag_class(t["object"], {})},
                }
                for t in triples
            ]
        }

    def _link(self, content: str) -> dict:
        main = _between(content, "\nEntity A: ", "\nEntity B: ")
        topic = _between(content, "\nEntity B: ", "\nReturn JSON")
        return {"predicted_triple": {"subject": main, "relation": self.lp_relation, "object": topic}}

    def answer(self, endpoint: str, payload: dict) -> dict:
        kind = request_kind(endpoint, payload)
        if kind == "embed":
            return {
                "data": [
                    {"index": i, "embedding": stub_embedding(t, self.dim).tolist()}
                    for i, t in enumerate(payload["input"])
                ]
            }
        content = payload["messages"][-1]["content"]
        if kind == "ie":
            body = self._extract(_between(content, "\nReport:\n", "\nOutput JSON only."))
        elif kind == "et":
            body = self._tag(json.loads(_between(content, "\nTriples:\n", "\nOutput JSON only.")))
        else:
            body = self._link(content)
        return {"choices": [{"message": {"content": json.dumps(body)}}]}


class InProcessTransport:
    """`HttpModelClient` transport answering in-process (no HTTP, no
    delay, no injected failures). Picklable, so it ships to executors."""

    def __init__(self, answerer: Answerer):
        self.answerer = answerer

    def __call__(self, payload: dict) -> dict:
        endpoint = payload.pop("_endpoint", "/chat/completions")
        return self.answerer.answer(endpoint, payload)


@dataclass(frozen=True)
class Record:
    kind: str
    attempt: int
    status: int
    bytes_in: int
    start: float
    end: float
    connection: tuple[str, int]
    cpu_s: float


class _Server(ThreadingHTTPServer):
    daemon_threads = True
    # up to 8 Arrow tasks x 8 client threads connect at once; the
    # default backlog of 5 would drop SYNs and add 1 s retransmits
    request_queue_size = 256


class SimEndpoint:
    """Localhost HTTP model endpoint. Use as a context manager; the
    server thread is stopped and joined on exit."""

    def __init__(self, answerer: Answerer, delay_s: float = 0.05, fail_share: float = 0.02):
        self.answerer = answerer
        self.delay_s = delay_s
        self.fail_share = fail_share
        self._lock = threading.Lock()
        self._records: list[Record] = []
        self._seen: dict[bytes, int] = {}
        self._server: _Server | None = None
        self._thread: threading.Thread | None = None

    @property
    def api_base(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/v1"

    def __enter__(self) -> "SimEndpoint":
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:
                pass

            def do_POST(self) -> None:
                start, cpu0 = time.perf_counter(), time.thread_time()
                body = self.rfile.read(int(self.headers["Content-Length"]))
                status, reply, kind, attempt = endpoint._handle(self.path, body)
                cpu_s = time.thread_time() - cpu0
                time.sleep(endpoint.delay_s)
                # recorded before the reply goes out, so a caller that has
                # its answer always finds the request in records()
                endpoint._record(Record(kind, attempt, status, len(body), start,
                                        time.perf_counter(), self.client_address[:2], cpu_s))
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(reply)))
                self.end_headers()
                self.wfile.write(reply)

        self._server = _Server(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, name="sim-endpoint", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def _handle(self, path: str, body: bytes) -> tuple[int, bytes, str, int]:
        payload = json.loads(body)
        kind = request_kind(path, payload)
        digest = hashlib.md5(body).digest()
        with self._lock:
            attempt = self._seen.get(digest, 0) + 1
            self._seen[digest] = attempt
        if attempt == 1 and _share(self.answerer.seed, "fail", digest) < self.fail_share:
            return 503, b'{"error": "transient"}', kind, attempt
        return 200, json.dumps(self.answerer.answer(path, payload)).encode("utf-8"), kind, attempt

    def _record(self, rec: Record) -> None:
        with self._lock:
            self._records.append(rec)

    def reset(self) -> None:
        """Forget records and fail-once state, so every run sees the
        same injected failures."""
        with self._lock:
            self._records = []
            self._seen = {}

    def records(self) -> list[Record]:
        with self._lock:
            return list(self._records)


def _percentile(sorted_values: list[float], q: float) -> float:
    if not sorted_values:
        return 0.0
    return sorted_values[min(len(sorted_values) - 1, int(q * len(sorted_values)))]


def endpoint_stats(records: list[Record]) -> dict[str, float]:
    """client.* per-layer metrics from one run's request records."""
    out: dict[str, float] = {f"requests.{k}": sum(r.kind == k for r in records) for k in KINDS}
    service = sorted(r.end - r.start for r in records)
    out["retries"] = sum(r.status != 200 for r in records)
    out["service_s_p50"] = _percentile(service, 0.50)
    out["service_s_p99"] = _percentile(service, 0.99)
    peak = mean = 0.0
    if records:
        span = max(r.end for r in records) - min(r.start for r in records)
        mean = sum(service) / span if span > 0 else 0.0
        events = sorted([(r.start, 1) for r in records] + [(r.end, -1) for r in records])
        live = 0
        for _, step in events:
            live += step
            peak = max(peak, live)
    out["inflight_mean"] = mean
    out["inflight_peak"] = peak
    out["connections"] = len({r.connection for r in records})
    out["request_kb"] = sum(r.bytes_in for r in records) / 1024
    out["endpoint_cpu_s"] = sum(r.cpu_s for r in records)
    return out
