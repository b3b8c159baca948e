"""Spans around calls into each layer, plus Spark task metrics per span
label from the session's event log.

A traced run opens spans with `Tracer.span(name)`. Each span sets the
Spark job description to `<run_id>:<name>`, so every job a span starts
carries that label in the event log. Spans stay in memory and are
written as JSON lines when the benchmark exits.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PYTHON_IO_METRICS = ("data sent to Python workers", "data returned from Python workers")
MB = 1024 * 1024


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[str] = []

    def _label(self) -> str | None:
        return f"{self.run_id}:{self._stack[-1]}" if self._stack else None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.spark.sparkContext.setJobDescription(self._label())
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spark.sparkContext.setJobDescription(self._label())
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def seconds(self, name: str, parent: str | None = None) -> float:
        """Total duration of the current run's spans called `name`; with
        `parent`, only those opened directly under a span of that name."""
        return sum(s.seconds for s in self.spans
                   if s.name == name and s.run_id == self.run_id and (parent is None or s.parent == parent))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class LabelMetrics:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    python_io_mb: float = 0.0

    def add(self, other: "LabelMetrics") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def event_log_metrics(log_dir: str) -> dict[str, LabelMetrics]:
    """Task metrics summed per job description, from the event log(s)
    the session wrote to `log_dir`. Read after the session stops, so
    every task-end event has been flushed."""
    per_label: dict[str, LabelMetrics] = defaultdict(LabelMetrics)
    stage_label: dict[int, str] = {}
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if n.startswith("events"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    if label is None:
                        continue
                    per_label[label].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    if label is None:
                        continue
                    m = per_label[label]
                    tm = ev.get("Task Metrics") or {}
                    m.tasks += 1
                    m.executor_run_s += tm.get("Executor Run Time", 0) / 1000
                    m.gc_s += tm.get("JVM GC Time", 0) / 1000
                    m.spill_mb += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB
                    m.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_IO_METRICS:
                            m.python_io_mb += float(acc.get("Update", 0)) / MB
    return dict(per_label)


def metrics_for(per_label: dict[str, LabelMetrics], run_id: str, prefix: str = "") -> LabelMetrics:
    """Sum of the labels of one run whose span name starts with `prefix`."""
    total = LabelMetrics()
    for label, m in per_label.items():
        rid, _, name = label.partition(":")
        if rid == run_id and name.startswith(prefix):
            total.add(m)
    return total
