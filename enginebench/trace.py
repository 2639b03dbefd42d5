"""Spans and counts for the traced run, plus per-op Spark status reads.

Spans are recorded from the benchmark's side of each public call. Both
spans and counts stay in memory and are written to one JSON file when the
run ends. With tracing off, ``span`` records nothing and no status store
is read.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": op, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float, op=None) -> None:
        if self.enabled:
            self.counts.append({"name": name, "op": op, "value": value})

    def durations(self, name: str, ops=None) -> list[float]:
        """Per-op total duration of the spans called ``name``."""
        per_op = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and (ops is None or s["op"] in ops):
                per_op[s["op"]] += s["end"] - s["start"]
        return list(per_op.values())

    def values(self, name: str, ops=None) -> list[float]:
        return [c["value"] for c in self.counts
                if c["name"] == name and (ops is None or c["op"] in ops)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover (children of one span never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def root_time(self, t0: float, t1: float) -> float:
        """Time inside [t0, t1] covered by root spans."""
        return sum(min(s["end"], t1) - max(s["start"], t0) for s in self.spans
                   if s["parent"] is None and s["end"] > t0 and s["start"] < t1)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "self_time_s": self.self_times(), **extra}, f)


STAGE_SUMS = {
    "input_rows": "inputRecords",
    "shuffle_bytes": ("shuffleReadBytes", "shuffleWriteBytes"),
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "gc_ms": "jvmGcTime",
    "cpu_ns": "executorCpuTime",
    "tasks": "numCompleteTasks",
}


class SparkCounters:
    """Jobs, stages and stage metrics of the work between two marks.

    Job and stage ids come from the scheduler's counters, so the jobs a
    streaming query runs on its own threads are counted too. Each op is
    read right after it completes: the status store keeps only the last
    1000 jobs and stages, so a window-wide sum would undercount."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def mark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def read(self, since: tuple[int, int], until: tuple[int, int]) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {"jobs": until[0] - since[0], "stages": 0, **{k: 0 for k in STAGE_SUMS}}
        for sid in range(since[1], until[1]):
            try:
                with urllib.request.urlopen(f"{self._url}/stages/{sid}") as r:
                    attempts = json.load(r)
            except urllib.error.HTTPError:
                continue  # id allocated to a stage the store never saw
            ran = [a for a in attempts if a.get("status") != "SKIPPED"]
            out["stages"] += bool(ran)
            for a in ran:
                for key, fields in STAGE_SUMS.items():
                    for fld in (fields if isinstance(fields, tuple) else (fields,)):
                        out[key] += a.get(fld, 0)
        return out
