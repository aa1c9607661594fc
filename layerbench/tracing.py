"""Traced-run tooling: in-memory spans and a Spark event-log parser.

Spans are recorded by the benchmark around each call into a layer's
public function (the engine carries no instrumentation).  Each span has
a name, start and end (epoch seconds, comparable with the event log's
task launch times), the id of its parent span, and the run id shared
by every span of one run.  They stay in memory and are written out
once, when the run ends.

The event-log parser groups task metrics by the job description the
benchmark set with ``setJobDescription`` before each action, so every
plan prefix and workload pass gets its own executor CPU, GC, spill,
task-time skew and Python-worker figures.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()

    def self_time(self, span_id: int) -> float:
        """Span duration minus the part its direct children cover."""
        rec = self.spans[span_id]
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == span_id
        )
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# SQL metrics of the Python (mapInPandas) operator, per task
PY_METRICS = {
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
    "time to start Python workers": "worker_start_ms",
    "time to run Python workers": "worker_run_ms",
}


@dataclass
class JobGroup:
    """Task metrics of every job that ran under one job description."""

    first_launch_ms: float | None = None
    run_ms: list[int] = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    python: dict[str, float] = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return len(self.run_ms)

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (1.0 = no skew)."""
        if not self.run_ms:
            return 0.0
        med = statistics.median(self.run_ms)
        return max(self.run_ms) / med if med else 0.0


def parse_eventlog(path: str) -> dict[str, JobGroup]:
    """Event log (uncompressed, one JSON event per line) -> groups keyed
    by job description; jobs without one are ignored."""
    stage_desc: dict[int, str] = {}
    groups: dict[str, JobGroup] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description")
                if desc:
                    groups.setdefault(desc, JobGroup())
                    for sid in e["Stage IDs"]:
                        stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(e["Stage ID"])
                if desc is None or not e.get("Task Metrics"):
                    continue
                g = groups[desc]
                info, tm = e["Task Info"], e["Task Metrics"]
                launch = info["Launch Time"]
                if g.first_launch_ms is None or launch < g.first_launch_ms:
                    g.first_launch_ms = launch
                g.run_ms.append(tm["Executor Run Time"])
                g.cpu_s += tm["Executor CPU Time"] / 1e9
                g.gc_s += tm["JVM GC Time"] / 1e3
                g.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                for acc in info.get("Accumulables", ()):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key:
                        g.python[key] = g.python.get(key, 0.0) + float(acc["Update"])
    return groups


def find_eventlog(log_dir: str) -> str:
    """The single application log a traced session wrote."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
