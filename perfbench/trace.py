"""Traced-run tooling: a span recorder, a reader for Spark's
``StreamingQueryProgress`` records and a reader for Spark's event log.

Spans are recorded by the benchmark's own code around its calls into
the package's public functions; they are kept in memory and written
out when the run ends. Nothing here changes the program under test.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Spans:
    """In-memory spans: name, start, end, parent, run id. Disabled
    recorders cost one attribute check per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.items: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent if parent is not None else (stack[-1] if stack else None),
               "run": self.run_id}
        with self._lock:
            rec["id"] = len(self.items)
            self.items.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every closed span called ``name``, in s."""
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name and s["end"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.items if s["name"] == name and s["end"]]

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.items))


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def progress_records(query) -> list[dict]:
    """Every retained ``StreamingQueryProgress`` of ``query`` as a dict."""
    return [json.loads(p.json) for p in query.recentProgress]


def progress_layers(records: list[dict]) -> dict[str, float]:
    """Per-batch medians of the trigger phases and state metrics over
    the given progress records, plus the phases summed over all of them
    (``_phases_ms``)."""
    data = [r for r in records if r.get("numInputRows", 0) > 0]
    dur = lambda r, k: r.get("durationMs", {}).get(k, 0)  # noqa: E731
    state = lambda r, k: sum(op.get(k, 0) for op in r.get("stateOperators", []))  # noqa: E731
    parts = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    ops = records[-1].get("stateOperators", []) if records else []
    return {
        "sources.latest_offset_ms": median(dur(r, "latestOffset") for r in data),
        "sources.get_batch_ms": median(dur(r, "getBatch") for r in data),
        "sources.rows_per_batch": median(r["numInputRows"] for r in data),
        "stream.query_planning_ms": median(dur(r, "queryPlanning") for r in data),
        "stream.trigger_ms": median(dur(r, "triggerExecution") for r in data),
        "stream.add_batch_ms": median(dur(r, "addBatch") for r in data),
        "stream.batches": float(len(records)),
        "state.partitions": float(sum(op.get("numShufflePartitions", 0) for op in ops)),
        "state.rows_total": median(state(r, "numRowsTotal") for r in data),
        "state.memory_bytes": median(state(r, "memoryUsedBytes") for r in data),
        "state.commit_ms": median(state(r, "commitTimeMs") for r in data),
        "state.updates_ms": median(state(r, "allUpdatesTimeMs") for r in data),
        "state.rows_dropped_by_watermark": float(
            sum(state(r, "numRowsDroppedByWatermark") for r in records)),
        "checkpoint.wal_commit_ms": median(dur(r, "walCommit") for r in data),
        "checkpoint.commit_offsets_ms": median(dur(r, "commitOffsets") for r in data),
        "_phases_ms": float(sum(dur(r, k) for r in records for k in parts)),
    }


def read_event_log(directory: Path) -> list[dict]:
    """Jobs of an uncompressed Spark event log as ``{"group", "start",
    "end", "tasks", "gc_ms"}`` dicts, times in epoch ms."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` files.
    for path in sorted(directory.rglob("events_*")):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = jobs.setdefault(ev["Job ID"], {"tasks": 0, "gc_ms": 0})
                    j.update(group=props.get("spark.jobGroup.id"), start=ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {"tasks": 0, "gc_ms": 0})["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    if j is not None:
                        j["tasks"] += 1
                        j["gc_ms"] += (ev.get("Task Metrics") or {}).get("JVM GC Time", 0)
    return [j for j in jobs.values() if "start" in j and "end" in j]


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` from /proc."""
    import os

    fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
