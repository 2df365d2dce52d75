"""Spans recorded around the benchmark's calls into the library, and
Spark stage spans read back from the event log.

A span is (id, op, name, start, end, parent). Spans stay in memory and
are written out once, as JSON lines, when the run ends. A span's self
time is its duration minus the part of its interval covered by its
children.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    op: str
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every call is a
    no-op, so the timed code path is the same in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), op, name, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, op: str, start: float, end: float, parent: int | None) -> Span:
        s = Span(len(self.spans), op, name, start, end, parent)
        self.spans.append(s)
        return s

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class StageRecord:
    job_group: str
    stage_id: int
    start: float
    end: float
    tasks: int
    scans_files: bool
    shuffle_records_written: int
    shuffle_bytes_written: int
    max_task_records_read: int


def read_event_log(path: str) -> tuple[dict[str, int], list[StageRecord]]:
    """Parse a Spark event log -> ({job group: jobs}, completed stages).

    Skipped stages emit no completion event, so only stages that ran are
    returned. A stage "scans files" when one of its RDDs is a file scan:
    that is the stage that reads input (or checkpoint) parquet and runs
    the per-partition sketch build; every other stage is a merge stage
    fed by a shuffle. Shuffle counters come from the task-end events."""
    jobs_per_group: dict[str, int] = {}
    group_of_stage: dict[int, str] = {}
    written: dict[int, list[int]] = {}  # stage -> [records, bytes, max records read]
    stages: list[StageRecord] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group:
                    continue
                jobs_per_group[group] = jobs_per_group.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    group_of_stage[sid] = group
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                acc = written.setdefault(ev["Stage ID"], [0, 0, 0])
                sw = tm.get("Shuffle Write Metrics") or {}
                acc[0] += sw.get("Shuffle Records Written", 0)
                acc[1] += sw.get("Shuffle Bytes Written", 0)
                acc[2] = max(acc[2], (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if sid not in group_of_stage or "Failure Reason" in info:
                    continue
                recs, nbytes, max_read = written.get(sid, [0, 0, 0])
                stages.append(
                    StageRecord(
                        group_of_stage[sid],
                        sid,
                        info["Submission Time"] / 1000.0,
                        info["Completion Time"] / 1000.0,
                        info["Number of Tasks"],
                        any("FileScan" in r.get("Name", "") for r in info.get("RDD Info", [])),
                        recs,
                        nbytes,
                        max_read,
                    )
                )
    return jobs_per_group, stages
