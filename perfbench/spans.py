"""Spans around the engine's public calls, folded with Spark stage metrics.

A span is (name, start, end, parent, run id). Each span that may start
Spark jobs also sets a Spark job group named after it, so the executor
metrics of those jobs (run time, shuffle write, spill, input records) can
be read back from Spark's event log once the session has stopped and
attached to the span. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TASK_FIELDS = ("task_s", "shuffle_write_mb", "spill_mb", "records_in")


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    group: str | None
    # filled from the event log: TASK_FIELDS, plus job wall time
    metrics: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def _open(self, name: str, *, end: float | None) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{idx}"
        self.spans.append(Span(name, time.time(), end, parent, self.run_id, group))
        self._set_group(group)
        return idx

    @contextmanager
    def span(self, name: str):
        """Time the block; Spark jobs it starts run in the span's group."""
        idx = self._open(name, end=None)
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def job_span(self, name: str) -> None:
        """Open a span for jobs an engine call will start later, inside the
        current span (e.g. a lazily built DataFrame the engine collects).
        Its start and end are taken from the jobs' own times."""
        self._open(name, end=None)

    def fold(self, event_log_dir: str) -> None:
        """Attach per-group executor metrics from the event log."""
        by_group = read_event_log(event_log_dir)
        for s in self.spans:
            g = by_group.get(s.group)
            if g is None:
                s.metrics = {k: 0.0 for k in TASK_FIELDS}
                if s.end is None:
                    s.end = s.start
                continue
            s.metrics = {k: g[k] for k in TASK_FIELDS}
            if s.end is None:  # a job span: bounded by its jobs
                s.start, s.end = g["first_submit"], g["last_complete"]

    def self_s(self, idx: int) -> float:
        """Span time not covered by any of its child spans."""
        s = self.spans[idx]
        kids = sorted(
            (max(c.start, s.start), min(c.end or c.start, s.end or s.start))
            for c in self.spans
            if c.parent == idx
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.wall_s - covered

    def dump(self, path: str) -> None:
        rows = [
            {**asdict(s), "index": i, "wall_s": s.wall_s, "self_s": self.self_s(i)}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)


def read_event_log(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Executor metrics per job group from Spark's JSON event log.

    A stage is charged to the first job that lists it; stages a later job
    reuses are skipped by Spark and run no tasks."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(
            group,
            {**{k: 0.0 for k in TASK_FIELDS}, "first_submit": float("inf"), "last_complete": 0.0},
        )

    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    g = acc(group)
                    g["first_submit"] = min(g["first_submit"], ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    if group is not None:
                        g = acc(group)
                        g["last_complete"] = max(g["last_complete"], ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    g = acc(group)
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_write_mb"] += (
                        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                    g["records_in"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    return out
