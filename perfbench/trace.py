"""Spans around layer calls, self-time arithmetic, and Spark event-log
accounting for the traced run.

A span records name, start, end, parent and the run id shared by the
spans of one query, cycle or stream drain. Spans stay in memory and are
written as JSON lines once the run ends. With tracing off, ``span`` is a
no-op context manager, so the untraced run executes the same code. In a
traced run a root span can be opened with ``record=False``; it and every
span nested in it then record nothing, which is how a traced run also
times untraced reference operations through the same code.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    run_id: str
    parent: int | None
    start: float  # epoch seconds (same clock as the Spark event log)
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # open spans; None marks a root opened with record=False
        self._stack: list[Span | None] = []

    @contextmanager
    def span(self, name: str, run_id: str | None = None,
             record: bool = True):
        """Time the enclosed block as a child of the innermost open span.
        `run_id` and `record` apply to root spans; nested spans inherit
        both from their root."""
        if self._stack:
            parent = self._stack[-1]
            on = parent is not None
        else:
            parent, on = None, self.enabled and record
        if not on:
            self._stack.append(None)
            try:
                yield
            finally:
                self._stack.pop()
            return
        s = Span(
            sid=len(self.spans),
            name=name,
            run_id=run_id or (parent.run_id if parent else name),
            parent=parent.sid if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union(intervals) -> float:
    """Total length covered by a set of [a, b) intervals."""
    total, cur0, cur1 = 0.0, None, None
    for a, b in sorted(intervals):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children clipped to it)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = _union(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.sid]
            if c.end > s.start and c.start < s.end
        )
        out[s.sid] = (s.end - s.start) - covered
    return out


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """run_id -> {span name: summed self time}, plus '_wall' (the run's
    root span duration)."""
    st = self_times(spans)
    table: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        row = table[s.run_id]
        row[s.name] += st[s.sid]
        if s.parent is None:
            row["_wall"] += s.end - s.start
    return {k: dict(v) for k, v in table.items()}


# ---------------------------------------------------------------- event log
# Job-window logic after opt_tools.py (_analyze_eventlog), extended with
# stage and task accounting (shuffle bytes written, spill).


@dataclass
class Job:
    submit_ms: int
    end_ms: int
    stage_ids: list[int]


def parse_eventlog(evdir: str) -> tuple[list[Job], dict[int, dict[str, int]]]:
    """All completed jobs, and per completed stage its shuffle bytes
    written and bytes spilled (memory + disk)."""
    jobs, pending = [], {}
    stages: dict[int, dict[str, int]] = {}
    task_acc: dict[int, dict[str, int]] = defaultdict(
        lambda: {"shuffle_bytes": 0, "spill_bytes": 0}
    )
    # plain files, or rolling logs (one directory of parts per app)
    paths = glob.glob(os.path.join(evdir, "*")) + glob.glob(
        os.path.join(evdir, "*", "*"))
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    pending[ev["Job ID"]] = (
                        ev["Submission Time"], list(ev.get("Stage IDs", []))
                    )
                elif e == "SparkListenerJobEnd":
                    p = pending.pop(ev["Job ID"], None)
                    if p:
                        jobs.append(Job(p[0], ev["Completion Time"], p[1]))
                elif e == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages[sid] = task_acc[sid]
                elif e == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = task_acc[ev["Stage ID"]]
                    acc["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def window_stats(jobs: list[Job], stages: dict[int, dict[str, int]],
                 t0: float, t1: float) -> dict[str, float]:
    """Spark's accounting for the wall window [t0, t1] (epoch seconds):
    jobs submitted and finished inside it, the time they cover (interval
    union), the driver gap (window minus covered), stages run, shuffle
    bytes written and bytes spilled."""
    w0, w1 = t0 * 1000.0, t1 * 1000.0
    js = [j for j in jobs if j.submit_ms >= w0 - 1 and j.end_ms <= w1 + 1]
    covered = _union((j.submit_ms, j.end_ms) for j in js) / 1000.0
    ran = [s for j in js for s in j.stage_ids if s in stages]
    return {
        "spark.n_jobs": len(js),
        "spark.n_stages": len(ran),
        "spark.jobs_s": covered,
        "spark.driver_gap_s": max(0.0, (t1 - t0) - covered),
        "spark.shuffle_bytes": sum(stages[s]["shuffle_bytes"] for s in ran),
        "spark.spill_bytes": sum(stages[s]["spill_bytes"] for s in ran),
    }


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the QueryExecution that
    `df` last ran (read after the action, so the phases are the executed
    plan's, not a fresh re-analysis)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next().durationMs())
    return total
