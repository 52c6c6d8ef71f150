"""Spans around the benchmark's calls into each layer, and Spark event-log
stage totals attributed to them.

A span is recorded in memory with its name, parent, start and end (wall
clock, epoch seconds — the clock the Spark event log uses for stage
submission and completion). After the session stops, the event log is read
once and every stage is attributed to each span whose window contains the
stage's submission time: the innermost span gets it as self work, and every
enclosing span counts it in its inclusive totals.

Per span this gives ``cpu_s``, ``stages``, ``tasks``, ``input_mb``,
``records_read``, ``shuffle_read_mb``, ``shuffle_write_mb``, ``spill_mb`` and
``output_mb``, plus ``driver_s``: the part of the span's wall time that no
running stage covers (planning, Python on the driver, collect, file
listing).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing, so the
    untraced run pays one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.time(), self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def suspended(self):
        """Record nothing inside (warm-up operations)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was


@dataclass
class Stage:
    stage_id: int
    submit: float  # epoch seconds
    complete: float
    tasks: int
    cpu_s: float
    input_mb: float
    records_read: int
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float
    output_mb: float


def _acc(stage_info: dict) -> dict:
    return {
        a.get("Name"): a.get("Value")
        for a in stage_info.get("Accumulables", [])
        if isinstance(a.get("Value"), (int, float))
    }


def read_stages(log_dir: str) -> list[Stage]:
    """Completed stages from every event-log file under ``log_dir`` (plain
    JSON lines; the rolling v2 layout nests them one directory down)."""
    stages: list[Stage] = []
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                si = json.loads(line).get("Stage Info", {})
                sub = si.get("Submission Time")
                if sub is None:
                    continue  # skipped stage: never ran
                acc = _acc(si)

                def g(name: str) -> float:
                    return float(acc.get("internal.metrics." + name, 0))

                stages.append(
                    Stage(
                        stage_id=int(si.get("Stage ID", -1)),
                        submit=sub / 1e3,
                        complete=si.get("Completion Time", sub) / 1e3,
                        tasks=int(si.get("Number of Tasks", 0)),
                        cpu_s=g("executorCpuTime") / 1e9,
                        input_mb=g("input.bytesRead") / MB,
                        records_read=int(g("input.recordsRead")),
                        shuffle_read_mb=(g("shuffle.read.localBytesRead") + g("shuffle.read.remoteBytesRead")) / MB,
                        shuffle_write_mb=g("shuffle.write.bytesWritten") / MB,
                        spill_mb=g("diskBytesSpilled") / MB,
                        output_mb=g("output.bytesWritten") / MB,
                    )
                )
    return stages


STAGE_TOTALS = ("cpu_s", "input_mb", "records_read", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb", "tasks")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(spans: list[Span], stages: list[Stage]) -> list[dict]:
    """One record per span: wall, self wall (minus child spans), driver time
    and inclusive stage totals for stages submitted inside the span."""
    children: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(i)
    out = []
    for i, sp in enumerate(spans):
        mine = [st for st in stages if sp.start <= st.submit <= sp.end]
        rec = {"name": sp.name, "wall_s": sp.wall_s, "stages": len(mine), **sp.counts}
        for key in STAGE_TOTALS:
            rec[key] = sum(getattr(st, key) for st in mine)
        kids = [(spans[k].start, spans[k].end) for k in children.get(i, [])]
        rec["self_s"] = sp.wall_s - _covered(kids, sp.start, sp.end)
        rec["driver_s"] = sp.wall_s - _covered([(st.submit, st.complete) for st in mine], sp.start, sp.end)
        out.append(rec)
    return out
