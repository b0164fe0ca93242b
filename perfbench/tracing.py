"""Spark-free measurement helpers: spans, self time, percentiles, lag.

Everything here works on plain numbers and dicts so it can be unit-tested
without a Spark session.  Times are epoch seconds (``time.time()``) so
spans recorded in Python line up with the JVM's millisecond timestamps
(status-store job times, Catalyst phase times, progress reports).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    """One timed interval of a layer.  ``parent`` is the index of the
    enclosing span in the owning :class:`Trace` (``None`` for the root)."""

    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


class Trace:
    """Spans of one run, kept in memory and written out when the run ends.

    Every span shares the trace's ``run_id``.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def innermost(self, t: float, among) -> int | None:
        """The shortest span in ``among`` whose interval contains ``t``."""
        best = None
        for i in among:
            s = self.spans[i]
            if s.start <= t <= s.end and (best is None or s.duration < self.spans[best].duration):
                best = i
        return best

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part its children cover."""
        s = self.spans[idx]
        return s.duration - covered(
            [(c.start, c.end) for c in self.children(idx)], s.start, s.end
        )

    def self_times_by_name(self, root: int) -> dict[str, float]:
        """Self time summed per span name over the subtree of ``root``."""
        out: dict[str, float] = {}
        stack = [root]
        while stack:
            i = stack.pop()
            out[self.spans[i].name] = out.get(self.spans[i].name, 0.0) + self.self_time(i)
            stack.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def to_json(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": i,
                    "name": s.name,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "parent": s.parent,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }
                for i, s in enumerate(self.spans)
            ],
        }


def covered(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(wall_start: float, wall_end: float, job_spans) -> float:
    """Wall time of ``[wall_start, wall_end]`` during which no Spark job ran."""
    return (wall_end - wall_start) - covered(job_spans, wall_start, wall_end)


def tail_percentile(values, min_beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    above it, as ``(percentile, value)``; ``None`` when no percentile of
    1 or more qualifies.  The value is the nearest-rank order statistic:
    percentile ``p`` is sample number ``ceil(n * p / 100)`` in sorted order,
    and the samples beyond it are the ``n - ceil(n * p / 100)`` above it.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(n * p / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def median(values) -> float:
    return float(statistics.median(values))


def parse_ts(ts: str) -> float:
    """Epoch seconds of a progress-report timestamp (``...Z``, UTC)."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_lags_ms(progress: list[dict], t0: float, rate: float) -> list[float]:
    """Per-micro-batch lag from an open-loop phase's progress reports.

    The generator makes event ``i`` at ``t0 + i / rate`` and publishes
    events in index order, so the rows a query has consumed after batch
    ``k`` are always the prefix ``[0, consumed_k)``.  The newest event of
    batch ``k`` is therefore ``consumed_k - 1``, and its lag is the batch's
    completion time (trigger start + ``triggerExecution``) minus that
    event's creation time.  Batches that read no rows have no lag.
    """
    lags = []
    consumed = 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        rows = int(p.get("numInputRows", 0))
        consumed += rows
        if rows == 0:
            continue
        done = parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        created = t0 + (consumed - 1) / rate
        lags.append((done - created) * 1000.0)
    return lags


def batch_backlogs(progress: list[dict], t0: float, rate: float) -> list[int]:
    """Per micro-batch of an open-loop phase: events created by the time
    the batch started that earlier batches had not consumed."""
    out = []
    consumed = 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        created = max(0, math.floor((parse_ts(p["timestamp"]) - t0) * rate))
        out.append(max(0, created - consumed))
        consumed += int(p.get("numInputRows", 0))
    return out


# Micro-batch phases of a progress report, in the order MicroBatchExecution
# runs them inside ``triggerExecution``.
BATCH_PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


def add_batch_spans(trace: Trace, progress: dict, parent: int | None, sink=None) -> int:
    """Record one micro-batch as a span with its ``durationMs`` phases laid
    end to end as children; ``sink`` is the benchmark sink's measured
    ``(start, end)``, nested under ``addBatch``.  Returns the batch span."""
    start = parse_ts(progress["timestamp"])
    dur = progress["durationMs"]
    b = trace.add(
        "stream.batch",
        start,
        start + dur["triggerExecution"] / 1000.0,
        parent,
        batchId=progress["batchId"],
        rows=progress.get("numInputRows", 0),
    )
    t = start
    for phase in BATCH_PHASES:
        ms = dur.get(phase)
        if ms is None:
            continue
        child = trace.add(f"stream.{phase}", t, t + ms / 1000.0, b)
        if phase == "addBatch" and sink is not None:
            trace.add("sink", sink[0], sink[1], child)
        t += ms / 1000.0
    return b

