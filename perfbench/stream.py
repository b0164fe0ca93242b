"""Streaming workloads: one open-loop phase, then closed-loop drain passes.

The input is seeded insect events derived with Spark expressions from an
event index ``i``: the benchmark writes only indices (and, in the open
loop, each event's creation time) to parquet files, and the engine's
operator reads them through Spark's file stream source.

- Open loop: a generator thread publishes the events due in each 100 ms
  tick as one file, on a fixed schedule that does not wait for the
  query, so a slow query finds a growing backlog.  Event ``i`` is created
  at ``t0 + i / rate``.  The query runs with the default trigger, and each
  micro-batch's lag is its completion time minus the creation time of
  its newest event (see ``tracing.batch_lags_ms``).
- Closed loop: a fixed set of files, one per micro-batch, drained with
  ``availableNow`` so the query ends by itself on a batch boundary.  Event
  time is synthetic (``STEP_US`` per event), so state evolves identically
  on every run.  Each drain starts from a fresh checkpoint.

Both phases end on a micro-batch boundary: the open loop stops its
generator, waits with ``processAllAvailable`` and only then stops the
query.  An exception raised by a batch counts as a failure; one raised by
``stop()`` is reported under its own counter.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import sparkstats
import tracing
from tracing import Trace

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
STEP_US = 1_000  # synthetic event time advances 1 ms per event
N_USERS = 1_500
SOURCE_SCHEMA = "i BIGINT, created TIMESTAMP"
TICK_S = 0.1


def derive(df, seed: int):
    """Seeded insect events from an index column ``i``."""
    from pyspark.sql import functions as F

    from ecostream.schema import EVENTS, ROLES, SPECIES

    h = F.xxhash64(F.col("i"), F.lit(seed))

    def pick(options, shift):
        idx = F.pmod(F.shiftright(h, shift), F.lit(len(options))) + 1
        return F.element_at(F.array(*[F.lit(o) for o in options]), idx.cast("int"))

    return df.select(
        "i",
        pick(SPECIES, 0).alias("species"),
        pick(ROLES, 8).alias("role"),
        pick(EVENTS, 16).alias("event_type"),
        F.pmod(F.shiftright(h, 24), F.lit(N_USERS)).alias("user_id"),
        F.pmod(F.shiftright(h, 44), F.lit(1000)).cast("double").alias("value"),
        F.timestamp_micros(F.lit(EPOCH_US) + F.col("i") * F.lit(STEP_US)).alias("event_ts"),
    )


class _Operator:
    """One engine operator under test: how to build it on the event
    stream, how to key its output rows, and its batch reference."""

    def __init__(self, wl: dict):
        self.wl = wl
        self.kind = wl["operator"]

    def build(self, events):
        if self.kind == "windowed_counts":
            from ecostream.streaming.ingest import windowed_counts

            return windowed_counts(
                events,
                ts_col="event_ts",
                window=self.wl["window"],
                watermark=self.wl["watermark"],
                keys=("species", "role"),
            )
        from ecostream.streaming.stateful import running_sketch

        return running_sketch(events.select("event_type", "user_id", "value"))

    def key(self, row):
        if self.kind == "windowed_counts":
            return (row["window_start"], row["species"], row["role"]), row["cnt"]
        return row["event_type"], (row["n"], row["total"], tuple(row["sig"]))

    def final(self, latest: dict) -> dict:
        """The operator's answer once a drain has ended."""
        if self.kind == "windowed_counts":
            totals: dict = {}
            for (_, species, role), cnt in latest.items():
                totals[(species, role)] = totals.get((species, role), 0) + cnt
            return totals
        return dict(latest)

    def expected(self, spark, n: int, seed: int) -> dict:
        """The same answer from a batch query over events ``[0, n)``."""
        events = derive(spark.range(n).withColumnRenamed("id", "i"), seed)
        if self.kind == "windowed_counts":
            rows = events.groupBy("species", "role").count().collect()
            return {(r["species"], r["role"]): r["count"] for r in rows}
        from ecostream.streaming.stateful import batch_sketch

        return {
            r["event_type"]: (r["n"], r["total"], tuple(r["sig"]))
            for r in batch_sketch(events).collect()
        }


class _Sink:
    """The benchmark's foreachBatch sink: collects each micro-batch's
    output and keeps the newest row per key."""

    def __init__(self, op: _Operator):
        self.op = op
        self.latest: dict = {}
        self.batches: dict[int, tuple[float, float]] = {}
        self.collect_s = 0.0
        self.rows = 0

    def __call__(self, df, batch_id: int) -> None:
        t = time.time()
        rows = df.collect()
        t_collect = time.time()
        for r in rows:
            k, v = self.op.key(r)
            self.latest[k] = v
        self.rows += len(rows)
        self.collect_s += t_collect - t
        self.batches[batch_id] = (t, time.time())


def _write_indices(path: str, lo: int, hi: int, created_us) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(
        pa.table(
            {
                "i": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "created": pa.array(created_us, pa.timestamp("us", tz="UTC")),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)  # the file source ignores dot-files until now


def write_drain_files(out_dir: str, batches: int, rows_per_batch: int) -> int:
    """``batches`` files of ``rows_per_batch`` consecutive indices."""
    os.makedirs(out_dir, exist_ok=True)
    now_us = np.full(rows_per_batch, int(time.time() * 1e6), dtype=np.int64)
    for k in range(batches):
        lo = k * rows_per_batch
        _write_indices(os.path.join(out_dir, f"part-{k:05d}.parquet"), lo, lo + rows_per_batch, now_us)
    return batches * rows_per_batch


class OpenLoopGenerator:
    """Publishes the events due in each tick as one file, on schedule."""

    def __init__(self, out_dir: str, rate: float):
        self.out_dir = out_dir
        self.rate = rate
        self.t0 = None
        self.files = 0
        self.max_late_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="open-loop", daemon=True)

    def start(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        self.t0 = time.time()
        self._thread.start()

    def _run(self) -> None:
        k = 0
        while not self._stop.is_set():
            due = self.t0 + (k + 1) * TICK_S
            if self._stop.wait(max(0.0, due - time.time())):
                break
            self.max_late_s = max(self.max_late_s, time.time() - due)
            lo = round(k * TICK_S * self.rate)
            hi = round((k + 1) * TICK_S * self.rate)
            created = (self.t0 * 1e6 + np.arange(lo, hi) * (1e6 / self.rate)).astype(np.int64)
            _write_indices(os.path.join(self.out_dir, f"part-{k:06d}.parquet"), lo, hi, created)
            self.files = k = k + 1

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)


class _Phase:
    """Bookkeeping of one streaming query run."""

    def __init__(self, name: str, traced: bool):
        self.name = name
        self.traced = traced
        self.progress: list[dict] = []
        self.error: str | None = None
        self.stop_error: str | None = None
        self.wall_s = 0.0
        self.build_s = 0.0
        self.sink: _Sink | None = None
        self.jobs: list[dict] = []
        self.start = self.end = 0.0


class StreamRunner:
    def __init__(self, spark, wl: dict, seed: int, work: str):
        self.spark = spark
        self.wl = wl
        self.seed = seed
        self.work = work
        self.op = _Operator(wl)
        self._ckpt = 0

    def _start(self, src_dir: str, phase: _Phase, drain: bool):
        reader = self.spark.readStream.schema(SOURCE_SCHEMA)
        if drain:
            reader = reader.option("maxFilesPerTrigger", 1)
        events = derive(reader.parquet(src_dir), self.seed)
        t = time.time()
        out = self.op.build(events)
        phase.build_s = time.time() - t
        phase.sink = _Sink(self.op)
        self._ckpt += 1
        writer = (
            out.writeStream.foreachBatch(phase.sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(self.work, f"ckpt-{self._ckpt}"))
        )
        if drain:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _finish(self, q, phase: _Phase) -> None:
        try:
            q.stop()
        except Exception as exc:  # reported, never swallowed
            phase.stop_error = f"{type(exc).__name__}: {str(exc)[:300]}"
        exc = q.exception()
        if exc is not None and phase.error is None:
            phase.error = str(exc)[:500]
        phase.progress = [json.loads(p.json) for p in q.recentProgress]

    def drain(self, src_dir: str, traced: bool = False) -> _Phase:
        """One closed-loop pass over every file in ``src_dir``."""
        phase = _Phase("drain", traced)
        seen = sparkstats.job_ids(self.spark) if traced else None
        phase.start = time.time()
        q = self._start(src_dir, phase, drain=True)
        try:
            if not q.awaitTermination(self.wl["timeout_s"]):
                phase.error = "drain did not finish in time"
        except Exception as exc:  # the query failed inside a batch
            phase.error = f"{type(exc).__name__}: {str(exc)[:500]}"
        phase.end = time.time()
        phase.wall_s = phase.end - phase.start
        self._finish(q, phase)
        if traced:
            phase.jobs = sparkstats.jobs_since(self.spark, seen)
        return phase

    def open_loop(self, seconds: float, traced: bool = False) -> tuple[_Phase, OpenLoopGenerator]:
        phase = _Phase("open_loop", traced)
        src = os.path.join(self.work, "open-loop")
        gen = OpenLoopGenerator(src, self.wl["open_loop_rate"])
        os.makedirs(src, exist_ok=True)
        seen = sparkstats.job_ids(self.spark) if traced else None
        q = self._start(src, phase, drain=False)
        phase.start = time.time()
        gen.start()
        deadline = gen.t0 + seconds
        while time.time() < deadline and q.isActive:
            time.sleep(0.05)
        gen.stop()
        try:
            q.processAllAvailable()
        except Exception as exc:  # the query failed inside a batch
            phase.error = f"{type(exc).__name__}: {str(exc)[:500]}"
        phase.end = time.time()
        phase.wall_s = phase.end - phase.start
        self._finish(q, phase)
        if traced:
            phase.jobs = sparkstats.jobs_since(self.spark, seen)
        return phase, gen


def _batch_count(phase: _Phase) -> int:
    return sum(1 for p in phase.progress if p.get("numInputRows", 0) > 0)


def _state_ops(p: dict) -> list[dict]:
    return p.get("stateOperators", []) or []


def phase_layers(spark, phase: _Phase, trace: Trace | None) -> dict:
    """Per-layer numbers of one phase from its progress reports, its sink
    and (when traced) the status store."""
    batches = [p for p in phase.progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]  # noqa: E731
    ops = [_state_ops(p) for p in batches]
    rows_in = sum(p["numInputRows"] for p in batches)
    out = {
        "stream.batches": len(batches),
        "stream.trigger_ms": tracing.median(dur("triggerExecution")) if batches else 0.0,
        "stream.addBatch_ms": tracing.median(dur("addBatch")) if batches else 0.0,
        "stream.queryPlanning_ms": tracing.median(dur("queryPlanning")) if batches else 0.0,
        "stream.walCommit_ms": tracing.median(dur("walCommit")) if batches else 0.0,
        "stream.commitOffsets_ms": tracing.median(dur("commitOffsets")) if batches else 0.0,
        "stream.latestOffset_ms": tracing.median(dur("latestOffset")) if batches else 0.0,
        "state.rows_total": sum(o.get("numRowsTotal", 0) for o in ops[-1]) if ops else 0,
        "state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops[-1]) if ops else 0,
        "state.updates_ms": tracing.median([sum(o.get("allUpdatesTimeMs", 0) for o in b) for b in ops]) if ops else 0.0,
        "state.commit_ms": tracing.median([sum(o.get("commitTimeMs", 0) for o in b) for b in ops]) if ops else 0.0,
        "state.rows_removed": sum(o.get("numRowsRemoved", 0) for b in ops for o in b),
        "state.dropped_by_watermark_frac": (
            sum(o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b) / rows_in if rows_in else 0.0
        ),
        "sink.ms": tracing.median([(b - a) * 1000 for a, b in phase.sink.batches.values()]) if phase.sink and phase.sink.batches else 0.0,
        "queries.build_s": phase.build_s,
        "spark.plan_s": sum(dur("queryPlanning")) / 1000.0,
        "collect.s": phase.sink.collect_s if phase.sink else 0.0,
        "collect.rows": phase.sink.rows if phase.sink else 0,
    }
    if trace is not None:
        root = trace.add(phase.name, phase.start, phase.end, None)
        first = len(trace.spans)
        for p in batches:
            sink = phase.sink.batches.get(p["batchId"]) if phase.sink else None
            tracing.add_batch_spans(trace, p, root, sink)
        members = range(first, len(trace.spans))
        jobs = [j for j in phase.jobs if j["start"] is not None]
        for j in jobs:
            parent = trace.innermost(j["start"], members)
            trace.add(
                "spark.job", j["start"], j["end"] or phase.end,
                root if parent is None else parent, jobId=j["id"],
            )
        stages = sparkstats.stage_totals(spark, [s for j in jobs for s in j["stages"]])
        out.update(
            {
                "spark.jobs": len(jobs),
                "spark.stages": stages["stages"],
                "spark.tasks": stages["tasks"],
                "spark.executor_run_s": stages["executor_run_s"],
                "spark.executor_cpu_s": stages["executor_cpu_s"],
                "spark.shuffle_read_bytes": stages["shuffle_read_bytes"],
                "spark.shuffle_write_bytes": stages["shuffle_write_bytes"],
                "spark.spill_bytes": stages["spill_bytes"],
                "spark.storage_bytes_held": sparkstats.storage_bytes_held(spark),
                "spark.driver_gap_s": tracing.driver_gap(
                    phase.start, phase.end, [(j["start"], j["end"] or phase.end) for j in jobs]
                ),
            }
        )
        trigger = sum(dur("triggerExecution")) / 1000.0
        batch_spans = [i for i, s in enumerate(trace.spans) if s.parent == root and s.name == "stream.batch"]
        out["batch_unattributed_s"] = sum(trace.self_time(i) for i in batch_spans)
        out["batch_self_sum_s"] = sum(sum(trace.self_times_by_name(i).values()) for i in batch_spans)
        out["batch_trigger_s"] = trigger
    return out


def run(spark, wl: dict, seed: int, seconds: float, trace_on: bool, trace: Trace,
        probe, work: str, drain_dir: str, n_drain: int) -> dict:
    """Warm-up drain, the open-loop phase, then the timed drain passes."""
    runner = StreamRunner(spark, wl, seed, work)
    runner.drain(drain_dir)  # warm-up
    probe("before")
    open_phase, gen = runner.open_loop(seconds, traced=trace_on)
    probe("during")
    # With tracing on, every second drain is traced, as batch passes are.
    drains = [
        runner.drain(drain_dir, traced=trace_on and i % 2 == 1)
        for i in range(wl["drain_passes"])
    ]
    probe("after")

    expected = runner.op.expected(spark, n_drain, seed)
    phases = [open_phase] + drains
    attempted = sum(_batch_count(p) for p in phases)
    failed = 0
    errors = []
    for p in phases:
        if p.error:
            failed += 1
            errors.append(f"{p.name}: {p.error}")
    for d in drains:
        if d.error is None and runner.op.final(d.sink.latest) != expected:
            failed += _batch_count(d)
            errors.append("drain: final output differs from the batch reference")
    lags = tracing.batch_lags_ms(open_phase.progress, gen.t0, gen.rate)
    backlog = tracing.batch_backlogs(open_phase.progress, gen.t0, gen.rate)
    for e in errors + [f"{p.name} stop: {p.stop_error}" for p in phases if p.stop_error]:
        print(f"perfbench: {e}", file=sys.stderr)
    return {
        "passes_s": [d.wall_s for d in drains if not d.traced],
        "traced_passes_s": [d.wall_s for d in drains if d.traced],
        "drain_events": n_drain,
        "samples_ms": lags,
        "backlog_rows_max": max(backlog) if backlog else 0,
        "generator_files": gen.files,
        "generator_max_late_ms": gen.max_late_s * 1000.0,
        "attempted": attempted,
        "failed": failed,
        "stop_exceptions": sum(1 for p in phases if p.stop_error),
        "stop_errors": [p.stop_error for p in phases if p.stop_error],
        "errors": errors,
        "open_layers": phase_layers(spark, open_phase, trace if open_phase.traced else None),
        "drain_layers": [phase_layers(spark, d, trace if d.traced else None) for d in drains],
    }
