"""Batch workloads: passes over a list of declared queries.

Each query goes through the public contract, ``__spark_entry__.queries()``,
exactly as a user would call it: build the DataFrame, then collect it
with ``toPandas()``.  ``spark.catalog.clearCache()`` runs before every
query so each pass pays the full lineage.  The first ``warmup_passes``
passes are untimed (one is not enough: the JIT is still compiling through
the second); timed passes then run until the measuring time is used up.

With tracing on, timed passes alternate between untraced and traced so
one run gives both the per-layer record and the tracing overhead.  A
traced pass wraps ``ecostream.schema.load_table`` at every module that
bound it and records spans at the calls into each layer; Spark's own jobs
and Catalyst phases are read from the status store and the plan tracker
after the pass, so the engine runs unmodified.
"""

from __future__ import annotations

import contextlib
import functools
import random
import sys
import time

import sparkstats
import tracing
from tracing import Trace


@contextlib.contextmanager
def _wrapped_load_table(trace: Trace, current: list):
    """Replace ``load_table`` at every name it is bound to with a wrapper
    that records a ``schema.load_table`` span under ``current[-1]``."""
    from ecostream import schema

    original = schema.load_table

    @functools.wraps(original)
    def traced(*args, **kwargs):
        t = time.time()
        try:
            return original(*args, **kwargs)
        finally:
            trace.add("schema.load_table", t, time.time(), current[-1])

    bound = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("ecostream") and getattr(m, "load_table", None) is original
    ]
    for m in bound:
        m.load_table = traced
    try:
        yield
    finally:
        for m in bound:
            m.load_table = original


def _attach_spark_spans(trace: Trace, pass_idx: int, members: list[int],
                        jobs: list[dict], plans: list[tuple[int, dict]]) -> None:
    """Add ``spark.job`` and ``spark.plan`` spans under the innermost
    benchmark span that contains their start."""
    def parent(t):
        found = trace.innermost(t, members)
        return pass_idx if found is None else found

    for j in jobs:
        end = j["end"] if j["end"] is not None else trace.spans[pass_idx].end
        trace.add("spark.job", j["start"], end, parent(j["start"]), jobId=j["id"])
    for _, phases in plans:
        for phase, (a, b) in phases.items():
            trace.add("spark.plan", a, b, parent(a), phase=phase)


def _layer_record(spark, trace: Trace, pass_idx: int, jobs: list[dict]) -> dict:
    """Per-layer numbers of one traced pass."""
    p = trace.spans[pass_idx]
    sub = [i for i, s in enumerate(trace.spans) if _in_subtree(trace, i, pass_idx)]
    by = lambda name: [i for i in sub if trace.spans[i].name == name]  # noqa: E731
    loads, builds, collects = by("schema.load_table"), by("queries.build"), by("collect")
    job_spans = by("spark.job")

    def jobs_under(names):
        return sum(1 for j in job_spans if trace.spans[trace.spans[j].parent].name in names)

    stages = sparkstats.stage_totals(spark, [s for j in jobs for s in j["stages"]])
    build_s = sum(
        trace.spans[b].duration
        - tracing.covered(
            [(trace.spans[c].start, trace.spans[c].end) for c in loads if trace.spans[c].parent == b],
            trace.spans[b].start,
            trace.spans[b].end,
        )
        for b in builds
    )
    self_times = trace.self_times_by_name(pass_idx)
    return {
        "pass_s": p.duration,
        "schema.load_s": sum(trace.spans[i].duration for i in loads),
        "schema.load_calls": len(loads),
        "schema.load_jobs": jobs_under({"schema.load_table"}),
        "queries.build_s": build_s,
        "queries.build_jobs": jobs_under({"queries.build"}),
        "spark.plan_s": sum(trace.spans[i].duration for i in by("spark.plan")),
        "spark.jobs": len(job_spans),
        "spark.stages": stages["stages"],
        "spark.tasks": stages["tasks"],
        "spark.executor_run_s": stages["executor_run_s"],
        "spark.executor_cpu_s": stages["executor_cpu_s"],
        "spark.shuffle_read_bytes": stages["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": stages["shuffle_write_bytes"],
        "spark.spill_bytes": stages["spill_bytes"],
        "spark.storage_bytes_held": sparkstats.storage_bytes_held(spark),
        "spark.driver_gap_s": tracing.driver_gap(
            p.start, p.end, [(trace.spans[j].start, trace.spans[j].end) for j in job_spans]
        ),
        "collect.s": sum(trace.spans[i].duration for i in collects),
        "collect.rows": sum(trace.spans[i].attrs.get("rows", 0) for i in collects),
        "self_s": self_times,
        "unattributed_s": trace.self_time(pass_idx),
    }


def _in_subtree(trace: Trace, i: int, root: int) -> bool:
    while i is not None:
        if i == root:
            return True
        i = trace.spans[i].parent
    return False


class _Result:
    """What ``tests.parity.compare`` needs from a Spark DataFrame: the
    collected pandas frame, so checks reuse the timed pass's results."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _canonical(pdf) -> list[str]:
    return sorted(repr(tuple(row)) for row in pdf.astype(str).itertuples(index=False))


def run(spark, data_dir: str, wl: dict, seed: int, seconds: float, trace_on: bool,
        trace: Trace, probe) -> dict:
    """Warm-up passes, then timed passes for ``seconds``; checks afterwards."""
    import __spark_entry__ as contract

    queries = contract.queries()
    names = list(wl["queries"])
    order_rng = random.Random(seed)
    results: dict[str, list] = {q: [] for q in names}
    failed_runs: dict[str, int] = {}
    errors: list[str] = []

    def one_pass(record: bool, traced: bool):
        order = names[:]
        order_rng.shuffle(order)
        seen_jobs = sparkstats.job_ids(spark) if traced else None
        t_pass = time.time()
        pass_idx = trace.add("pass", t_pass, t_pass, None, traced=traced) if traced else None
        current: list = [pass_idx]
        members = [pass_idx] if traced else []
        plans = []
        lat = []
        wrap = _wrapped_load_table(trace, current) if traced else contextlib.nullcontext()
        with wrap:
            for q in order:
                spark.catalog.clearCache()
                t0 = time.time()
                try:
                    if traced:
                        qi = trace.add("query", t0, t0, pass_idx, query=q)
                        bi = trace.add("queries.build", t0, t0, qi)
                        current.append(bi)
                    df = queries[q](spark, data_dir)
                    t1 = time.time()
                    pdf = df.toPandas()
                    t2 = time.time()
                except Exception as exc:  # a failing query is counted, the pass goes on
                    if record:
                        failed_runs[q] = failed_runs.get(q, 0) + 1
                        errors.append(f"{q}: {type(exc).__name__}: {str(exc)[:300]}")
                    if traced:
                        current.pop()
                        trace.spans[qi].end = trace.spans[bi].end = time.time()
                        members += [qi, bi]
                    continue
                lat.append((t2 - t0) * 1000.0)
                if record:
                    results[q].append(pdf)
                if traced:
                    current.pop()
                    trace.spans[bi].end = t1
                    ci = trace.add("collect", t1, t2, qi, rows=len(pdf))
                    trace.spans[qi].end = t2
                    members += [qi, bi, ci]
                    plans.append((qi, sparkstats.catalyst_phases(df)))
        t_end = time.time()
        layers = None
        if traced:
            trace.spans[pass_idx].end = t_end
            members += [
                i for i, s in enumerate(trace.spans)
                if s.name == "schema.load_table" and _in_subtree(trace, i, pass_idx)
            ]
            jobs = sparkstats.jobs_since(spark, seen_jobs)
            jobs = [j for j in jobs if j["start"] is not None and t_pass <= j["start"] <= t_end]
            _attach_spark_spans(trace, pass_idx, members, jobs, plans)
            layers = _layer_record(spark, trace, pass_idx, jobs)
        return t_end - t_pass, lat, layers

    for _ in range(wl["warmup_passes"]):
        one_pass(record=False, traced=False)
    probe("before")
    passes, traced_passes, lat_all, layer_recs = [], [], [], []
    t_start = time.time()
    k = 0
    while k < wl["min_passes"] or time.time() - t_start < seconds:
        traced = trace_on and k % 2 == 1
        wall, lat, layers = one_pass(record=True, traced=traced)
        (traced_passes if traced else passes).append(wall)
        if layers:
            layer_recs.append(layers)
        if not traced:
            lat_all += lat
        if k == wl["min_passes"] // 2:
            probe("during")
        k += 1
    probe("after")

    attempted = sum(len(v) for v in results.values()) + sum(failed_runs.values())
    mismatched = _check(data_dir, results, contract.oracle_sql(), errors)
    failed = sum(failed_runs.values()) + sum(len(results[q]) for q in mismatched)
    return {
        "passes_s": passes,
        "traced_passes_s": traced_passes,
        "samples_ms": lat_all,
        "layers": layer_recs,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
    }


def _check(data_dir, results, oracles, errors) -> set[str]:
    """Oracle parity for each oracle-bearing query (on its last timed
    result) and identical results across passes for the rest."""
    from tests.parity import compare, duck_connection

    con = duck_connection(data_dir)
    bad = set()
    for q, pdfs in results.items():
        if not pdfs:
            continue
        if q in oracles:
            try:
                compare(_Result(pdfs[-1]), con, oracles[q], q)
            except AssertionError as exc:
                bad.add(q)
                errors.append(f"{q}: oracle mismatch: {str(exc)[:300]}")
        else:
            first = _canonical(pdfs[0])
            if any(_canonical(p) != first for p in pdfs[1:]):
                bad.add(q)
                errors.append(f"{q}: results differ across passes")
    con.close()
    return bad
