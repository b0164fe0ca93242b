#!/usr/bin/env python3
"""The ecostream benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It generates the workload's inputs from
``--seed``, sets up the engine several times, warms up, measures for
``--seconds``, then checks the outputs.  It prints one report line (every
metric of the workload with its unit, the correctness verdict, host
probes and configuration) and, as the last line of standard output, the
result: with ``--trace 0`` the end-to-end metrics named in
``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics.  A traced
run also writes its spans to ``.perfbench_work/traces/<run id>.json``.

Workloads, query lists, rates and the layer map are in ``spec.json``.
Everything the run writes stays under ``.perfbench_work/`` in the
repository root; all but the trace files is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import site
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402

SETUPS = 3
# Batch passes and stream batches whose self time (time not covered by
# any child span) exceeds this share of their wall time fail the
# accounting check in the report.
ACCOUNTING_TOLERANCE = 0.05


def unit_of(name: str, spec: dict) -> str:
    table = spec["end_to_end"] if name in spec["end_to_end"] else spec["per_layer"]
    return table[name]["unit"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 and minimal sizes, for the self-test")
    return ap.parse_args(argv)


def contain_writes(work: Path, spec: dict) -> None:
    """Point every place the engine, Spark and Python write to at ``work``.

    ``ecostream.session.get_spark`` installs ``.pth`` shims into the first
    writable site-packages directory; redirecting ``site`` keeps them, like
    Spark's local dirs and temp files, inside the checkout.
    """
    tmp = work / "tmp"
    for d in (tmp, work / "site", work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    site.getsitepackages = lambda: [str(work / "site")]
    site.ENABLE_USER_SITE = False
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["ECOSTREAM_DRIVER_MEM"] = spec["driver_memory"]
    # A fixed, pre-touched heap is resident from the start, so peak_rss_mb
    # follows off-heap and Python memory rather than when G1 grows the heap.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{spec['driver_memory']} -XX:+AlwaysPreTouch"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(work)  # spark-warehouse and other cwd-relative files
    sys.path.insert(0, str(ROOT))


def shutdown_spark() -> None:
    """Stop the SparkContext and the JVM gateway process this run started,
    and wait for the JVM to exit; also on the way out of a failed run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


def run(args, spec: dict, work: Path) -> tuple[dict, dict]:
    import datagen
    import sparkstats
    import stream as streaming
    import batch as batching

    wl = dict(spec["workloads"][args.workload])
    kind = wl["kind"]
    sf = 0.001 if args.smoke else spec["batch_sf"]
    if args.smoke:
        wl["min_passes"] = 1
        wl["warmup_passes"] = 1
        wl["drain_passes"] = 2
        wl["drain_batches"] = 2
        wl["drain_rows_per_batch"] = min(wl.get("drain_rows_per_batch", 0), 5000)
        wl["open_loop_rate"] = min(wl.get("open_loop_rate", 0), 5000)

    # Inputs, from the seed alone.
    if kind == "batch":
        data_dir = datagen.write_tables(str(work / "data"), sf, args.seed)
    else:
        drain_dir = str(work / "drain")
        n_drain = streaming.write_drain_files(drain_dir, wl["drain_batches"], wl["drain_rows_per_batch"])
        tiny_dir = str(work / "tiny")
        streaming.write_drain_files(tiny_dir, 1, 1000)

    # Set-ups: get_spark (a new SparkContext), registry import, first operation.
    setup_s, get_spark_s = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        from ecostream.session import get_spark

        spark = get_spark(app_name="perfbench")
        get_spark_s.append(time.perf_counter() - t)
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as contract

        queries = contract.queries()
        if kind == "batch":
            queries[wl["queries"][0]](spark, data_dir).toPandas()
        else:
            streaming.StreamRunner(spark, wl, args.seed, str(work)).drain(tiny_dir)
        setup_s.append(time.perf_counter() - t)

    probes = {"alu_s": {}, "shuffle_s": {}}
    trace = tracing.Trace(f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}")
    sampler = sparkstats.RssSampler()

    def probe(stage: str) -> None:
        if stage == "after":  # memory is sampled until measuring ends
            sampler.stop()
        probes["alu_s"][stage] = sparkstats.calib_alu_s(spark)
        probes["shuffle_s"][stage] = sparkstats.calib_shuffle_s(spark)

    sampler.start()
    if kind == "batch":
        res = batching.run(spark, data_dir, wl, args.seed, args.seconds, bool(args.trace), trace, probe)
    else:
        res = streaming.run(
            spark, wl, args.seed, args.seconds, bool(args.trace), trace, probe,
            str(work), drain_dir, n_drain,
        )
    passes, samples = res["passes_s"], res["samples_ms"]

    e2e = {
        "setup_s": tracing.median(setup_s),
        "pass_s": tracing.median(passes),
        "lag_p50_ms": tracing.median(samples) if samples else None,
        "peak_rss_mb": sampler.peak_mb,
        "failed_frac": res["failed"] / max(1, res["attempted"]),
    }
    if kind == "stream":
        e2e["events_per_s"] = res["drain_events"] / e2e["pass_s"]
    tail = tracing.tail_percentile(samples) if samples else None
    e2e["lag_tail_ms"] = tail[1] if tail else None

    layers = _layers(kind, res, get_spark_s)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k, spec)} for k, v in e2e.items()},
        "lag": {"n": len(samples), "tail_percentile": tail[0] if tail else None},
        "samples": {"setup_s": setup_s, "pass_s": passes},
        "host": {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark": _spark_version(),
            "python": platform.python_version(),
            "driver_memory": spec["driver_memory"],
            "calib_alu_s": probes["alu_s"],
            "calib_shuffle_s": probes["shuffle_s"],
        },
        "config": {k: v for k, v in wl.items() if k not in ("why",)} | (
            {"sf": sf} if kind == "batch" else {}
        ),
        "errors": res["errors"],
    }
    if kind == "stream":
        report["stream"] = {
            k: res[k]
            for k in ("backlog_rows_max", "generator_files", "generator_max_late_ms",
                      "stop_exceptions", "stop_errors", "drain_events")
        }
    if args.trace:
        report["per_layer"] = {
            k: {"value": layers.get(k, 0), "unit": unit_of(k, spec)} for k in spec["per_layer"]
        }
        report["self_time_s"] = _self_times(trace)
        report["accounting"] = _accounting(kind, res)
        if res["traced_passes_s"]:
            report["tracing_overhead_s"] = (
                tracing.median(res["traced_passes_s"]) - tracing.median(passes)
            )
        out = ROOT / ".perfbench_work" / "traces" / f"{trace.run_id}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(trace.to_json()))
        report["trace_file"] = str(out)
    return report, layers


def _layers(kind: str, res: dict, get_spark_s: list[float]) -> dict:
    """Per-layer metrics of the run: medians over traced passes (batch)
    or over the drain passes plus the open loop's backlog (stream)."""
    if kind == "batch":
        recs = res["layers"]
    else:
        recs = res["drain_layers"]
    keys = {k for r in recs for k, v in r.items() if not isinstance(v, dict)}
    out = {"session.get_spark_s": tracing.median(get_spark_s[1:] or get_spark_s)}
    for k in keys:
        out[k] = tracing.median([r[k] for r in recs if k in r])
    if kind == "stream":
        out["stream.batches"] = res["open_layers"]["stream.batches"]
        out["stream.backlog_rows"] = res["backlog_rows_max"]
    return out


def _self_times(trace) -> dict:
    """Self time per span name, median over the traced passes or phases."""
    per_root: dict[str, list[float]] = {}
    roots = [i for i, s in enumerate(trace.spans) if s.parent is None]
    for r in roots:
        for name, v in trace.self_times_by_name(r).items():
            per_root.setdefault(f"{trace.spans[r].name}/{name}", []).append(v)
    return {k: tracing.median(v) for k, v in sorted(per_root.items())}


def _accounting(kind: str, res: dict) -> dict:
    if kind == "batch":
        fracs = [r["unattributed_s"] / r["pass_s"] for r in res["layers"]]
        covered = [sum(r["self_s"].values()) / r["pass_s"] for r in res["layers"]]
        what = "share of each traced pass's wall time outside every query span"
    else:
        recs = [r for r in res["drain_layers"] + [res["open_layers"]] if r.get("batch_trigger_s")]
        fracs = [r["batch_unattributed_s"] / r["batch_trigger_s"] for r in recs]
        covered = [r["batch_self_sum_s"] / r["batch_trigger_s"] for r in recs]
        what = "share of micro-batch triggerExecution not covered by its durationMs phases"
    return {
        "unattributed_frac": fracs,
        "self_time_sum_over_wall": covered,
        "tolerance": ACCOUNTING_TOLERANCE,
        "within_tolerance": all(f <= ACCOUNTING_TOLERANCE for f in fracs),
        "what": what,
    }


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


def result_line(report: dict, layers: dict, bench: dict, trace: int) -> dict:
    """The last stdout line: exactly the metrics BENCHMARK.json names."""
    if trace:
        metrics = {
            m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": report["metrics"][m["name"]]["value"], "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        raise RuntimeError(f"no value for {missing}")
    return {
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((HERE / "spec.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    cwd = os.getcwd()
    try:
        contain_writes(work, spec)
        report, layers = run(args, spec, work)
        line = result_line(report, layers, bench, args.trace)
    finally:
        shutdown_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=float))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
