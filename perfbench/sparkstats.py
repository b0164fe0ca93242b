"""Readers for what Spark and the host report, taken from outside the engine.

- jobs and stages from the driver's status store (works with the UI off);
- Catalyst phase times from a DataFrame's ``QueryPlanningTracker``;
- bytes held by cached or checkpointed blocks;
- peak resident memory of the driver process tree, sampled in a thread;
- the fixed host-speed probes carried over from ``bench.py``.
"""

from __future__ import annotations

import os
import threading
import time


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _status_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def job_ids(spark) -> set[int]:
    """Ids of every job the status store still holds."""
    return {j.jobId() for j in _seq(_status_store(spark).jobsList(None))}


def jobs_since(spark, seen: set[int]) -> list[dict]:
    """Jobs not in ``seen``: id, submission/completion (epoch s), stages."""
    out = []
    for j in _seq(_status_store(spark).jobsList(None)):
        if j.jobId() in seen:
            continue
        out.append(
            {
                "id": j.jobId(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stages": [int(s) for s in _seq(j.stageIds())],
            }
        )
    return out


def stage_totals(spark, stage_ids) -> dict[str, float]:
    """Summed task metrics over the given stages (every attempt).

    ``stageList`` is called in its five-argument form: py4j does not
    apply Scala default arguments, and the one-argument call fails.
    """
    wanted = set(stage_ids)
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    empty = gw.new_array(jvm.double, 0)
    nil = jvm.java.util.Collections.emptyList()
    tot = {
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    seen = set()
    for s in _seq(_status_store(spark).stageList(None, False, False, empty, nil)):
        sid = s.stageId()
        if sid not in wanted:
            continue
        if sid not in seen:
            seen.add(sid)
            tot["stages"] += 1
        tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        tot["executor_run_s"] += s.executorRunTime() / 1000.0
        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["shuffle_read_bytes"] += s.shuffleReadBytes()
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot


def storage_bytes_held(spark) -> int:
    """Memory plus disk bytes of every cached or checkpointed RDD block."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """``{phase: (start, end)}`` in epoch seconds for the final plan of
    ``df`` (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
    return out


def _tree_rss_kb(root_pid: int) -> int:
    """Resident set size, in KiB, of ``root_pid`` (the Python driver), the
    JVM it launched and every Python process below them (Spark's Python
    workers).

    Other descendants are left out on purpose: Hadoop's local file system
    runs shell commands from the JVM, and between fork and exec such a
    child reports the whole JVM's resident pages as its own.
    """
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue  # the process ended while we looked
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        procs[int(entry)] = (ppid, comm, pages * (os.sysconf("SC_PAGE_SIZE") // 1024))
    total, frontier = 0, [root_pid]
    seen = {root_pid}
    while frontier:
        p = frontier.pop()
        ppid, comm, kb = procs.get(p, (None, "", 0))
        if p == root_pid or comm.startswith("python") or (comm == "java" and ppid == root_pid):
            total += kb
        kids = [c for c, (pp, _, _) in procs.items() if pp == p and c not in seen]
        seen.update(kids)
        frontier.extend(kids)
    return total


class RssSampler:
    """Samples ``_tree_rss_kb`` of this process every ``interval`` seconds
    in a thread and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def calib_alu_s(spark) -> float:
    """``bench.py``'s fixed pure-JVM probe: sum over ``range(2e8)``."""
    t = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 + 1) AS s").collect()
    return time.perf_counter() - t


def calib_shuffle_s(spark) -> float:
    """``bench.py``'s fixed shuffle probe: 5M rows grouped to 100k keys."""
    t = time.perf_counter()
    (
        spark.range(0, 5_000_000, 1, 32)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .selectExpr("count(*) AS n", "sum(`sum(v)`) AS s")
        .collect()
    )
    return time.perf_counter() - t
