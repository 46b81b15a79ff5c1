"""Measurement helpers: peak RSS from /proc, Spark stage counters, JVM
collector time, a host-speed gauge and file sizes. They observe the
engine from outside; no engine code is touched."""

from __future__ import annotations

import os
import threading
import time


def dir_bytes(path: str) -> int:
    """Bytes in the parquet data files under ``path`` (Hadoop's .crc
    side files and _SUCCESS markers are not data)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def host_probe_s() -> float:
    """Best of five timings of a fixed single-core MPX kernel call: a
    gauge of how fast this host runs right now, printed with each run
    so runs from different noise windows are not compared blindly."""
    import numpy as np

    from matrixprofile_spark.kernels import workflows

    ts = np.cumsum(np.random.default_rng(0).standard_normal(4096))
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        workflows.mpx_profile(ts, 32)
        best = min(best, time.perf_counter() - t0)
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the JVM ``root`` and the Python workers below it.

    Other descendants are skipped: a child the JVM is still spawning
    shares the JVM's memory map for a moment and would read as a second
    copy of it."""
    kids = _children()
    todo, total = [root], _rss_kb(root)
    while todo:
        for pid in kids.get(todo.pop(), ()):
            todo.append(pid)
            if _comm(pid).startswith("python"):
                total += _rss_kb(pid)
    return total / 1024.0


class RssSampler:
    """Samples the process tree's summed RSS on a thread; ``peak_mb``
    is the largest sample seen between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, period_s: float = 0.1):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._halt.wait(self.period_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_gc_s(spark) -> float:
    """Seconds the JVM's collectors have run since it started (JMX)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


_DONE = ("COMPLETE", "SKIPPED", "FAILED")


def _stage_rows(sc, stage_ids, timeout_s: float = 10.0) -> list:
    """StageData of each stage, once the listener bus has delivered its
    completion (the status store is updated asynchronously)."""
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + timeout_s
    while True:
        rows, pending = [], False
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage not (yet) in the store
                pending = True
                continue
            if str(st.status()) not in _DONE:
                pending = True
            rows.append(st)
        if not pending or time.time() > deadline:
            return rows
        time.sleep(0.05)


def stage_counters(spark, group: str, wall_s: float) -> dict[str, float]:
    """Spark's own per-stage counters, summed over every job the group
    ran (AQE submits each query stage as its own job)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids = sorted({sid for jid in tracker.getJobIdsForGroup(group)
                        for sid in (tracker.getJobInfo(jid).stageIds
                                    if tracker.getJobInfo(jid) else ())})
    tasks = run_ms = failed = 0
    rd = wr = spill = 0
    longest_s, longest_tasks = 0.0, 0
    for st in _stage_rows(sc, stage_ids):
        if str(st.status()) == "SKIPPED":
            continue
        tasks += st.numCompleteTasks()
        failed += st.numFailedTasks()
        run_ms += st.executorRunTime()
        rd += st.shuffleReadBytes()
        wr += st.shuffleWriteBytes()
        spill += st.diskBytesSpilled()
        start, end = st.firstTaskLaunchedTime(), st.completionTime()
        if start.isDefined() and end.isDefined():
            dur = (end.get().getTime() - start.get().getTime()) / 1000.0
            if dur > longest_s:
                longest_s, longest_tasks = dur, st.numCompleteTasks()
    cores = sc.defaultParallelism
    return {
        "spark.tasks": tasks,
        "spark.task_s": run_ms / 1000.0,
        "spark.core_util": run_ms / 1000.0 / (wall_s * cores),
        "spark.longest_stage_s": longest_s,
        "spark.longest_stage_tasks": longest_tasks,
        "spark.shuffle_read_mb": rd / 1e6,
        "spark.shuffle_write_mb": wr / 1e6,
        "spark.spill_mb": spill / 1e6,
        "spark.failed_tasks": failed,
    }
