#!/usr/bin/env python3
"""Closed-loop benchmark of the spark-tsmp engine on ``local[nproc]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tier_cascade --seed 1 --seconds 10 --trace 0

One run: pin the environment, build the native MPX kernel into a cache
the run owns, stage the seeded inputs to parquet, set up (session start
plus full-size warm-up jobs) three times and keep the median, run jobs
back to back for ``--seconds``, check the last job's outputs, and with
``--trace 1`` time each engine layer. Every metric is printed by name
with its unit; the last stdout line is the JSON result. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import probes
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_run")

# three set-ups, each a session start plus one full-size warm-up job:
# the first is cold (JVM, JIT, codegen, Python workers), the later two
# restart the session inside the warm JVM. A traced run reports only the
# cold one and sets up once, which keeps it inside the per-run time limit
N_SETUPS = 3
MIN_JOBS = 3
# the driver heap is fixed and pre-touched, so peak RSS does not swing
# with when the collector decides to grow the heap
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "points_per_s": "points/s",
    "stored_bytes_per_point": "B/point",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.cold_setup_s": "s",
    "kernels.native_build_s": "s",
    "sources.self_s": "s",
    "sources.rows": "count",
    "series.self_s": "s",
    "series.points": "count",
    "rollup.self_s": "s",
    "rollup.rows_1m": "count",
    "rollup.rows_1h": "count",
    "rollup.rows_1d": "count",
    "rollup.refresh_s": "s",
    "rollup.invalidated_buckets": "count",
    "rollup.retention_view_s": "s",
    "sink.self_s": "s",
    "sink.bytes": "B",
    "segments.encode_s": "s",
    "segments.bytes_per_point": "B/point",
    "profile.pack_s": "s",
    "profile.mpx_s": "s",
    "profile.discover_s": "s",
    "profile.bridge_s": "s",
    "profile.series_in": "count",
    "profile.profiled_ratio": "ratio",
    "profile.known_null_first_failures": "count",
    "kernels.mpx_s_per_series": "s",
    "kernels.discover_s_per_series": "s",
    "incremental.stage_s_1m": "s",
    "incremental.stage_s_1h": "s",
    "incremental.stage_s_1d": "s",
    "incremental.days_committed": "count",
    "incremental.retention_s": "s",
    "incremental.days_dropped": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.core_util": "ratio",
    "spark.longest_stage_s": "s",
    "spark.longest_stage_tasks": "count",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def pin_env(work: str) -> dict[str, str]:
    """Everything the engine, the JVM and the Python workers read from
    the environment, fixed and kept inside the run's own directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the native kernel's .so cache: fresh per run, so its build
        # never depends on what an earlier run left behind
        "XDG_CACHE_HOME": os.path.join(work, "cache"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    return env


def spark_conf(work: str) -> dict[str, str]:
    return {
        # twice the default JIT compiler threads (3 on four cores): the
        # compile backlog the cold job leaves then clears during set-up
        # instead of stretching over the first timed jobs
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:CICompilerCount=6",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def clear_stale_runs() -> None:
    """Remove work directories of earlier runs whose process is gone."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        if name.isdigit() and not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def set_up(wl, work: str, n: int):
    """Session start, per-session preparation and one full-size warm-up
    job, ``n`` times. Returns the last session, each set-up's seconds
    (clearing old outputs excluded) and the cold session start's."""
    from matrixprofile_spark.session import get_spark

    spark, setups, start_s = None, [], 0.0
    for _ in range(n):
        if spark is not None:
            spark.stop()
        wl.before_job()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=spark_conf(work))
        start_s = start_s or time.perf_counter() - t0
        wl.prepare(spark)
        wl.job(spark)
        setups.append(time.perf_counter() - t0)
    return spark, setups, start_s


def closed_loop(wl, spark, seconds: float):
    """One client, next job only after the previous one finished.
    Returns each job's wall seconds, the failed job count and the peak
    RSS seen while the jobs ran."""
    sampler = probes.RssSampler(probes.jvm_pid(spark))
    sampler.start()
    walls, failed = [], 0
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_JOBS or time.perf_counter() < deadline:
        wl.before_job()
        t0 = time.perf_counter()
        try:
            wl.job(spark)
        except Exception as exc:  # a failed job is counted, not fatal
            print(f"job_failed {type(exc).__name__}: {exc}", file=sys.stderr)
            failed += 1
        walls.append(time.perf_counter() - t0)
    sampler.stop()
    return walls, failed, sampler.peak_mb


def trace_layers(wl, spark, work: str, seed: int):
    """Every engine layer, each timed on the pipeline that calls it.
    The pipelines of the other workloads are staged from the same seed
    into their own directories and run once untimed to warm them; their
    checks and known failures join the run's. Returns the layer metrics
    and the side pipelines' checks."""
    layers, checks = {}, {}
    for name, cls in workloads.WORKLOADS.items():
        side = wl
        if name != wl.name:
            side = cls(os.path.join(work, name))
            side.stage(seed)
            side.prepare(spark)
            side.fresh_job(spark)
        layers.update(side.trace(spark))
        if side is not wl:
            checks.update({f"{name}.{k}": ok
                           for k, ok in side.checks(spark).items()})
            wl.known_failures.update(side.known_failures)
    return layers, checks


def traced_job(wl, spark, job_s: float) -> dict[str, float]:
    """One more job under a job group, then Spark's stage counters for
    it; the tracing overhead is its wall, counter reads included, minus
    the untraced median."""
    group = "perfbench.traced_job"
    spark.sparkContext.setJobGroup(group, "traced job")
    wl.before_job()
    t0 = time.perf_counter()
    wl.job(spark)
    out = probes.stage_counters(spark, group, time.perf_counter() - t0)
    out["trace.overhead_s"] = time.perf_counter() - t0 - job_s
    spark.sparkContext.setJobGroup("", "")
    return out


def run(args, work: str) -> dict:
    # (phase, end time): where the run's wall time goes, printed at the
    # end so the run budget can be checked from any run's output
    marks = [("start", time.perf_counter())]
    for k, v in sorted(pin_env(work).items()):
        print(f"env {k}={v}")
    import pyspark.sql  # noqa: F401  (imported before the timed build)

    t0 = time.perf_counter()
    from matrixprofile_spark.kernels import _native
    native_build_s = time.perf_counter() - t0
    print(f"env native_kernel={'compiled' if _native.available() else 'numpy'}")
    print(f"env host_probe_s={probes.host_probe_s()}")

    marks.append(("env", time.perf_counter()))
    wl = workloads.WORKLOADS[args.workload](work)
    wl.stage(args.seed)
    marks.append(("stage", time.perf_counter()))
    spark, setups, start_s = set_up(wl, work, 1 if args.trace else N_SETUPS)
    marks.append(("set_up", time.perf_counter()))
    walls, failed_jobs, peak_mb = closed_loop(wl, spark, args.seconds)
    marks.append(("loop", time.perf_counter()))
    job_s = statistics.median(walls)
    metrics = {
        "setup_s": statistics.median(setups),
        "job_s": job_s,
        "points_per_s": wl.points / job_s,
        "stored_bytes_per_point": wl.stored_bytes() / wl.points,
        "peak_rss_mb": peak_mb,
    }
    units, side_checks = END_TO_END_UNITS, {}
    if args.trace:
        units = PER_LAYER_UNITS
        layers, side_checks = trace_layers(wl, spark, work, args.seed)
        metrics = {
            "session.start_s": start_s,
            "session.cold_setup_s": setups[0],
            "kernels.native_build_s": native_build_s,
            # collector time since the JVM started, set-ups included:
            # one warm job on a pre-touched heap often collects nothing
            "spark.gc_s": probes.jvm_gc_s(spark),
            **layers,
            **traced_job(wl, spark, job_s),
        }
        marks.append(("trace", time.perf_counter()))

    try:
        checks = wl.checks(spark)
    except Exception:  # a check that cannot run is a failed check
        traceback.print_exc()
        checks = {"checks_ran": False}
    checks.update(side_checks)
    marks.append(("checks", time.perf_counter()))
    stop_spark(spark)
    marks.append(("stop", time.perf_counter()))
    if args.trace:
        metrics["profile.known_null_first_failures"] = sum(
            wl.known_failures.values())
        metrics = {k: metrics[k] for k in units}  # every layer, in order
    attempted = len(walls) + len(checks)
    failed = failed_jobs + sum(not ok for ok in checks.values())

    for name, ok in checks.items():
        print(f"check {name} {'ok' if ok else 'FAILED'}")
    for name, n in wl.known_failures.items():
        print(f"known_failure {name} {n}")
    print(f"jobs {len(walls)} walls_s {[round(w, 3) for w in walls]}")
    print(f"setups_s {[round(s, 3) for s in setups]}")
    print("phases_s", {name: round(t - t_prev, 3) for (_, t_prev), (name, t)
                       in zip(marks, marks[1:])})
    print(f"failed_op_share {failed / attempted} ({failed}/{attempted})")
    for k, v in metrics.items():
        print(f"metric {k} {v} {units[k]}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "matrixprofile_spark")):
        print("perfbench: the engine package matrixprofile_spark/ is not "
              f"in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    clear_stale_runs()
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
