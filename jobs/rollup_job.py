"""spark-submit entry point for the rollup/retention pipeline.

The north_rule's deployment shape: `spark-submit --py-files
dist/matrixprofile_spark.zip jobs/rollup_job.py ...` on a multi-executor
cluster. This script is the driver program; the package ships in the
zip (build it with `python tools/make_pyfiles.py`).

Modes
-----
batch        transcripts → series → fused raw→1m→1h→1d cascade in ONE
             action (operators/rollup.materialize_cascade), metrics to
             <workdir>/metrics.json: rows and parquet bytes per tier,
             and bytes per non-NULL point
incremental  resumable day-partitioned rollup with a commit manifest
             (streaming/incremental): kill it at any point, re-submit,
             committed days are never recomputed — per-partition lineage
             + row-count metrics live in <workdir>/manifest.jsonl
streaming    continuously-running raw→1m via Structured Streaming
             (streaming/structured.stream_rollup_1m, availableNow drain)
refresh      continuous-aggregate maintenance under late data
             (operators/rollup.refresh_rollup): invalidated buckets
             recompute from raw, untouched buckets carry over
retention    drop fine-tier day partitions past their keep windows
             (raw/1m/1h; 1d kept), each drop recorded in the manifest
             as lineage; requires an explicit --now-epoch

Example (local smoke, same command shape as a cluster run):

    spark-submit --master local[8] \
      --py-files dist/matrixprofile_spark.zip \
      jobs/rollup_job.py --mode batch --synth-convs 200 \
      --workdir /tmp/rollup_out

On a real cluster replace the master/deploy-mode and size shuffle
partitions to the executor count:

    spark-submit --master yarn --deploy-mode cluster \
      --num-executors 1000 --executor-cores 4 \
      --conf spark.sql.shuffle.partitions=8192 \
      --py-files dist/matrixprofile_spark.zip \
      jobs/rollup_job.py --mode incremental \
      --input s3://.../transcripts --workdir /mnt/shared/rollups

`--input` may be any Spark-readable URI (s3://, hdfs://, ...) — it only
flows into spark.read. `--workdir` must be a path mounted on the DRIVER's
local filesystem (NFS/EFS on a cluster): the manifest and metrics files
are written with plain-`open` driver-side IO, not the Hadoop FileSystem
API, so an object-store workdir would fail at startup.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def _series_from_args(spark, args):
    from matrixprofile_spark.operators import series as S
    from matrixprofile_spark.sources.synth import synth_transcripts

    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = synth_transcripts(spark, args.synth_convs)
    return S.project_series(transcripts)


def run_batch(spark, args) -> dict:
    from pyspark.sql import functions as F

    from matrixprofile_spark.operators import rollup

    ser = _series_from_args(spark, args)
    path = os.path.join(args.workdir, "tiers")
    t0 = time.time()
    rollup.materialize_cascade(ser, path, files_per_tier=args.files_per_tier)
    # one action gives every tier's rows and Σcnt (the non-NULL points
    # each tier summarizes); the bytes are file sizes
    got = {r["tier"]: (r["rows"], r["points"]) for r in spark.read.schema(
        "tier string, cnt bigint").parquet(path).groupBy("tier").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("cnt").alias("points")).collect()}
    tier_bytes = {t: rollup.parquet_bytes(os.path.join(path, f"tier={t}"))
                  for t in rollup.TIERS_S}
    points = got.get("1m", (0, 0))[1]
    return {"mode": "batch", "wall_sec": round(time.time() - t0, 2),
            "tier_rows": {t: got.get(t, (0, 0))[0] for t in rollup.TIERS_S},
            "tier_bytes": tier_bytes,
            "bytes_per_point": (round(sum(tier_bytes.values()) / points, 3)
                                if points else None)}


def run_incremental(spark, args) -> dict:
    from matrixprofile_spark.streaming import incremental as INC

    ser = _series_from_args(spark, args)
    src = os.path.join(args.workdir, "raw")
    if not os.path.isdir(src):
        INC.write_series_source(ser, args.workdir)
    t0 = time.time()
    processed = INC.run_incremental_rollup(
        spark, args.workdir,
        max_days_per_stage=args.max_days_per_stage)
    return {"mode": "incremental", "wall_sec": round(time.time() - t0, 2),
            "processed_days": processed,
            "manifest_rows": len(INC.load_manifest(args.workdir))}


def run_refresh(spark, args) -> dict:
    """Continuous-aggregate maintenance: refresh the materialized 1m
    tier under a late batch (a deterministic slice of the input stands
    in for late arrivals when no real late feed exists), verifying the
    invalidate-and-recompute path end-to-end through parquet."""
    from pyspark.sql import functions as F

    from matrixprofile_spark.operators import rollup

    ser = _series_from_args(spark, args).localCheckpoint(eager=True)
    is_late = (F.abs(F.hash("conv_id", "idx")) % 10) == 0
    on_time, late = ser.where(~is_late), ser.where(is_late)
    base_path = os.path.join(args.workdir, "rollup_1m_base")
    rollup._write_table(rollup.rollup_from_raw(on_time, 60), base_path)
    base = spark.read.parquet(base_path)
    t0 = time.time()
    refreshed = rollup.refresh_rollup(base, on_time, late, 60)
    out_path = os.path.join(args.workdir, "rollup_1m")
    rollup._write_table(refreshed, out_path)
    wall = time.time() - t0
    n = rollup.parquet_rows(out_path)
    n_invalid = rollup.invalidated_keys(late, 60).count()
    return {"mode": "refresh", "wall_sec": round(wall, 2),
            "rollup_1m_rows": n, "invalidated_buckets": n_invalid}


def run_retention(spark, args) -> dict:
    """Retention maintenance: drop fine-tier day partitions older than
    their keep window (raw < 1m < 1h — the 1d tier is kept forever
    here). Drops are appended to the manifest as lineage, so a reader
    can distinguish 'expired by policy' from 'never committed'."""
    from matrixprofile_spark.streaming import incremental as INC

    t0 = time.time()
    dropped = INC.apply_retention(
        args.workdir, args.now_epoch,
        keep_raw_s=args.keep_raw_s, keep_1m_s=args.keep_1m_s,
        keep_1h_s=args.keep_1h_s)
    return {"mode": "retention", "wall_sec": round(time.time() - t0, 2),
            "dropped_days": dropped,
            "manifest_rows": len(INC.load_manifest(args.workdir))}


def run_streaming(spark, args) -> dict:
    from matrixprofile_spark.streaming.structured import stream_rollup_1m

    src = os.path.join(args.workdir, "stream_src")
    if not os.path.isdir(src):
        _series_from_args(spark, args).write.mode("overwrite").parquet(src)
    t0 = time.time()
    out = stream_rollup_1m(spark, src)
    n = out.count()
    return {"mode": "streaming", "wall_sec": round(time.time() - t0, 2),
            "rollup_1m_rows": n}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--mode",
                   choices=["batch", "incremental", "streaming", "refresh",
                            "retention"],
                   default="batch")
    p.add_argument("--input", help="transcripts parquet dir "
                   "(conv_id, turn_idx, role, text, tool, ts_epoch)")
    p.add_argument("--synth-convs", type=int, default=200,
                   help="synthesize N conversations when --input is absent")
    p.add_argument("--workdir", required=True)
    p.add_argument("--files-per-tier", type=int, default=None)
    p.add_argument("--max-days-per-stage", type=int, default=None,
                   help="incremental: stop after N days per stage "
                   "(kill/resume simulation)")
    p.add_argument("--now-epoch", type=int, default=None,
                   help="retention: 'now' in epoch seconds (explicit, "
                   "so runs are reproducible)")
    p.add_argument("--keep-raw-s", type=int, default=86_400)
    p.add_argument("--keep-1m-s", type=int, default=3 * 86_400)
    p.add_argument("--keep-1h-s", type=int, default=6 * 86_400)
    args = p.parse_args()

    from matrixprofile_spark.session import get_submit_spark

    spark = get_submit_spark(f"rollup_job_{args.mode}")
    os.makedirs(args.workdir, exist_ok=True)
    if args.mode == "retention" and args.now_epoch is None:
        p.error("--mode retention requires --now-epoch")
    result = {"batch": run_batch, "incremental": run_incremental,
              "refresh": run_refresh, "retention": run_retention,
              "streaming": run_streaming}[args.mode](spark, args)
    with open(os.path.join(args.workdir, "metrics.json"), "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
