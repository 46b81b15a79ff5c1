"""The benchmark's workloads: inputs, one job, correctness checks and the
per-layer trace of each.

A workload object lives for one run. ``stage`` writes its seeded inputs
before any session exists; ``prepare`` is the per-session part of
set-up; ``before_job`` clears the previous job's outputs (not timed);
``job`` is the timed unit of the closed loop; ``checks`` verifies the
last job's outputs; ``trace`` times the engine layers one by one.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import inputs
import probes

W_MOTIF = 32


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def frames_equal(a, b, keys: list[str]) -> bool:
    """Two Spark DataFrames hold the same rows, floats compared by bit
    pattern (NULL reads as the same NaN on both sides)."""
    pa_, pb = a.toPandas(), b.toPandas()
    if len(pa_) != len(pb) or sorted(pa_.columns) != sorted(pb.columns):
        return False
    pa_ = pa_.sort_values(keys, ignore_index=True)
    pb = pb.sort_values(keys, ignore_index=True)[list(pa_.columns)]
    for col in pa_.columns:
        x, y = pa_[col].to_numpy(), pb[col].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x = np.asarray(x, dtype=np.float64).view(np.int64)
            y = np.asarray(y, dtype=np.float64).view(np.int64)
        if not np.array_equal(x, y):
            return False
    return True


class Workload:
    name = ""
    points = 0

    def __init__(self, work: str):
        self.inp = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        # named counts of known defects the checks reproduced
        self.known_failures: dict[str, int] = {}

    def prepare(self, spark) -> None:
        pass

    def before_job(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def fresh_job(self, spark) -> None:
        self.before_job()
        self.job(spark)


class TierCascade(Workload):
    """transcripts parquet → series → raw/1m/1h/1d tiers as parquet
    (``jobs/rollup_job.py --mode batch --input``)."""

    name = "tier_cascade"
    N_CONV = 600

    def stage(self, seed: int) -> None:
        self.seed = seed
        self.src = os.path.join(self.inp, "transcripts")
        self.info = inputs.stage_transcripts(seed, self.N_CONV, self.src)
        self.points = self.info["points"]

    def _source(self, spark):
        from matrixprofile_spark.sources import ingest

        return ingest.read_transcripts_parquet(spark, self.src)

    def _series(self, spark):
        from matrixprofile_spark.operators import series

        return series.project_series(self._source(spark))

    def job(self, spark) -> None:
        from matrixprofile_spark.operators import rollup

        rollup.materialize_cascade(self._series(spark),
                                   os.path.join(self.out, "tiers"))

    def stored_bytes(self) -> int:
        return probes.dir_bytes(os.path.join(self.out, "tiers"))

    def checks(self, spark) -> dict[str, bool]:
        """Σcnt and Σvsum per metric are exact in every tier and equal
        the non-NULL raw points the generator made."""
        from pyspark.sql import functions as F

        got = {
            (r["tier"], r["metric"]): (int(r["c"]), float(r["v"]))
            for r in spark.read.parquet(os.path.join(self.out, "tiers"))
            .groupBy("tier", "metric")
            .agg(F.sum("cnt").alias("c"), F.sum("vsum").alias("v"))
            .collect()
        }
        want = self.info["sums"]
        return {
            f"cascade_sums_{t}": all(
                got.get((t, m)) == (c, float(v)) for m, (c, v) in want.items())
            for t in ("1m", "1h", "1d")
        }

    def trace(self, spark) -> dict[str, float]:
        """Self time per layer from cumulative prefixes forced to a noop
        sink: sources, + series, + rollup, + parquet sink."""
        from matrixprofile_spark.operators import rollup

        t_src = _timed(lambda: _noop(self._source(spark)))
        t_ser = _timed(lambda: _noop(self._series(spark)))
        t_rol = _timed(lambda: _noop(rollup.cascade_union(
            self._series(spark))))
        t_all = _timed(lambda: self.fresh_job(spark))
        tiers = spark.read.parquet(os.path.join(self.out, "tiers"))
        rows = {r["tier"]: r["count"]
                for r in tiers.groupBy("tier").count().collect()}
        return {
            "sources.self_s": t_src,
            "sources.rows": self._source(spark).count(),
            "series.self_s": t_ser - t_src,
            "series.points": self._series(spark).count(),
            "rollup.self_s": t_rol - t_ser,
            "rollup.rows_1m": rows.get("1m", 0),
            "rollup.rows_1h": rows.get("1h", 0),
            "rollup.rows_1d": rows.get("1d", 0),
            "sink.self_s": t_all - t_rol,
            "sink.bytes": self.stored_bytes(),
        }


class MotifScan(Workload):
    """MPX profiles at w=32 then motif/discord/regime discovery over
    packed NULL-free series; discoveries land as parquet."""

    name = "motif_scan"
    N_SERIES = 8
    N_POINTS = 16384
    N_SAMPLED = 3

    def stage(self, seed: int) -> None:
        self.seed = seed
        self.src = os.path.join(self.inp, "signals")
        self.points = inputs.stage_motif(seed, self.N_SERIES, self.N_POINTS,
                                         self.src)["points"]
        # one real transcript: its latency series starts with NULL
        self.transcript = os.path.join(self.inp, "one_transcript")
        inputs.stage_transcripts(seed, 1, self.transcript, n_files=1)

    def prepare(self, spark) -> None:
        from matrixprofile_spark.operators import profile

        t0 = time.perf_counter()
        self.packed = profile.pack_series(
            spark.read.parquet(self.src)).localCheckpoint(eager=True)
        self.pack_s = time.perf_counter() - t0

    def _profiles(self):
        from matrixprofile_spark.operators import profile

        return profile.mpx_profiles(self.packed, W_MOTIF, packed=True,
                                    n_groups=self.N_SERIES)

    def _discoveries(self):
        from matrixprofile_spark.operators import profile

        return profile.with_discoveries(self._profiles(), self.packed,
                                        packed=True, n_groups=self.N_SERIES)

    def job(self, spark) -> None:
        self._discoveries().write.parquet(os.path.join(self.out, "motifs"))

    def stored_bytes(self) -> int:
        return probes.dir_bytes(os.path.join(self.out, "motifs"))

    def _sample(self) -> list[str]:
        rng = np.random.default_rng(self.seed + 7)
        keys = sorted(rng.choice(self.N_SERIES, self.N_SAMPLED, replace=False))
        return [f"conv-{k:05d}" for k in keys]

    def checks(self, spark) -> dict[str, bool]:
        from pyspark.sql import functions as F

        from matrixprofile_spark.kernels import workflows

        found = spark.read.parquet(os.path.join(self.out, "motifs"))
        out = {"discoveries_per_series": found.where(
            F.size("motif_pairs") > 0).count() == self.N_SERIES}
        ids = self._sample()
        rows = {r["conv_id"]: r for r in self.packed.where(
            F.col("conv_id").isin(ids)).collect()}
        prof = {r["conv_id"]: r for r in self._profiles().where(
            F.col("conv_id").isin(ids)).select("conv_id", "mp", "pi").collect()}
        for cid in ids:
            ref = workflows.mpx_profile(
                np.asarray(rows[cid]["values"], dtype="d"), W_MOTIF)
            mp = np.asarray(prof[cid]["mp"], dtype="d")
            out[f"profile_bits_{cid}"] = (
                np.array_equal(mp.view(np.int64), ref["mp"].view(np.int64))
                and np.array_equal(np.asarray(prof[cid]["pi"]), ref["pi"]))
        self.known_failures = {
            "mpx_null_first_value": self._null_first_failure(spark)}
        return out

    def _null_first_failure(self, spark) -> int:
        """Known defect: a series whose first value is NULL poisons the
        MPX moving statistics (mp = sqrt(2w), pi = -1 everywhere) and
        discovery then raises. Returns 1 while the defect stands."""
        from pyspark.sql import functions as F

        from matrixprofile_spark.operators import profile, series
        from matrixprofile_spark.sources import ingest

        lat = series.project_series(ingest.read_transcripts_parquet(
            spark, self.transcript)).where(F.col("metric") == "latency")
        packed = profile.pack_series(lat)
        try:
            profile.with_discoveries(
                profile.mpx_profiles(packed, W_MOTIF, packed=True),
                packed, packed=True).collect()
        except Exception as exc:  # the worker's error surfaces via py4j
            if "ValueError" not in str(exc):
                raise
            return 1
        return 0

    def trace(self, spark) -> dict[str, float]:
        from pyspark.sql import functions as F

        from matrixprofile_spark.kernels import discover, workflows

        n = self.packed.count()
        profiled = self._profiles().count()
        t_mpx = _timed(lambda: _noop(self._profiles()))
        t_all = _timed(lambda: self.fresh_job(spark))
        kern, disc = [], []
        sampled = self.packed.where(F.col("conv_id").isin(self._sample()))
        for r in sampled.collect():
            values = np.asarray(r["values"], dtype="d")
            t0 = time.perf_counter()
            p = workflows.mpx_profile(values, W_MOTIF)
            kern.append(time.perf_counter() - t0)
            ez = int(np.ceil(W_MOTIF / 4.0))
            t0 = time.perf_counter()
            discover.top_k_discords(p["mp"], W_MOTIF, ez=ez)
            discover.top_k_motifs(values, p["mp"], p["pi"], W_MOTIF, ez=ez)
            discover.extract_regimes(discover.fluss(p["pi"], W_MOTIF), W_MOTIF)
            disc.append(time.perf_counter() - t0)
        cores = spark.sparkContext.defaultParallelism
        k_s = statistics.median(kern)
        return {
            "profile.pack_s": self.pack_s,
            "profile.mpx_s": t_mpx,
            "profile.discover_s": t_all - t_mpx,
            "profile.bridge_s": t_mpx - k_s * n / cores,
            "profile.series_in": n,
            "profile.profiled_ratio": profiled / n,
            "kernels.mpx_s_per_series": k_s,
            "kernels.discover_s_per_series": statistics.median(disc),
        }


class IngestRefresh(Workload):
    """Day-partitioned raw source → incremental 1m/1h/1d rollup →
    refresh of 1m under a late batch → segment encode of the late batch
    → retention drop → retention view."""

    name = "ingest_refresh"
    N_CONV = 600
    DAYS = 30
    LATE_SHARE = 0.10
    KEEP_DAYS = {"raw": 3, "rollup_1m": 5, "rollup_1h": 8}

    def stage(self, seed: int) -> None:
        self.raw = os.path.join(self.inp, "raw")
        self.late = os.path.join(self.inp, "late")
        info = inputs.stage_ingest(seed, self.N_CONV, self.DAYS,
                                   self.LATE_SHARE, self.raw, self.late)
        self.points = info["points"]
        self.late_points = info["late_points"]
        self.days = info["days"]
        self.now = (self.days[-1] + 1) * inputs.DAY_S

    def before_job(self) -> None:
        super().before_job()
        # hard links: retention deletes from the job's copy only
        shutil.copytree(self.raw, os.path.join(self.out, "raw"),
                        copy_function=os.link)

    def _keeps(self) -> dict[str, int]:
        d = {t: n * inputs.DAY_S for t, n in self.KEEP_DAYS.items()}
        return {"keep_raw_s": d["raw"], "keep_1m_s": d["rollup_1m"],
                "keep_1h_s": d["rollup_1h"]}

    def _committed(self) -> list[dict]:
        from matrixprofile_spark.streaming import incremental as inc

        return [e for e in inc.load_manifest(self.out)
                if e["stage"] in ("1m", "1h", "1d")]

    def _refresh(self, spark):
        from matrixprofile_spark.operators import rollup
        from matrixprofile_spark.streaming import incremental as inc

        base = inc.read_tier(spark, self.out, "1m")
        raw = spark.read.parquet(os.path.join(self.out, "raw")).drop("day")
        late = spark.read.parquet(self.late)
        rollup.refresh_rollup(base, raw, late, 60).write.parquet(
            os.path.join(self.out, "refreshed_1m"))

    def _encode(self, spark):
        from matrixprofile_spark.operators import segments

        segments.encode_segments(spark.read.parquet(self.late)).write.parquet(
            os.path.join(self.out, "segments"))

    def _retention(self):
        from matrixprofile_spark.streaming import incremental as inc

        self.dropped = inc.apply_retention(self.out, self.now, **self._keeps())

    def _retention_view(self, spark):
        from matrixprofile_spark.operators import rollup
        from matrixprofile_spark.streaming import incremental as inc

        tiers = {t: inc.read_tier(spark, self.out, t) for t in ("1m", "1h", "1d")}
        raw = spark.read.parquet(os.path.join(self.out, "raw")).drop("day")
        _noop(rollup.retention_union(tiers, raw, self.now, **self._keeps()))

    def job(self, spark) -> None:
        from matrixprofile_spark.streaming import incremental as inc

        inc.run_incremental_rollup(spark, self.out)
        self._refresh(spark)
        self._encode(spark)
        self._retention()
        self._retention_view(spark)

    def stored_bytes(self) -> int:
        """Tier bytes as committed (before retention), plus the refreshed
        tier and the segments."""
        return sum(e["bytes"] for e in self._committed()) + sum(probes.dir_bytes(os.path.join(self.out, d))
                           for d in ("refreshed_1m", "segments"))

    def _expected_drops(self) -> dict[str, list[int]]:
        """Day d of a table expires once (d + 1) days end before now
        minus its keep window."""
        return {t: [d for d in self.days
                    if (d + 1 + keep) * inputs.DAY_S < self.now]
                for t, keep in self.KEEP_DAYS.items()}

    def checks(self, spark) -> dict[str, bool]:
        from matrixprofile_spark.operators import rollup, segments

        on_time = spark.read.parquet(self.raw).drop("day")
        late = spark.read.parquet(self.late)
        decoded = segments.decode_segments(
            spark.read.parquet(os.path.join(self.out, "segments")))
        return {
            "days_committed": len(self._committed()) == 3 * len(self.days),
            "refresh_equals_scratch": frames_equal(
                spark.read.parquet(os.path.join(self.out, "refreshed_1m")),
                rollup.rollup_from_raw(on_time.unionByName(late), 60),
                ["conv_id", "metric", "bucket_epoch"]),
            "segments_roundtrip": frames_equal(
                decoded, late, ["conv_id", "metric", "idx"]),
            "retention_drops": self.dropped == self._expected_drops(),
        }

    def trace(self, spark) -> dict[str, float]:
        from matrixprofile_spark.operators import rollup
        from matrixprofile_spark.streaming import incremental as inc

        self.before_job()
        out = {f"incremental.stage_s_{s}": _timed(
            lambda s=s: inc.run_incremental_rollup(spark, self.out, (s,)))
            for s in ("1m", "1h", "1d")}
        out["rollup.refresh_s"] = _timed(lambda: self._refresh(spark))
        out["segments.encode_s"] = _timed(lambda: self._encode(spark))
        out["incremental.retention_s"] = _timed(self._retention)
        out["rollup.retention_view_s"] = _timed(
            lambda: self._retention_view(spark))
        out.update({
            "incremental.days_committed": len(self._committed()),
            "incremental.days_dropped": sum(map(len, self.dropped.values())),
            "rollup.invalidated_buckets": rollup.invalidated_keys(
                spark.read.parquet(self.late), 60).count(),
            "segments.bytes_per_point": probes.dir_bytes(
                os.path.join(self.out, "segments")) / self.late_points,
        })
        return out


WORKLOADS = {w.name: w for w in (TierCascade, MotifScan, IngestRefresh)}
