"""Tier-3 invariants: compression round-trips (FIXTURES.md F5) and
checkpoint/resume (F6a) + retention."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from matrixprofile_spark.kernels.compression import (
    decode_timestamps_dod,
    decode_values_gorilla,
    encode_timestamps_dod,
    encode_values_gorilla,
)
from matrixprofile_spark.operators import rollup, segments
from matrixprofile_spark.operators import series as S
from matrixprofile_spark.sources.synth import synth_transcripts
from matrixprofile_spark.streaming import incremental as INC


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, 10).cache()


def test_codec_adversarial_roundtrip():
    rng = np.random.RandomState(0)
    cases = [
        np.array([0.0, -0.0, 1.5, 1.5, np.inf, -np.inf, np.nan, 5e-324,
                  1e308, -1e-310]),
        np.full(5000, 2.5),
        rng.uniform(-1e9, 1e9, 4096),
        np.where(rng.rand(1000) < 0.5, 1.0, -1.0),
    ]
    for c in cases:
        dec = decode_values_gorilla(encode_values_gorilla(c))
        np.testing.assert_array_equal(c.view(np.uint64), dec.view(np.uint64))
    ts_cases = [
        1_600_000_000 + 60 * np.arange(4096, dtype=np.int64),
        np.cumsum(rng.choice([1, 2, 5, 30, 300], 2048)).astype(np.int64),
        np.array([0, 10**15, 3, -5, 10**18], dtype=np.int64),
    ]
    for c in ts_cases:
        np.testing.assert_array_equal(
            c, decode_timestamps_dod(encode_timestamps_dod(c))
        )


def test_segment_chunk_key_bounds_groups_with_idx_holes(spark):
    """Chunk ids come from the GROUP KEY (idx div chunk_points), so (a)
    no encode group ever exceeds chunk_points rows — per-group memory is
    bounded for arbitrarily long series — and (b) a series with holes in
    idx (skipped turns) still round-trips its full (ts, value) sequence
    in order."""
    idx = np.setdiff1d(np.arange(40, dtype=np.int64),
                       np.array([3, 17, 18, 31]))  # holes
    pdf = pd.DataFrame({
        "conv_id": "c0", "metric": "m", "idx": idx,
        "ts_epoch": 1_600_000_000 + idx * 60,
        "value": idx.astype(float),
    })
    ser = spark.createDataFrame(pdf)
    seg = segments.encode_segments(ser, chunk_points=16)
    rows = seg.orderBy("chunk_idx").collect()
    # idx-div buckets: [0,16) has 15 rows, [16,32) has 13, [32,40) has 8
    assert [(r["chunk_idx"], r["n"]) for r in rows] == [(0, 15), (1, 13), (2, 8)]
    assert max(r["n"] for r in rows) <= 16
    back = (
        segments.decode_segments(seg)
        .orderBy("ts_epoch").toPandas()
    )
    np.testing.assert_array_equal(back["ts_epoch"].values, pdf["ts_epoch"].values)
    np.testing.assert_array_equal(
        back["value"].to_numpy(dtype=float), pdf["value"].values
    )
    # since round 5 the point indices travel as their own dod stream, so
    # decode returns the ORIGINAL idx — holes included — not a dense
    # renumbering
    np.testing.assert_array_equal(back["idx"].values, idx)


def test_series_segment_roundtrip(spark, transcripts):
    ser = S.project_series(transcripts)
    seg = segments.encode_segments(ser, chunk_points=256)
    back = segments.decode_segments(seg)
    a = (
        ser.select("conv_id", "metric", "ts_epoch", "value")
        .orderBy("conv_id", "metric", "ts_epoch")
        .toPandas()
    )
    b = (
        back.select("conv_id", "metric", "ts_epoch", "value")
        .orderBy("conv_id", "metric", "ts_epoch")
        .toPandas()
    )
    assert len(a) == len(b)
    np.testing.assert_array_equal(a["ts_epoch"].values, b["ts_epoch"].values)
    av = a["value"].to_numpy(dtype=float)
    bv = b["value"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(av), np.isnan(bv))
    np.testing.assert_array_equal(av[~np.isnan(av)], bv[~np.isnan(bv)])
    # compression actually compresses: segment bytes < raw 16B/point
    sizes = seg.selectExpr(
        "sum(length(ts_bytes) + length(val_bytes)) AS b", "sum(n) AS n"
    ).collect()[0]
    assert sizes["b"] < 16 * sizes["n"]


def test_transcript_text_roundtrip_per_turn_equality(spark, transcripts):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after the compressed round-trip."""
    seg = segments.encode_transcript_segments(transcripts, chunk_turns=100)
    back = segments.decode_transcript_segments(seg)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_epoch"]
    a = transcripts.select(*cols).orderBy("conv_id", "turn_idx").toPandas()
    b = back.select(*cols).orderBy("conv_id", "turn_idx").toPandas()
    b["turn_idx"] = b["turn_idx"].astype(a["turn_idx"].dtype)
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_incremental_resume_no_recompute(spark, transcripts, tmp_path):
    ser = S.project_series(transcripts)
    wd_inc = str(tmp_path / "inc")
    wd_full = str(tmp_path / "full")
    INC.write_series_source(ser, wd_inc)
    INC.write_series_source(ser, wd_full)

    # killed run: only 2 day-partitions per stage get committed
    first = INC.run_incremental_rollup(spark, wd_inc, max_days_per_stage=2)
    assert all(len(v) <= 2 for v in first.values())
    # resumed run: finishes the rest, never reprocesses committed days
    second = INC.run_incremental_rollup(spark, wd_inc)
    for stage in ("1m", "1h", "1d"):
        assert not set(first[stage]) & set(second[stage])

    clean = INC.run_incremental_rollup(spark, wd_full)
    for stage in ("1m", "1h", "1d"):
        a = (
            INC.read_tier(spark, wd_inc, stage)
            .orderBy("conv_id", "metric", "bucket_epoch")
            .toPandas()
        )
        b = (
            INC.read_tier(spark, wd_full, stage)
            .orderBy("conv_id", "metric", "bucket_epoch")
            .toPandas()
        )
        pd.testing.assert_frame_equal(a, b)

    # manifest carries lineage metrics for every committed partition
    man = INC.manifest_df(spark, wd_inc).toPandas()
    assert (man["rows"] > 0).all() and (man["bytes"] > 0).all()
    total_days = len(first["1m"]) + len(second["1m"])
    assert len(man[man.stage == "1m"]) == total_days

    # third run is a no-op
    third = INC.run_incremental_rollup(spark, wd_inc)
    assert all(len(v) == 0 for v in third.values())


def test_incremental_matches_batch_cascade(spark, transcripts, tmp_path):
    ser = S.project_series(transcripts)
    wd = str(tmp_path / "inc2")
    INC.write_series_source(ser, wd)
    INC.run_incremental_rollup(spark, wd)
    got = (
        INC.read_tier(spark, wd, "1d")
        .orderBy("conv_id", "metric", "bucket_epoch")
        .toPandas()
    )
    want = (
        rollup.build_cascade(ser)["1d"]
        .orderBy("conv_id", "metric", "bucket_epoch")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def test_raw_source_stored_layout(spark, transcripts, tmp_path,
                                  assert_stored_layout, assert_bit_equal):
    """The raw day table is zstd, delta-codes ts_epoch and idx, orders
    each file by (conv_id, metric, ts_epoch, idx), and reads back the
    rows of a default-options write."""
    from pyspark.sql import functions as F

    ser = S.project_series(transcripts)
    path = INC.write_series_source(ser, str(tmp_path / "wd"))
    assert_stored_layout(path, ("ts_epoch", "idx"))
    ser.withColumn("day", F.floor(F.col("ts_epoch") / INC.DAY_S)
                   .cast("long")).write.partitionBy("day").parquet(
        str(tmp_path / "default"))
    assert_bit_equal(spark.read.parquet(path),
                     spark.read.parquet(str(tmp_path / "default")),
                     ["conv_id", "metric", "idx"])


def test_incremental_tiers_stored_layout(spark, transcripts, tmp_path,
                                         assert_stored_layout,
                                         assert_bit_equal):
    """Every committed tier day is zstd with a delta-coded,
    per-file-sorted bucket_epoch, and holds the rows a default-options
    write of the stage's rollup holds; each manifest `bytes` is the
    size of its day's parquet files alone (no .crc side files), and
    each manifest `rows` is the row count Spark reads from the day."""
    ser = S.project_series(transcripts)
    wd = str(tmp_path / "wd")
    INC.write_series_source(ser, wd)
    INC.run_incremental_rollup(spark, wd)
    raw = spark.read.parquet(str(tmp_path / "wd" / "raw")).drop("day")
    rollup.rollup_from_raw(raw, 60).write.parquet(str(tmp_path / "default"))
    assert_bit_equal(INC.read_tier(spark, wd, "1m"),
                     spark.read.parquet(str(tmp_path / "default")),
                     ["conv_id", "metric", "bucket_epoch"])
    entries = INC.load_manifest(wd)
    assert len(entries) > 3
    for e in entries:
        day = tmp_path / "wd" / f"rollup_{e['stage']}" / \
            f"day={e['partition_key']}"
        assert_stored_layout(str(day))
        assert e["bytes"] == sum(f.stat().st_size
                                 for f in day.glob("*.parquet")), e
        assert e["rows"] == spark.read.parquet(str(day)).count(), e


def test_retention_drops_only_expired(spark, transcripts, tmp_path):
    ser = S.project_series(transcripts)
    wd = str(tmp_path / "ret")
    INC.write_series_source(ser, wd)
    INC.run_incremental_rollup(spark, wd)
    now = ser.agg({"ts_epoch": "max"}).collect()[0][0]
    before_1d = INC.read_tier(spark, wd, "1d").count()
    dropped = INC.apply_retention(wd, now, keep_raw_s=INC.DAY_S,
                                  keep_1m_s=2 * INC.DAY_S,
                                  keep_1h_s=3 * INC.DAY_S)
    assert isinstance(dropped["raw"], list)
    # 1d tier untouched by retention
    assert INC.read_tier(spark, wd, "1d").count() == before_1d


def test_skimp_memo_no_recompute(spark, transcripts, tmp_path):
    """Widening the window sweep recomputes only the missing
    (conv_id, metric, w) keys; a clean re-run computes nothing."""
    from matrixprofile_spark.operators import profile as P

    tok = S.token_count_series(transcripts)
    packed = P.pack_series(tok).where("n >= 64").cache()
    n_series = packed.count()
    wd = str(tmp_path / "memo")

    n1 = INC.run_skimp_memo(spark, packed, wd, windows=[8, 16])
    assert n1 == 2 * n_series
    # re-run: zero recomputed windows
    assert INC.run_skimp_memo(spark, packed, wd, windows=[8, 16]) == 0
    # widen the sweep: only w=32 is missing
    assert INC.run_skimp_memo(spark, packed, wd, windows=[8, 16, 32]) == n_series
    # the resumed store equals a from-scratch sweep, row for row
    store = INC.read_skimp_store(spark, wd)
    direct = P.skimp_profiles(packed, windows=[8, 16, 32], packed=True)
    a = store.select("conv_id", "metric", "w", "mp").toPandas()
    b = direct.select("conv_id", "metric", "w", "mp").toPandas()
    key = ["conv_id", "metric", "w"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == 3 * n_series
    for i in range(len(a)):
        np.testing.assert_array_equal(np.asarray(a["mp"][i]),
                                      np.asarray(b["mp"][i]))
    packed.unpersist()


def test_csv_ingestion_roundtrip(spark, transcripts, tmp_path):
    """CSV export → read_transcripts_csv: per-turn text equality under
    stable (conv_id, turn_idx) ordering (the input_hint invariant)."""
    from matrixprofile_spark.sources import ingest

    path = str(tmp_path / "csv")
    ingest.write_transcripts_csv(transcripts, path)
    back = ingest.read_transcripts_csv(spark, path)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_epoch"]
    a = transcripts.select(cols).orderBy("conv_id", "turn_idx").toPandas()
    b = back.select(cols).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert "ts" in back.columns


def test_time_travel_snapshot_isolation(spark, transcripts, tmp_path):
    """As-of reads see exactly the manifest-prefix days: a day whose
    files are on disk but whose commit is after the snapshot is
    invisible; as-of the final commit equals the live table."""
    ser = S.project_series(transcripts)
    wd = str(tmp_path / "tt")
    INC.write_series_source(ser, wd)
    INC.run_incremental_rollup(spark, wd)
    manifest = INC.load_manifest(wd)
    m1_days = sorted(int(e["partition_key"]) for e in manifest
                     if e["stage"] == "1m")
    assert len(m1_days) >= 3

    as_of_2 = INC.read_tier_as_of(spark, wd, "1m", snapshot_seq=2)
    import pyspark.sql.functions as F2
    days_seen = sorted(
        r.day for r in as_of_2.select(
            F2.floor(F2.col("bucket_epoch") / INC.DAY_S).alias("day")
        ).distinct().collect())
    assert days_seen == m1_days[:2]  # later committed days invisible

    # as-of the last commit == the live read, row for row
    full = INC.read_tier(spark, wd, "1m")
    tip = INC.read_tier_as_of(spark, wd, "1m", snapshot_seq=len(manifest))
    assert tip.exceptAll(full).count() == 0
    assert full.exceptAll(tip).count() == 0

    # empty prefix: schema preserved, zero rows
    assert INC.read_tier_as_of(spark, wd, "1m", 0).count() == 0

    # a stage that never committed (directory absent): still an empty
    # frame with the declared sketch schema, not an AnalysisException
    wd2 = str(tmp_path / "tt2")
    INC.write_series_source(ser, wd2)
    INC.run_incremental_rollup(spark, wd2, stages=("1m",))
    empty_1h = INC.read_tier_as_of(spark, wd2, "1h", snapshot_seq=1)
    assert empty_1h.count() == 0
    assert "bucket_epoch" in empty_1h.columns


def test_retention_records_lineage_and_time_travel_refuses(
        spark, transcripts, tmp_path):
    ser = S.project_series(transcripts)
    wd = str(tmp_path / "ret")
    INC.write_series_source(ser, wd)
    INC.run_incremental_rollup(spark, wd)
    manifest_before = len(INC.load_manifest(wd))
    m1_days = sorted(int(e["partition_key"])
                     for e in INC.load_manifest(wd) if e["stage"] == "1m")
    # pick 'now' so exactly the oldest 1m day expires
    now = (m1_days[0] + 2) * INC.DAY_S + 1
    dropped = INC.apply_retention(wd, now, keep_raw_s=0,
                                  keep_1m_s=INC.DAY_S,
                                  keep_1h_s=10 * INC.DAY_S)
    assert dropped["rollup_1m"] == [m1_days[0]]
    ret_rows = [e for e in INC.load_manifest(wd)
                if e["stage"] == "retention"]
    assert len(INC.load_manifest(wd)) == manifest_before + len(ret_rows)
    assert any(e["partition_key"] == f"rollup_1m/day={m1_days[0]}"
               for e in ret_rows)
    # a snapshot that includes the expired day refuses loudly
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="expired by retention"):
        INC.read_tier_as_of(spark, wd, "1m", snapshot_seq=1)
