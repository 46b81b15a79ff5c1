"""STAMPI-style incremental streaming matrix profile.

The stateful stream (streaming/structured.stream_mpx_incremental) must,
after draining out-of-order micro-batches, equal an independent
brute-force batch profile — the published STAMPI exactness claim (new
subsequences only improve old matches under append). Statefulness is
asserted directly: the profile must have advanced across >1 update.
"""

from __future__ import annotations

import os

import numpy as np
import pytest


def _brute_profile(vals: np.ndarray, w: int, minlag: int) -> np.ndarray:
    """Independent O(n²w) recomputation with the oracle's conventions:
    pairs need abs(i-j) > minlag, flat windows give c=0, dist clamped."""
    m = len(vals) - w + 1
    mu = np.array([vals[i:i + w].mean() for i in range(m)])
    s = np.array([vals[i:i + w].std() for i in range(m)])
    cmax = np.full(m, -np.inf)
    for i in range(m):
        for j in range(m):
            if abs(i - j) <= minlag:
                continue
            if s[i] == 0 or s[j] == 0:
                c = 0.0
            else:
                c = (np.dot(vals[i:i + w], vals[j:j + w])
                     - w * mu[i] * mu[j]) / (w * s[i] * s[j])
            cmax[i] = max(cmax[i], c)
    return np.sqrt(2.0 * w * (1.0 - np.minimum(cmax, 1.0)))


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    from matrixprofile_spark.streaming.structured import (
        stream_mpx_incremental,
    )

    rng = np.random.RandomState(7)
    series = {
        "a": np.round(rng.randn(90).cumsum(), 3),
        "b": np.r_[np.zeros(20), np.round(rng.randn(70), 3)],  # flat head
    }
    rows = [(cid, int(i), float(v))
            for cid, vals in series.items() for i, v in enumerate(vals)]
    src = str(tmp_path_factory.mktemp("stampi") / "src")
    (spark.createDataFrame(rows, "conv_id string, idx long, value double")
     .repartition(6).write.mode("overwrite").parquet(src))
    out = stream_mpx_incremental(spark, src, w=16, minlag=4,
                                 query_name="stampi_test")
    return series, out, spark.table("stampi_test")


def test_stream_equals_batch_brute_force(streamed):
    series, out, _ = streamed
    got = out.toPandas()
    for cid, vals in series.items():
        want = _brute_profile(vals, 16, 4)
        sub = got[got.conv_id == cid].sort_values("idx")
        assert sub.idx.tolist() == list(range(len(want)))
        np.testing.assert_allclose(sub.dist.to_numpy(), want,
                                   rtol=0, atol=1e-8)


def test_state_advances_across_batches(streamed):
    _, _, snaps = streamed
    per_key = snaps.groupBy("conv_id").agg({"upd": "max"}).collect()
    # 6 shuffled single-file batches -> every series took several
    # updates to drain; a single-batch run would make this vacuous
    assert all(r[1] >= 3 for r in per_key)


def test_dropped_point_is_bounded_not_stalled(spark, tmp_path):
    """A point that never arrives must neither stall the series nor grow
    the pending buffer past max_pending: once pending exceeds the cap the
    hole is LOCF-filled, the profile advances to full length, and an
    audit row (idx=-1, dist=fill count) lands in the snapshot table."""
    from matrixprofile_spark.streaming.structured import (
        stream_mpx_incremental,
    )

    rng = np.random.RandomState(11)
    vals = np.round(rng.randn(80).cumsum(), 3)
    hole = 25
    rows = [("a", int(i), float(v)) for i, v in enumerate(vals)
            if i != hole]
    src = str(tmp_path / "src")
    # single file → single batch: the cap is a volume heuristic ("more
    # than max_pending points newer than the hole arrived"), and a
    # shuffled multi-batch drain would trip it on transient
    # arrival-order gaps, making the fill site nondeterministic
    (spark.createDataFrame(rows, "conv_id string, idx long, value double")
     .repartition(1).write.mode("overwrite").parquet(src))
    out = stream_mpx_incremental(spark, src, w=16, minlag=4,
                                 query_name="stampi_drop",
                                 max_pending=8).toPandas()
    # prefix stalls at the hole until pending > 8, so the fill value is
    # the last appended point: vals[hole-1]
    filled = vals.copy()
    filled[hole] = vals[hole - 1]
    want = _brute_profile(filled, 16, 4)
    sub = out[out.conv_id == "a"].sort_values("idx")
    assert sub.idx.tolist() == list(range(len(want))), "series stalled"
    np.testing.assert_allclose(sub.dist.to_numpy(), want, rtol=0,
                               atol=1e-8)
    audits = (spark.table("stampi_drop")
              .where("idx = -1").toPandas())
    assert len(audits) >= 1
    assert audits.dist.iloc[-1] == 1.0  # exactly one point gap-filled


def test_append_mode_emits_exactly_below_watermark(spark, tmp_path):
    """Append + watermark: after an availableNow drain the emitted set
    is exactly the windows whose end the final watermark (global max
    event time - delay) passed; newer windows remain in state. Two
    mtime-ordered waves prove late-wave data advances the watermark
    that releases the early wave."""
    import glob
    import os
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)

    def wave(rows, name, mtime):
        df = spark.createDataFrame(
            rows, "conv_id string, metric string, idx long, "
                  "ts_epoch long, value double").coalesce(1)
        tmp = str(tmp_path / f"_w_{name}")
        df.write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/{name}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))

    wave([("c", "m", i, i * 30, 1.0) for i in range(20)], "a", 1000)
    wave([("c", "m", 100 + i, 1200 + i * 30, 2.0) for i in range(10)],
         "b", 2000)

    from matrixprofile_spark.streaming.structured import (
        stream_rollup_1m_append,
    )

    out = stream_rollup_1m_append(spark, src, query_name="t_append",
                                  delay="601 seconds")
    got = sorted(r.bucket_epoch for r in out.collect())
    # global max ts = 1470, watermark = 869: buckets ending <= 869 =
    # starts 0..540 (wave A); wave B's buckets (1200+) stay in state
    assert got == [i * 60 for i in range(10)]


def test_append_mode_boundary_bucket_at_watermark_equality(spark, tmp_path):
    """Pin the eviction boundary the oracle leans on: a window whose
    end EQUALS the final watermark is emitted (inclusive <=, matching
    the oracle's `bucket_epoch + 60 <= wm`). Fixture: max ts 1801,
    delay 601 -> watermark exactly 1200, a bucket end. If a Spark
    version ever flips this to strict <, THIS test goes red before the
    driver's gate does."""
    import glob
    import os
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [("c", "m", i, ts, 1.0)
            for i, ts in enumerate(list(range(0, 1801, 30)) + [1801])]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, idx long, "
              "ts_epoch long, value double").coalesce(1)
    tmp = str(tmp_path / "_w_bound")
    df.write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0],
                f"{src}/a.parquet")

    from matrixprofile_spark.streaming.structured import (
        stream_rollup_1m_append,
    )

    out = stream_rollup_1m_append(spark, src, query_name="t_append_bound",
                                  delay="601 seconds")
    got = sorted(r.bucket_epoch for r in out.collect())
    # watermark = 1801 - 601 = 1200: bucket [1140,1200) ends exactly AT
    # the watermark and must be emitted; [1200,1260) must stay in state.
    assert 1140 in got and 1200 not in got
    assert got == [i * 60 for i in range(20)]


def test_dedup_turns_backlog_survives_disordered_multibatch(spark, tmp_path):
    """A time-disordered backfill drained one file per trigger must NOT
    lose originals, provided delay spans the backlog (the arrival
    contract the query wrapper documents): newest-first arrival pushes
    the watermark up immediately, and only a wide-enough delay keeps
    older originals above it."""
    import glob
    import os
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)

    def one_file(rows, name, mtime):
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx long, ts_epoch long, "
                  "text string").coalesce(1)
        tmp = str(tmp_path / f"_w_{name}")
        df.write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{src}/{name}.parquet")
        os.utime(f"{src}/{name}.parquet", (mtime, mtime))

    # newest event first, oldest last — worst case for the watermark;
    # turn 9 duplicated across files 1 and 3
    one_file([("c", 9, 100_000, "x")], "a", 1000)
    one_file([("c", 8, 100_001, "y")], "b", 2000)
    one_file([("c", 1, 10, "z"), ("c", 9, 100_000, "x")], "d", 3000)

    from matrixprofile_spark.streaming.structured import stream_dedup_turns

    out = stream_dedup_turns(spark, src, query_name="t_ddw_dis",
                             delay="30 days", files_per_trigger=1)
    got = sorted((r.conv_id, r.turn_idx) for r in out.collect())
    assert got == [("c", 1), ("c", 8), ("c", 9)]



def _drained(spark, op, value_type, src, name):
    """Write a 40-point source for one of two operators (a stateless
    complete-mode aggregate, a stateful update-mode snapshot stream)
    with ``value`` of ``value_type``, then run it; both declare
    ``value double``."""
    from matrixprofile_spark.streaming import structured as S

    cast = str if value_type == "string" else float
    if op == "rollup_1m":
        rows = [("c", "m", i, 60 * i, cast(i % 5)) for i in range(40)]
        schema = "conv_id string, metric string, idx long, ts_epoch long"
    else:
        rows = [("c", i, cast(i % 5)) for i in range(40)]
        schema = "conv_id string, idx long"
    (spark.createDataFrame(rows, f"{schema}, value {value_type}")
     .write.mode("overwrite").parquet(src))
    if op == "rollup_1m":
        return S.stream_rollup_1m(spark, src, query_name=name)
    return S.stream_mpx_incremental(spark, src, w=8, minlag=2,
                                    query_name=name)


@pytest.mark.parametrize("op", ["rollup_1m", "mpx_incremental"])
@pytest.mark.parametrize("outcome", ["returns", "source_fails"])
def test_drain_restores_partitions_and_removes_checkpoint(
        spark, tmp_path, op, outcome):
    """Every stream runs through one drain: whether the query returns
    or its source fails at runtime (a parquet column whose type
    contradicts the declared schema), the session's shuffle-partition
    count is back to its prior value and the query's checkpoint
    directory is gone."""
    import glob

    from pyspark.errors import StreamingQueryException

    name = f"t_drain_{op}_{outcome}"
    src = str(tmp_path / "src")
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        if outcome == "returns":
            assert _drained(spark, op, "double", src, name).count() > 0
        else:
            with pytest.raises(StreamingQueryException):
                _drained(spark, op, "string", src, name)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert not glob.glob(f"/dev/shm/ckpt_{name}_*")


def test_stream_query_fixtures_removed_after_drain(spark, monkeypatch,
                                                   tmp_path):
    """A stream query's source dir is gone once its result is built: the
    result lives in the memory sink, so the files are dead after the
    drain. Every mkdtemp call is recorded so the check is not vacuous."""
    import tempfile

    import __spark_entry__ as E

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for build in (E._q_stream_rollup_1m, E._q_stream_mpx_incremental):
        assert build(spark, "sf0.001").collect()
    for prefix in ("mp_spark_stream_r1m_", "mp_spark_stampi_"):
        assert any(os.path.basename(p).startswith(prefix) for p in made)
    assert not [p for p in made if os.path.exists(p)]
    assert not list(tmp_path.glob("mp_spark_stream_r1m_*"))
    assert not list(tmp_path.glob("mp_spark_stampi_*"))
