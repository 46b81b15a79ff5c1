"""Tier-2 rollup exactness (FIXTURES.md F4) and generator contract.

Every rolled-up sketch field must equal an independent pandas groupby
recomputation bit-for-bit, and the 1h tier computed from 1m sketches must
equal 1h computed from raw. Mirrors the north_rule's "exact-match vs
reference rollups at every retention tier".
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from matrixprofile_spark.operators import gapfill, rollup
from matrixprofile_spark.operators import series as S
from matrixprofile_spark.sources.synth import synth_transcripts

N_CONV = 12


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, N_CONV).cache()


@pytest.fixture(scope="module")
def series_pdf(transcripts):
    # independent recomputation path: raw pandas from the transcript rows
    t = transcripts.toPandas().sort_values(["conv_id", "turn_idx"])
    lat = t.groupby("conv_id")["ts_epoch"].diff().astype(float)
    a = pd.DataFrame(
        {"conv_id": t.conv_id, "metric": "latency", "ts_epoch": t.ts_epoch, "value": lat}
    )
    b = pd.DataFrame(
        {
            "conv_id": t.conv_id,
            "metric": "token_count",
            "ts_epoch": t.ts_epoch,
            "value": t.text.str.len().astype(float),
        }
    )
    return pd.concat([a, b], ignore_index=True)


def test_input_hint_schema(transcripts):
    fields = dict(transcripts.dtypes)
    assert fields["conv_id"] == "string"
    assert fields["turn_idx"] == "int"
    assert fields["role"] == "string"
    assert fields["text"] == "string"
    assert fields["tool"] == "string"
    assert fields["ts"] == "timestamp"


def test_generator_deterministic(spark, transcripts):
    again = synth_transcripts(spark, N_CONV)
    a = transcripts.orderBy("conv_id", "turn_idx").toPandas()
    b = again.orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(a, b)


def _pandas_rollup(pdf: pd.DataFrame, tier_s: int) -> pd.DataFrame:
    p = pdf[pdf.value.notna()].copy()
    p["bucket_epoch"] = (p.ts_epoch // tier_s) * tier_s
    p = p.sort_values(["conv_id", "metric", "ts_epoch"])
    g = p.groupby(["conv_id", "metric", "bucket_epoch"])
    out = g.agg(
        cnt=("value", "size"),
        vsum=("value", "sum"),
        vmin=("value", "min"),
        vmax=("value", "max"),
        vfirst=("value", "first"),
        vlast=("value", "last"),
    )
    out["sum_sq"] = g["value"].apply(lambda v: float(np.sum(v.values**2)))
    return out.reset_index()


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_rollup_exact_vs_pandas(transcripts, series_pdf, tier):
    ser = S.project_series(transcripts)
    got = (
        rollup.build_cascade(ser)[tier]
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_epoch"])
        .reset_index(drop=True)
    )
    want = (
        _pandas_rollup(series_pdf, rollup.TIERS_S[tier])
        .sort_values(["conv_id", "metric", "bucket_epoch"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in ["cnt", "vsum", "vmin", "vmax", "sum_sq", "vfirst", "vlast"]:
        np.testing.assert_array_equal(
            got[c].to_numpy().astype(float), want[c].to_numpy().astype(float), err_msg=c
        )


def test_cascade_equals_from_raw(transcripts):
    ser = S.project_series(transcripts)
    r1m = rollup.rollup_from_raw(ser, 60)
    from_1m = (
        rollup.rollup_cascade(r1m, 3600)
        .orderBy("conv_id", "metric", "bucket_epoch")
        .toPandas()
    )
    from_raw = (
        rollup.rollup_from_raw(ser, 3600)
        .orderBy("conv_id", "metric", "bucket_epoch")
        .toPandas()
    )
    pd.testing.assert_frame_equal(from_1m, from_raw)


def _assert_tiers_equal(got, want):
    for tier in ("1m", "1h", "1d"):
        a, b = got[tier], want[tier]
        assert a.dtypes == b.dtypes, tier
        assert a.exceptAll(b).count() == 0, tier
        assert b.exceptAll(a).count() == 0, tier


def test_materialize_cascade_matches_chained(transcripts, tmp_path):
    """The single-action partitionBy("tier") write must land exactly the
    rows the chained write→read→write loop would — per tier, bit-for-bit
    (set equality; ordering is not part of the contract)."""
    ser = S.project_series(transcripts)
    got = rollup.materialize_cascade(ser, str(tmp_path / "tiers"),
                                     files_per_tier=4)
    _assert_tiers_equal(got, rollup.build_cascade(ser))


def test_materialize_cascade_default_path_matches_chained(transcripts,
                                                          tmp_path):
    """The default write (no files_per_tier repartition) — the path
    `jobs/rollup_job.py --mode batch` takes — lands the same rows."""
    ser = S.project_series(transcripts)
    got = rollup.materialize_cascade(ser, str(tmp_path / "tiers"))
    _assert_tiers_equal(got, rollup.build_cascade(ser))


def test_materialize_cascade_stored_layout(spark, transcripts, tmp_path,
                                           assert_stored_layout,
                                           assert_bit_equal):
    """Each tier file is zstd, its bucket_epoch delta-coded and its rows
    in (conv_id, metric, bucket_epoch) order; the rows read back equal a
    default-options write of the same one-pass tier DataFrame."""
    ser = S.project_series(transcripts)
    rollup.materialize_cascade(ser, str(tmp_path / "tiers"))
    for tier in ("1m", "1h", "1d"):
        assert_stored_layout(str(tmp_path / "tiers" / f"tier={tier}"))
    rollup.cascade_union(ser).write.partitionBy("tier").parquet(
        str(tmp_path / "default"))
    assert_bit_equal(spark.read.parquet(str(tmp_path / "tiers")),
                     spark.read.parquet(str(tmp_path / "default")),
                     ["tier", "conv_id", "metric", "bucket_epoch"])


@pytest.mark.parametrize("case", ["all_null", "empty"])
def test_materialize_cascade_no_points_gives_empty_tiers(transcripts,
                                                         tmp_path, case):
    """No non-NULL point means no sketch row in any tier; the write
    leaves no part file, so the read-back must use the static schema."""
    from pyspark.sql import functions as F

    ser = S.project_series(transcripts)
    ser = ser.where(F.col("value").isNull()) if case == "all_null" \
        else ser.limit(0)
    got = rollup.materialize_cascade(ser, str(tmp_path / "tiers"))
    _assert_tiers_equal(got, rollup.build_cascade(ser))
    assert all(df.count() == 0 for df in got.values())


def test_refresh_rollup_equals_full_recompute(transcripts, spark):
    """Invalidation refresh under late data must be indistinguishable
    from never having been late — including the edge cases: a bucket
    whose points are ALL late (absent from base, fully recomputed) and
    a late batch row with a NULL value (invalidates nothing)."""
    from pyspark.sql import functions as F

    ser = S.project_series(transcripts)
    is_late = (F.abs(F.hash("conv_id", "idx")) % 4) == 0  # heavy: ~25%
    on_time, late = ser.where(~is_late), ser.where(is_late)
    base = rollup.rollup_from_raw(on_time, 60)
    got = rollup.refresh_rollup(base, on_time, late, 60)
    want = rollup.rollup_from_raw(ser, 60)
    assert got.columns == want.columns
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # all-late bucket: base misses it entirely, refresh must produce it
    one = ser.limit(0)  # empty on-time
    got2 = rollup.refresh_rollup(
        rollup.rollup_from_raw(one, 60), one, ser, 60)
    assert got2.exceptAll(want).count() == 0
    assert want.exceptAll(got2).count() == 0
    # NULL-only late batch invalidates nothing: refresh == base
    null_late = ser.where(F.col("value").isNull())
    got3 = rollup.refresh_rollup(base, on_time, null_late, 60)
    assert got3.exceptAll(base).count() == 0
    assert base.exceptAll(got3).count() == 0
    # post-ingest framing: raw already contains the late rows →
    # raw_includes_late=True must not double-count them
    got4 = rollup.refresh_rollup(base, ser, late, 60,
                                 raw_includes_late=True)
    assert got4.exceptAll(want).count() == 0
    assert want.exceptAll(got4).count() == 0


def test_retention_cover_is_disjoint_and_total(transcripts):
    ser = S.project_series(transcripts)
    now = ser.agg({"ts_epoch": "max"}).collect()[0][0]
    tiers = rollup.build_cascade(ser)
    view = rollup.retention_union(tiers, ser, now, 86400, 3 * 86400, 6 * 86400)
    pdf = view.toPandas()
    # total count across the view == number of non-null raw points
    n_raw = ser.where("value is not null").count()
    assert int(pdf.cnt.sum()) == n_raw
    # sum preserved exactly (integer-valued metrics → exact float64)
    raw_sum = ser.where("value is not null").agg({"value": "sum"}).collect()[0][0]
    assert float(pdf.vsum.sum()) == float(raw_sum)


def test_gapfill_locf_fills_everything(transcripts):
    tok = S.token_count_series(transcripts)
    grid = gapfill.to_grid(tok, 60)
    filled = gapfill.fill_locf(grid, "forward")
    assert filled.where("value is null").count() == 0
    # idempotence
    refilled = gapfill.fill_locf(filled, "forward")
    a = filled.orderBy("conv_id", "metric", "ts_epoch").toPandas()
    b = refilled.orderBy("conv_id", "metric", "ts_epoch").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_gapfill_locf_fused_equals_composed(transcripts):
    tok = S.token_count_series(transcripts)
    composed = gapfill.fill_locf(gapfill.to_grid(tok, 60), "forward")
    fused = gapfill.gapfill_locf(tok, 60, "forward")
    a = composed.orderBy("conv_id", "metric", "ts_epoch").toPandas()
    b = fused.orderBy("conv_id", "metric", "ts_epoch").toPandas()
    pd.testing.assert_frame_equal(a, b)
    # backward fill: grid points take the NEXT observation instead
    composed_b = gapfill.fill_locf(gapfill.to_grid(tok, 60), "backward")
    fused_b = gapfill.gapfill_locf(tok, 60, "backward")
    a = composed_b.orderBy("conv_id", "metric", "ts_epoch").toPandas()
    b = fused_b.orderBy("conv_id", "metric", "ts_epoch").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_gapfill_window_stat_methods(transcripts):
    tok = S.token_count_series(transcripts)
    grid = gapfill.to_grid(tok, 60)
    for method in ("mean", "median", "min", "max"):
        out = gapfill.fill_window_stat(grid, window=5, method=method)
        assert out.columns == ["conv_id", "metric", "ts_epoch", "value"]
    with pytest.raises(ValueError):
        gapfill.fill_window_stat(grid, 5, method="bogus").collect()


def test_gapfill_window_stat_wide_gap_divergence(spark):
    """fill_window_stat is a ONE-SHOT imputation: the window stat sees
    only original values, so a gap WIDER than the window fills for the
    first `window` grid points after the last observation and stays
    NULL deeper in. The reference's sequential impute_missing
    (kernels.preprocess) feeds fills back into later windows and closes
    the whole gap. This pins the documented divergence (the operators
    agree only for gaps narrower than the window)."""
    from matrixprofile_spark.kernels.preprocess import impute_missing

    vals = [10.0] * 10 + [None] * 8 + [20.0] * 7  # gap of 8 > window 5
    grid = spark.createDataFrame(
        [("c", "m", i, v) for i, v in enumerate(vals)],
        "conv_id string, metric string, ts_epoch long, value double",
    )
    out = (
        gapfill.fill_window_stat(grid, window=5, method="mean")
        .orderBy("ts_epoch")
        .toPandas()
    )
    # within `window` rows of the last observation: filled with its mean
    assert (out.value[10:15] == 10.0).all()
    # deeper than the window: the frame holds only NULLs -> stays NULL
    assert out.value[15:18].isna().all()

    # the sequential kernel closes the whole gap by progressive refill
    seq = impute_missing(
        np.array([np.nan if v is None else v for v in vals]), window=5,
        method="mean", direction="forward",
    )
    assert np.isfinite(seq).all()
    np.testing.assert_allclose(seq[10:18], np.full(8, 10.0))

    # agreement region: an isolated gap narrower than the window fills
    # identically in both
    vals2 = [10.0] * 10 + [None] + [10.0] * 10
    grid2 = spark.createDataFrame(
        [("c", "m", i, v) for i, v in enumerate(vals2)],
        "conv_id string, metric string, ts_epoch long, value double",
    )
    one_shot = (
        gapfill.fill_window_stat(grid2, window=5, method="mean")
        .orderBy("ts_epoch").toPandas().value.to_numpy()
    )
    seq2 = impute_missing(
        np.array([np.nan if v is None else v for v in vals2]), window=5,
        method="mean", direction="forward",
    )
    np.testing.assert_allclose(one_shot, seq2)


def test_fill_sequential_matches_kernel_on_wide_gaps(spark):
    """The Arrow-bridged fill_sequential must reproduce the reference's
    sequential impute_missing bit-for-bit — including gaps wider than
    the window, where the one-shot operator diverges — and for every
    method and direction."""
    from matrixprofile_spark.kernels.preprocess import impute_missing

    vals = ([10.0] * 10 + [None] * 8 + [20.0] * 7
            + [None] * 3 + [5.0] * 6)
    grid = spark.createDataFrame(
        [("c", "m", i, v) for i, v in enumerate(vals)]
        + [("d", "m", i, v) for i, v in enumerate(reversed(vals))],
        "conv_id string, metric string, ts_epoch long, value double",
    )
    arr = np.array([np.nan if v is None else v for v in vals])
    for method in ("mean", "median", "min", "max"):
        for direction in ("forward", "backward"):
            got = (
                gapfill.fill_sequential(grid, window=5, method=method,
                                        direction=direction)
                .orderBy("conv_id", "ts_epoch").toPandas()
            )
            for cid, ref_in in (("c", arr), ("d", arr[::-1])):
                want = impute_missing(ref_in.copy(), window=5,
                                      method=method, direction=direction)
                sub = got[got.conv_id == cid].value.to_numpy()
                np.testing.assert_array_equal(sub, want)


def test_gap_report_counts_null_valued_buckets_like_oracle(spark):
    """Cross-engine pin for the r6/r7 driver-gate divergence class: the
    committed oracle's bucket CTE groups on the bucket ALONE (it never
    references value), so a bucket whose points all carry NULL values is
    still observed. Spark's gap_report must agree on such a fixture —
    and its integer outputs must be bit-equal to DuckDB running the
    oracle's exact expression shape over the same rows."""
    import duckdb

    rows = [
        # conv c1: buckets 0, 60 observed, 180 observed via NULL-valued
        # point only, holes at 120 -> n_observed=3, n_missing=1
        ("c1", "m", 0, 5, 1.0),
        ("c1", "m", 1, 61, None),
        ("c1", "m", 2, 185, None),
        # conv c2: single bucket, NULL-valued only
        ("c2", "m", 0, 10, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, idx long, ts_epoch long, "
              "value double")
    got = {
        (r["conv_id"], r["metric"]):
            (r["n_observed"], r["n_missing"], r["longest_gap"],
             r["coverage_ppm"])
        for r in gapfill.gap_report(df, 60).collect()
    }
    duck = duckdb.connect()
    duck.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                 "('c1','m',CAST(5 AS BIGINT), CAST(1.0 AS DOUBLE)),"
                 "('c1','m',61,NULL),('c1','m',185,NULL),"
                 "('c2','m',10,NULL)) v(conv_id, metric, ts_epoch, value)")
    want = {
        (c, m): (n_obs, n_miss, lg, ppm)
        for c, m, n_obs, n_miss, lg, ppm in duck.execute("""
WITH b AS (
  SELECT conv_id, metric,
         CAST(FLOOR(ts_epoch / 60.0) * 60 AS BIGINT) AS ts_epoch
  FROM t GROUP BY 1, 2, 3
),
g AS (
  SELECT conv_id, metric,
         CAST((ts_epoch - lag(ts_epoch) OVER
           (PARTITION BY conv_id, metric ORDER BY ts_epoch)) / 60 - 1
           AS BIGINT) AS hole
  FROM b
)
SELECT conv_id, metric, count(*), coalesce(sum(hole), 0),
       coalesce(max(hole), 0),
       CAST((count(*) * 1000000) // (count(*) + coalesce(sum(hole), 0))
         AS BIGINT)
FROM g GROUP BY 1, 2
""").fetchall()
    }
    assert got == want
    assert got[("c1", "m")] == (3, 1, 1, 750000)
    assert got[("c2", "m")] == (1, 0, 0, 1000000)
