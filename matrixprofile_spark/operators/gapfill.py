"""Time-grid gap-fill as pure DataFrame ops.

DataFrame-level counterpart of the reference's `impute_missing`
(/root/reference/matrixprofile/preprocess.py:140-222). Two layers:

1. `to_grid` — densify each (conv_id, metric) series onto a fixed-step
   time grid: `sequence(min_ts, max_ts, step)` + explode + left join.
   Missing grid points surface as NULL values (the reference's NaN).
2. `fill_locf` / `fill_window_stat` — imputation:
   - LOCF forward/backward via `last(value, ignorenulls=True)` over an
     unbounded-preceding window (and `first(...)` for backward) — the
     degenerate-but-dominant case, fully Catalyst-native and
     oracle-checkable;
   - sliding-window mean/median/min/max over the previous/next w points,
     mirroring preprocess.py:202-222's windowed statistics. Note the
     reference fills *sequentially* (later fills see earlier fills); the
     exact sequential semantics live in kernels.preprocess.impute_missing
     and are exercised per-group through the Arrow bridge — this
     DataFrame variant is the one-shot (non-recursive) fill, which equals
     the reference whenever gaps are narrower than w.

Scale: sequence/explode is per-conversation and never shuffles raw data
more than once (the join key is the grid key the series is already
partitioned by after rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _bucket(step_s: int):
    """Grid-bucket expression shared by every function here — the
    fillers and their gap_report audit must bucket identically or the
    audit silently disagrees with what was filled."""
    return (F.floor(F.col("ts_epoch") / step_s) * step_s).cast("bigint")


def _by_series(series: DataFrame) -> DataFrame:
    """One upfront hash repartition on the SERIES key that every stage
    downstream rides: hashpartitioning(conv_id, metric) satisfies the
    bucket aggregation's clustering on (conv_id, metric, bucket) —
    equal group keys imply equal series keys — AND the lag/fill
    window's partitioning, so the whole fused pipeline runs in one
    post-shuffle stage. Without it the plan pays two exchanges (the
    bucket groupBy, then the window re-shuffling the nearly-unreduced
    bucket rows: at a 60 s grid over ~67 s median point spacing the
    map-side partial collapses almost nothing, so both exchanges carry
    ~the full point count). AQE still sizes the single exchange (column
    repartition, no explicit N). Values are unchanged: the bucket mean
    is sum/count of the group's points either way.

    conv_id ONLY, not (conv_id, metric): hashpartitioning satisfies a
    ClusteredDistribution when its expressions are a SUBSET of the
    clustering, so the single-column exchange serves the bucket groupBy
    (conv_id, metric, bucket) AND the window (conv_id[, metric]) alike
    — while a two-column repartition is defeated whenever metric is a
    constant-folded literal (the series builders emit it as one) and
    satisfies neither requirement."""
    return series.repartition("conv_id")


def _bucketed(series: DataFrame, step_s: int) -> DataFrame:
    """(conv_id, metric, ts_epoch, value): the mean of each series'
    non-NULL points per grid bucket (deterministic: integer sums)."""
    return (
        _by_series(series).where(F.col("value").isNotNull())
        .groupBy("conv_id", "metric", _bucket(step_s).alias("ts_epoch"))
        .agg((F.sum("value") / F.count("value")).alias("value"))
    )


def _gap_rows(series: DataFrame, step_s: int) -> DataFrame:
    """One row per grid point from each observed bucket back to the one
    after the previous observed bucket: ``ts_epoch`` plus the bucket
    (``_t1``, ``_v1``) and the previous observed bucket (``_t0``,
    ``_v0``, NULL for a series' first). One window pass over the
    bucketed rows lags the previous observation, and each row generates
    its own gap inline, so the fused fillers need no grid join."""
    w = Window.partitionBy("conv_id", "metric").orderBy("ts_epoch")
    lagged = _bucketed(series, step_s).select(
        "conv_id", "metric",
        F.col("ts_epoch").alias("_t1"), F.col("value").alias("_v1"),
        F.lag("ts_epoch").over(w).alias("_t0"),
        F.lag("value").over(w).alias("_v0"),
    )
    return lagged.select(
        "conv_id", "metric", "_t0", "_t1", "_v0", "_v1",
        F.explode(
            F.sequence(
                F.coalesce(F.col("_t0") + step_s, F.col("_t1")),
                F.col("_t1"),
                F.lit(int(step_s)),
            )
        ).alias("ts_epoch"),
    )


def to_grid(series: DataFrame, step_s: int = 60) -> DataFrame:
    """Densify to a step_s-spaced grid per (conv_id, metric).

    Output: conv_id, metric, ts_epoch (grid-aligned), value (NULL where
    the bucket had no point). Input is first bucketed to the grid by
    floor(ts/step): if several raw points share a bucket the mean is
    taken (deterministic: integer sums).
    """
    bucketed = _bucketed(series, step_s)
    spans = bucketed.groupBy("conv_id", "metric").agg(
        F.min("ts_epoch").alias("t0"), F.max("ts_epoch").alias("t1")
    )
    grid = spans.select(
        "conv_id",
        "metric",
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.lit(int(step_s)))
        ).alias("ts_epoch"),
    )
    return grid.join(bucketed, ["conv_id", "metric", "ts_epoch"], "left")


def gapfill_locf(
    series: DataFrame, step_s: int = 60, direction: str = "forward"
) -> DataFrame:
    """Fused grid + LOCF fill — equals fill_locf(to_grid(series), dir)
    with a fraction of the plan: to_grid references the bucketed
    aggregate twice (span agg + grid join), so the whole upstream
    recomputes, and the composed pipeline pays five exchanges; here one
    window pass over the bucketed rows lags the previous observation and
    each row *generates its own gap* inline (sequence over the missing
    buckets carries the lagged value forward / this value backward).
    Two exchanges total, no join, nothing scans raw twice."""
    exploded = _gap_rows(series, step_s)
    if direction == "forward":
        value = F.when(F.col("ts_epoch") == F.col("_t1"), F.col("_v1")).otherwise(
            F.col("_v0")
        )
    else:  # backward (next observation carried back)
        value = F.col("_v1")
    return exploded.select("conv_id", "metric", "ts_epoch", value.alias("value"))


def fill_locf(grid: DataFrame, direction: str = "forward") -> DataFrame:
    """Last/next-observation-carried-forward fill of NULL grid points."""
    w = Window.partitionBy("conv_id", "metric").orderBy("ts_epoch")
    if direction == "forward":
        filled = F.last("value", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        filled = F.first("value", ignorenulls=True).over(
            w.rowsBetween(0, Window.unboundedFollowing)
        )
    return grid.select(
        "conv_id",
        "metric",
        "ts_epoch",
        F.coalesce(F.col("value"), filled).alias("value"),
    )


def fill_sequential(
    grid: DataFrame, window: int, method: str = "mean",
    direction: str = "forward",
) -> DataFrame:
    """EXACT reference-sequential imputation (preprocess.py:140-222
    parity): the window slides one position at a time and every fill is
    visible to later windows, so gaps wider than the window close fully
    — where the one-shot `fill_window_stat` leaves the deep interior
    NULL (divergence pinned at tests/test_rollup.py).

    Runs kernels.preprocess.impute_missing per (conv_id, metric) group
    through an Arrow `applyInPandas` bridge: one shuffle on the series
    key (which rollup output already carries), then a narrow grouped
    map — the same grouped-kernel shape as mpx_profiles. Prefer
    fill_window_stat (pure Catalyst, no Python) when gaps are known to
    be narrower than the window; the two agree exactly there."""
    import numpy as np
    import pandas as pd

    from matrixprofile_spark.kernels.preprocess import impute_missing

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts_epoch")
        vals = pdf["value"].to_numpy(dtype="float64")  # NULL -> NaN
        pdf = pdf.assign(value=impute_missing(
            vals, window, method=method, direction=direction))
        return pdf[["conv_id", "metric", "ts_epoch", "value"]]

    return grid.groupBy("conv_id", "metric").applyInPandas(
        fn, "conv_id string, metric string, ts_epoch bigint, value double"
    )


def fill_window_stat(
    grid: DataFrame, window: int, method: str = "mean", direction: str = "forward"
) -> DataFrame:
    """One-shot sliding-window imputation (preprocess.py:202-222 semantics
    for isolated gaps): fill each NULL with `method` over the previous
    (forward) or next (backward) `window` non-null values.
    """
    w0 = Window.partitionBy("conv_id", "metric").orderBy("ts_epoch")
    frame = (
        w0.rowsBetween(-window, -1)
        if direction == "forward"
        else w0.rowsBetween(1, window)
    )
    v = F.col("value")
    if method == "mean":
        stat = F.avg(v).over(frame)
    elif method == "median":
        # median is not frame-capable as a Spark window function; exact
        # median via sorted collect_list over the frame instead
        lst = F.array_sort(F.collect_list(v).over(frame))
        n = F.size(lst)
        lo = F.element_at(lst, ((n - 1) / 2 + 1).cast("int"))
        hi = F.element_at(lst, (n / 2 + 1).cast("int"))
        stat = F.when(n > 0, (lo + hi) / 2.0)
    elif method == "min":
        stat = F.min(v).over(frame)
    elif method == "max":
        stat = F.max(v).over(frame)
    else:
        raise ValueError(f"invalid impute method: {method}")
    return grid.select(
        "conv_id", "metric", "ts_epoch", F.coalesce(v, stat).alias("value")
    )


def fill_interp(grid: DataFrame) -> DataFrame:
    """Linear-interpolation fill of NULL grid points (the `interpolate`
    companion to LOCF that every gap-fill surface grows next — public
    TimescaleDB/InfluxDB semantics): each NULL takes the straight line
    between the previous and next observed grid values,

        v = v0 + (v1 - v0) * (t - t0) / (t1 - t0).

    Leading/trailing holes (no observation on one side) fall back to
    the one-sided neighbor (LOCF / NOCB), so the output is total like
    fill_locf. One window pass: both one-sided frames share the same
    (conv_id, metric) × ts_epoch sort, so Spark plans a single exchange
    + sort and evaluates all four running expressions in it — no join,
    nothing scans the grid twice.
    """
    w = Window.partitionBy("conv_id", "metric").orderBy("ts_epoch")
    before = w.rowsBetween(Window.unboundedPreceding, 0)
    after = w.rowsBetween(0, Window.unboundedFollowing)
    obs_ts = F.when(F.col("value").isNotNull(), F.col("ts_epoch"))
    t0 = F.last(obs_ts, ignorenulls=True).over(before)
    v0 = F.last("value", ignorenulls=True).over(before)
    t1 = F.first(obs_ts, ignorenulls=True).over(after)
    v1 = F.first("value", ignorenulls=True).over(after)
    interp = F.when(
        t0.isNotNull() & t1.isNotNull() & (t1 != t0),
        v0 + (v1 - v0) * (F.col("ts_epoch") - t0) / (t1 - t0),
    ).otherwise(F.coalesce(v0, v1))
    return grid.select(
        "conv_id", "metric", "ts_epoch",
        F.coalesce(F.col("value"), interp).alias("value"),
    )


def gapfill_interp(series: DataFrame, step_s: int = 60) -> DataFrame:
    """Fused grid + linear-interpolation fill — equals
    fill_interp(to_grid(series, step_s)) with the same two-exchange
    plan as gapfill_locf: one window pass lags the previous observed
    bucket and each row GENERATES its own gap inline (sequence over the
    missing buckets interpolates between the lagged and current
    observation), so nothing scans the bucketed aggregate twice and no
    grid join exists. Interior grid points are exact line points; grid
    endpoints are observed buckets by construction, so fill_interp's
    one-sided fallbacks never trigger here.
    """
    exploded = _gap_rows(series, step_s)
    t = F.col("ts_epoch")
    value = F.when(t == F.col("_t1"), F.col("_v1")).otherwise(
        F.col("_v0")
        + (F.col("_v1") - F.col("_v0")) * (t - F.col("_t0"))
        / (F.col("_t1") - F.col("_t0"))
    )
    return exploded.select(
        "conv_id", "metric", "ts_epoch", value.alias("value")
    )


def gap_report(series: DataFrame, step_s: int = 60) -> DataFrame:
    """The audit twin of the gap fillers: per (conv_id, metric), how
    much of the step grid is missing BEFORE any fill — n_buckets
    observed, n_missing grid holes, the longest run of consecutive
    missing buckets, and fill_ratio. Operationally this is what decides
    whether LOCF/interp output is trustworthy for a series, and it
    costs one window pass + one groupBy over the BUCKETED rows (never
    materializing the dense grid the fillers emit).

    Unlike the fillers, the report buckets EVERY row — a bucket whose
    points all carry NULL values still counts as observed (its
    timestamps exist; only its values are missing), exactly mirroring
    the oracle's bucket CTE, which groups on the bucket alone and never
    references value. The r6/r7 driver gate flagged gap_report while
    the local sweep stayed green; this removes the one cross-engine
    semantic asymmetry (the NOT NULL pre-filter) that could diverge on
    a fixture with NULL-valued points. Shuffle is also narrower: a
    distinct over three key columns, no count payload.
    """
    bucket = _bucket(step_s)
    bucketed = _by_series(series).select(
        "conv_id", "metric", bucket.alias("ts_epoch")
    ).distinct()
    w = Window.partitionBy("conv_id", "metric").orderBy("ts_epoch")
    gaps = bucketed.select(
        "conv_id", "metric", "ts_epoch",
        ((F.col("ts_epoch") - F.lag("ts_epoch").over(w)) / step_s - 1)
        .cast("bigint").alias("_hole"),
    )
    return (
        gaps.groupBy("conv_id", "metric")
        .agg(
            F.count(F.lit(1)).alias("n_observed"),
            F.coalesce(F.sum("_hole"), F.lit(0)).alias("n_missing"),
            F.coalesce(F.max("_hole"), F.lit(0)).alias("longest_gap"),
        )
        .select(
            "conv_id", "metric", "n_observed", "n_missing", "longest_gap",
            # Integer ppm, not round(double, 6): Spark rounds via exact
            # BigDecimal HALF_UP while DuckDB rounds in binary, so the two
            # can land on adjacent doubles.  Integer DIV is engine-exact.
            F.expr(
                "(n_observed * CAST(1000000 AS BIGINT))"
                " DIV (n_observed + n_missing)"
            ).cast("bigint").alias("coverage_ppm"),
        )
    )
