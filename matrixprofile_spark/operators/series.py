"""Transcripts → long-format metric series projection.

The reference's data model is a bare 1-D float64 array
(/root/reference/matrixprofile/core.py:78-102). In this engine a "series"
is a *derived, per-conversation, per-metric* group of rows of a long
DataFrame::

    series(conv_id string, metric string, idx bigint, ts_epoch bigint,
           value double)

Derived metrics (SURVEY.md §1.2):
- latency      = ts - lag(ts) over (conv_id order by turn_idx), seconds
- token_count  = length(text)
- turn_rate    = count(*) per 1-minute bucket (a grid series)

All pure DataFrame ops — window functions + projections, no UDFs — so
Catalyst prunes columns to exactly what each metric needs and the lag
window runs inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latency_series(transcripts: DataFrame) -> DataFrame:
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.select(
        "conv_id",
        F.lit("latency").alias("metric"),
        F.col("turn_idx").cast("bigint").alias("idx"),
        F.col("ts_epoch"),
        (F.col("ts_epoch") - F.lag("ts_epoch").over(w)).cast("double").alias("value"),
    )


def token_count_series(transcripts: DataFrame) -> DataFrame:
    return transcripts.select(
        "conv_id",
        F.lit("token_count").alias("metric"),
        F.col("turn_idx").cast("bigint").alias("idx"),
        F.col("ts_epoch"),
        F.length("text").cast("double").alias("value"),
    )


def turn_rate_series(transcripts: DataFrame, bucket_s: int = 60) -> DataFrame:
    """Turns per bucket. idx = bucket ordinal within the conversation."""
    bucket = (F.floor(F.col("ts_epoch") / bucket_s) * bucket_s).cast("bigint")
    g = transcripts.groupBy("conv_id", bucket.alias("ts_epoch")).agg(
        F.count(F.lit(1)).cast("double").alias("value")
    )
    w = Window.partitionBy("conv_id").orderBy("ts_epoch")
    return g.select(
        "conv_id",
        F.lit("turn_rate").alias("metric"),
        (F.row_number().over(w) - 1).cast("bigint").alias("idx"),
        "ts_epoch",
        "value",
    )


def project_series(transcripts: DataFrame) -> DataFrame:
    """The latency and token_count series, in the long schema.

    The plan is a SINGLE pass: one lag window, then explode of a per-row
    (metric, value) struct array — the upstream scan (or the synthetic
    generator's own window-sort) runs once, not once per metric, and the
    exchange carries only (conv_id, idx, ts_epoch, length(text)) — the
    projection is pushed below the window shuffle, never the text
    payload. A single metric (or turn_rate) comes from its own
    ``*_series`` function."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("bigint").alias("idx"),
        F.col("ts_epoch"),
        (F.col("ts_epoch") - F.lag("ts_epoch").over(w))
        .cast("double").alias("_lat"),
        F.length("text").cast("double").alias("_tok"),
    )
    mv = F.explode(
        F.array(
            F.struct(F.lit("latency").alias("metric"),
                     F.col("_lat").alias("value")),
            F.struct(F.lit("token_count").alias("metric"),
                     F.col("_tok").alias("value")),
        )
    ).alias("mv")
    return base.select("conv_id", mv, "idx", "ts_epoch").select(
        "conv_id", F.col("mv.metric").alias("metric"), "idx",
        "ts_epoch", F.col("mv.value").alias("value"),
    )


def top_tools(transcripts: DataFrame, bucket_s: int = 3600,
              k: int = 3) -> DataFrame:
    """Top-k most-invoked tools per time bucket (exact heavy hitters:
    count + rank — at this cardinality the exact groupBy IS the scale
    path, since the key space is |tools| × |buckets|, tiny regardless
    of row count; a sketch would only pay off with unbounded key
    domains). Deterministic ties: count desc, tool asc. Rank runs per
    bucket AFTER the count aggregation collapsed the data, so the
    window sees |tools| rows per bucket, not raw turns.
    """
    bucket = (F.floor(F.col("ts_epoch") / bucket_s) * bucket_s).cast("bigint")
    counts = (
        transcripts.where(F.col("tool").isNotNull())
        .groupBy(bucket.alias("bucket_epoch"), "tool")
        .agg(F.count(F.lit(1)).alias("n_calls"))
    )
    w = Window.partitionBy("bucket_epoch").orderBy(
        F.col("n_calls").desc(), F.col("tool").asc()
    )
    return (
        counts.select(
            "bucket_epoch", "tool", "n_calls",
            F.row_number().over(w).alias("rank"),
        ).where(F.col("rank") <= k)
    )


def metric_corr(transcripts: DataFrame) -> DataFrame:
    """Per-conversation Pearson correlation between the latency and
    token-count series (does a conversation slow down when turns get
    long?). Computed from EXPLICIT raw sums (n, Σx, Σy, Σxy, Σx², Σy²)
    rather than the engines' corr() aggregates: on integer-valued
    metrics every sum is exact in float64 regardless of partial-agg
    order, so the final one-expression formula is bit-deterministic and
    cross-engine comparable — corr() implementations (streaming central
    moments) are not. Zero-variance series yield NULL (0/0), same
    expression both sides. One codegen groupBy, one exchange.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    xy = transcripts.select(
        "conv_id",
        (F.col("ts_epoch") - F.lag("ts_epoch").over(w))
        .cast("double").alias("x"),
        F.length("text").cast("double").alias("y"),
    ).where(F.col("x").isNotNull())
    agg = xy.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy))
    return agg.select(
        "conv_id", n.cast("bigint").alias("n_turns"),
        F.round(num / den, 6).alias("corr_r6"),
    )


def acf(series: DataFrame, max_lag: int = 5) -> DataFrame:
    """Autocorrelation function per (conv_id, metric) for lags
    1..max_lag (Box–Jenkins diagnostics — the classical companion to
    the matrix profile's shape-based self-similarity). Pearson over the
    overlapping pairs (x_t, x_{t+lag}), from explicit exact sums like
    metric_corr, so the result is bit-deterministic cross-engine.

    All max_lag leads share ONE window sort (same partition/order
    spec); the per-lag pairs then stack via a struct-array explode, so
    the plan is one exchange for the window + the ACF groupBy — not
    max_lag self-joins.
    """
    w = Window.partitionBy("conv_id", "metric").orderBy("idx")
    # leads materialize as plain window columns first — Spark rejects
    # window expressions inside a generator — then stack via explode
    lead_cols = [
        F.lead("value", lag).over(w).alias(f"_y{lag}")
        for lag in range(1, max_lag + 1)
    ]
    base = series.select(
        "conv_id", "metric", F.col("value").alias("x"), *lead_cols)
    stacked = F.array(*[
        F.struct(F.lit(lag).alias("lag"), F.col(f"_y{lag}").alias("y"))
        for lag in range(1, max_lag + 1)
    ])
    pairs = (
        base.select("conv_id", "metric", "x",
                    F.explode(stacked).alias("p"))
        .select("conv_id", "metric", F.col("p.lag").alias("lag"),
                "x", F.col("p.y").alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    agg = pairs.groupBy("conv_id", "metric", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy))
    return agg.select(
        "conv_id", "metric", "lag", n.cast("bigint").alias("n_pairs"),
        F.round(num / den, 6).alias("acf_r6"),
    )


def seasonal_decompose(series: DataFrame, period: int = 12) -> DataFrame:
    """Additive seasonal decomposition by the classical moving-average
    + seasonal-means method: trend = centered (period+1)-point moving
    average (defined only where the window is full), seasonal = per-
    phase (idx mod period) mean of the detrended points, residual =
    detrended − seasonal.

    Cross-engine determinism trick: the detrended value is kept as the
    INTEGER-valued double D = (p+1)·x − Σwindow (exact: integer metric
    × integer window sum), so every downstream mean is an exact-sum
    division — no accumulation-order sensitivity — and only the final
    rounded projections divide back by (p+1). Two window passes that
    share nothing (series order, then phase partition) + a projection:
    two exchanges, all codegen.
    """
    h = period // 2
    width = 2 * h + 1
    w = Window.partitionBy("conv_id", "metric").orderBy("idx")
    frame = w.rowsBetween(-h, h)
    cnt = F.count("value").over(frame)
    s = F.sum("value").over(frame)
    base = series.select(
        "conv_id", "metric", "idx",
        F.col("value"),
        (F.col("idx") % period).alias("phase"),
        # D = width*x - S, exact whenever x is integer-valued; NULL at
        # partition edges (incomplete window) like the classical method
        F.when(cnt == width,
               width * F.col("value") - s).alias("d"),
        F.when(cnt == width, s).alias("s"),
    )
    wp = Window.partitionBy("conv_id", "metric", "phase")
    # emit EXACT integer numerators, no division or rounding anywhere:
    # trend = trend_xw / width, seasonal = seasonal_xwn / (width·n),
    # resid = resid_xwn / (width·n). round(rational, 6) is the
    # cross-engine half-boundary class that sank gap_report, and
    # trend=S/13, seasonal=Σd/(13m) are concentrated small-denominator
    # rationals; integer DIV was rejected too (Spark DIV truncates,
    # DuckDB // floors — they disagree on the negative residuals).
    sum_d = F.sum("d").over(wp)
    n_ph = F.count("d").over(wp)
    return base.select(
        "conv_id", "metric", "idx",
        F.col("s").cast("bigint").alias("trend_xw"),
        n_ph.cast("bigint").alias("n_phase"),
        sum_d.cast("bigint").alias("seasonal_xwn"),
        F.when(F.col("d").isNotNull(),
               F.col("d") * n_ph - sum_d)
        .cast("bigint").alias("resid_xwn"),
    )


def sax_symbols(series: DataFrame, paa_w: int = 4) -> DataFrame:
    """Quantile-adaptive SAX symbolization (PAA + per-series discrete
    quartile breakpoints), the classical companion representation to
    the matrix profile for indexing/motif pre-filtering (Lin et al.,
    "A Symbolic Representation of Time Series"; the reference's domain
    uses z-normal Gaussian breakpoints — this engine variant derives
    breakpoints from the series' own EXACT order statistics instead,
    which keeps every comparison integer-exact cross-engine and adapts
    to non-Gaussian metrics like token counts).

    Per (conv_id, metric): breakpoints t1<t2<t3 are the values at
    1-based sorted positions (k·n+3) DIV 4, k=1..3; each PAA segment of
    paa_w points (by idx order; ragged tail kept) maps to symbol
    1 + Σ_k [seg_sum > t_k · seg_cnt]  — the mean-vs-threshold compare
    cleared of division, so integer-valued metrics hash bit-exactly.

    Plan: one window pass for breakpoints (conditional min per rank
    position, same exchange as the rank), one groupBy for the segment
    sums, one broadcast-size join per series key. All codegen.
    """
    nn = series.where(F.col("value").isNotNull())
    wr = Window.partitionBy("conv_id", "metric").orderBy(
        "value", "idx")
    wn = Window.partitionBy("conv_id", "metric")
    ranked = nn.select(
        "conv_id", "metric", "idx", "value",
        F.row_number().over(wr).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    bps = ranked.groupBy("conv_id", "metric").agg(*[
        F.min(F.when(
            F.col("_rn") == F.expr(f"({k} * _n + 3) DIV 4"),
            F.col("value"))).alias(f"t{k}")
        for k in (1, 2, 3)
    ])
    segs = (
        nn.groupBy(
            "conv_id", "metric",
            F.expr(f"idx DIV {paa_w}").alias("seg_idx"))
        .agg(F.sum("value").alias("_sum"),
             F.count(F.lit(1)).alias("_cnt"))
    )
    j = segs.join(bps, ["conv_id", "metric"])
    sym = (
        F.lit(1)
        + F.when(F.col("_sum") > F.col("t1") * F.col("_cnt"), 1).otherwise(0)
        + F.when(F.col("_sum") > F.col("t2") * F.col("_cnt"), 1).otherwise(0)
        + F.when(F.col("_sum") > F.col("t3") * F.col("_cnt"), 1).otherwise(0)
    )
    return j.select(
        "conv_id", "metric", "seg_idx",
        F.col("_cnt").alias("n_points"),
        sym.cast("int").alias("symbol"),
    )


def rolling_corr(transcripts: DataFrame, w: int = 16) -> DataFrame:
    """Trailing-w-turn Pearson correlation pieces between the latency
    and token-count series per conversation — metric_corr's sliding
    twin (is the slowdown↔verbosity coupling drifting WITHIN the
    conversation?). Emits the EXACT integer components

        corr_num = n·Σxy − Σx·Σy
        den2_x   = n·Σx² − (Σx)²      den2_y = n·Σy² − (Σy)²

    (corr = corr_num / sqrt(den2_x·den2_y), left to the reader: the
    sqrt/division is the one step engines may round differently, so
    the operator emits the exact integers and stays hash-checkable).
    Only full windows are emitted. One window exchange, all codegen.
    """
    wo = Window.partitionBy("conv_id").orderBy("turn_idx")
    win = wo.rowsBetween(-(w - 1), 0)
    xy = transcripts.select(
        "conv_id", "turn_idx",
        (F.col("ts_epoch") - F.lag("ts_epoch").over(wo))
        .cast("double").alias("x"),
        F.length("text").cast("double").alias("y"),
    ).where(F.col("x").isNotNull())
    base = xy.select(
        "conv_id", "turn_idx",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
    )
    n = F.col("n")
    return base.where(n == w).select(
        "conv_id", "turn_idx",
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).alias("corr_num"),
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den2_x"),
        (n * F.col("syy") - F.col("sy") * F.col("sy")).alias("den2_y"),
    )
