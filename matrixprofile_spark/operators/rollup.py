"""Continuous-aggregate rollup cascade raw→1m→1h→1d with retention.

Generalizes the reference's `statistics` operator
(/root/reference/matrixprofile/algorithms/statistics.py:15-90) into tiered,
re-aggregable materialized rollups. Each tier row carries an **algebraic
sketch** — cnt/sum/min/max/sum_sq/first/last — chosen so that:

- `rollup_cascade` and the incremental path compute a coarser tier
  *exactly* from the finer one (sum of sums, min of mins,
  min_by(first, bucket), …), reading 60× / 24× less data per hop;
- mean = sum/cnt and population std = sqrt(sum_sq/cnt - (sum/cnt)^2) are
  recoverable at any tier without raw;
- results are independent of partition count / aggregation order for
  integer-valued metrics (exact float64 integer arithmetic), which is what
  makes the `local[8]` vs `local[32]` runs bit-identical.

Scale notes (100 TB): the groupBy key is (conv_id, metric, bucket) — high
cardinality and naturally well-distributed; partial aggregation
(map-side combine) means the shuffle carries one sketch row per
(group, map partition), not raw points. Hot conversations do NOT skew this
stage because the bucket component splits them across reducers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TIERS_S = {"1m": 60, "1h": 3600, "1d": 86400}


def _bucket(col: str, tier_s: int):
    return (F.floor(F.col(col) / tier_s) * tier_s).cast("bigint")


def _sketch_from_raw(points: DataFrame, *keys) -> DataFrame:
    """The seven sketch aggregates of non-NULL raw points per ``keys``."""
    v, ts = F.col("value"), F.col("ts_epoch")
    return points.where(v.isNotNull()).groupBy(*keys).agg(
        F.count(v).alias("cnt"),
        F.sum(v).alias("vsum"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.sum(v * v).alias("sum_sq"),
        F.min_by(v, ts).alias("vfirst"),
        F.max_by(v, ts).alias("vlast"),
    )


def rollup_from_raw(series: DataFrame, tier_s: int) -> DataFrame:
    """raw points → one sketch row per (conv_id, metric, bucket).

    NULL values (e.g. latency of a conversation's first turn) are dropped
    up front — a bucket with only NULLs contributes no sketch row, the
    same semantics the DuckDB oracle applies.
    """
    return _sketch_from_raw(series, "conv_id", "metric",
                            _bucket("ts_epoch", tier_s).alias("bucket_epoch"))


def rollup_cascade(finer: DataFrame, tier_s: int) -> DataFrame:
    """finer tier sketches → coarser tier sketches, exactly.

    first/last re-aggregate via min_by/max_by on the finer bucket_epoch —
    valid because buckets nest (tier_s is a multiple of the finer tier).
    """
    b = F.col("bucket_epoch")
    return (
        finer.groupBy(
            "conv_id", "metric", _bucket("bucket_epoch", tier_s).alias("bucket_epoch")
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min_by(F.col("vfirst"), b).alias("vfirst"),
            F.max_by(F.col("vlast"), b).alias("vlast"),
        )
    )


def build_cascade(series: DataFrame) -> dict[str, DataFrame]:
    """The full raw→1m→1h→1d chain. Each tier derives from the previous."""
    r1m = rollup_from_raw(series, TIERS_S["1m"])
    r1h = rollup_cascade(r1m, TIERS_S["1h"])
    r1d = rollup_cascade(r1h, TIERS_S["1d"])
    return {"1m": r1m, "1h": r1h, "1d": r1d}


def cascade_union(series: DataFrame) -> DataFrame:
    """All three tiers as ONE DataFrame tagged by a `tier` column.

    One aggregation: every point is tagged with its three
    (tier, bucket_epoch) pairs and a single groupBy computes each
    tier's sketch straight from raw, so the raw stream and its one
    exchange run once. For integer-valued metrics it bit-equals
    `build_cascade` per tier (exact float64 sums, see above)."""
    tags = F.array(*[F.struct(F.lit(t).alias("tier"),
                              _bucket("ts_epoch", s).alias("bucket_epoch"))
                     for t, s in TIERS_S.items()])
    return _sketch_from_raw(
        series.select("conv_id", "metric", "ts_epoch", "value", F.inline(tags)),
        "tier", "conv_id", "metric", "bucket_epoch")


def _parquet_files(path: str):
    """The parquet data files under ``path``. Hadoop's ``.crc`` side
    files and ``_SUCCESS`` markers are not data."""
    for root, _, files in os.walk(path):
        yield from (os.path.join(root, f) for f in files
                    if f.endswith(".parquet"))


def parquet_bytes(path: str) -> int:
    """Bytes in the parquet data files under ``path``."""
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def parquet_rows(path: str) -> int:
    """Rows in the parquet data files under ``path``, summed from their
    footers: no Spark job, and an empty directory sums to 0."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _write_table(df: DataFrame, path: str, part_col: str | None = None,
                 time_cols: tuple[str, ...] = ("bucket_epoch",)) -> None:
    """Overwrite ``path`` with ``df`` as parquet: the one writer for every
    point and tier table the engine keeps.

    Rows are sorted within each task by (``part_col``, conv_id, metric,
    ``time_cols``), so each file holds conv_id/metric runs with rising
    times. Files are zstd with v2 pages, and the dictionary is off only
    for the sorted time columns: inside a run a time column rises in
    small regular steps, which DELTA_BINARY_PACKED stores in a few bits
    a value, while a dictionary spends an index into all of the file's
    distinct times on every value (and the raw ``ts_epoch``, near-unique,
    overflows it into plain). The double sketch columns repeat values
    across buckets and keep their dictionaries; with every dictionary
    off the tiers grow back to 4.18 B/point. The options are per write,
    so writes the engine does not own keep Spark's defaults.

    tier_cascade's tiers (315,720 points, 111,812 tier rows), bytes per
    point by column with Spark's defaults (snappy, v1, dictionary):

    =============  =======
    column         B/point
    =============  =======
    sum_sq         1.274
    bucket_epoch   0.768
    vsum           0.678
    vlast          0.321
    vmin           0.295
    vfirst         0.285
    vmax           0.266
    cnt            0.234
    conv_id        0.051
    metric         0.015
    footers        0.041
    total          4.24
    =============  =======

    zstd alone gives 3.32; zstd, v2 and a delta-coded ``bucket_epoch``
    (0.768 → 0.248) give 3.01. Level 9 buys only 3.28 over 3.32, and
    v2 alone nothing. The raw day table falls from 5.79 to 2.13 B/point
    with delta-coded ``idx`` and ``ts_epoch``."""
    keys = ([part_col] if part_col else []) + ["conv_id", "metric",
                                               *time_cols]
    w = (df.sortWithinPartitions(*keys).write.mode("overwrite")
         .option("compression", "zstd")
         .option("parquet.writer.version", "v2"))
    for c in time_cols:
        w = w.option(f"parquet.enable.dictionary#{c}", "false")
    if part_col:
        w = w.partitionBy(part_col)
    w.parquet(path)


def materialize_cascade(
    series: DataFrame, path: str, files_per_tier: int | None = None,
) -> dict[str, DataFrame]:
    """Materialize raw→1m→1h→1d in ONE Spark action.

    The chained per-tier loop (write 1m, read 1m, write 1h, …) pays a
    job-scheduling + commit + re-read constant per tier that does not
    shrink with cluster size — measured ~3 s core-count-invariant on
    the scaling probe, the single biggest drag on cascade scaling
    efficiency. Here the one-pass tier aggregation (`cascade_union`)
    writes once, `partitionBy("tier")`, so all constants are paid once
    and no tier is re-read from disk. Returns the read-back per-tier
    DataFrames (partition-pruned on `tier`)."""
    out = cascade_union(series)
    if files_per_tier is not None:
        # round-robin into N writer tasks; each writes one file per tier
        # dir it holds rows for, so the commit fan-in is bounded at
        # ~3·N files without serializing any single tier into one task
        out = out.repartition(files_per_tier)
    # sorted and encoded by the one table writer (`_write_table`)
    _write_table(out, path, part_col="tier")
    spark = series.sparkSession
    # explicit schema: an all-empty input writes zero part files and
    # schema inference would throw; the schema is statically known here
    table = spark.read.schema(out.schema).parquet(path)
    return {t: table.where(F.col("tier") == t).drop("tier")
            for t in ("1m", "1h", "1d")}


def invalidated_keys(late: DataFrame, tier_s: int) -> DataFrame:
    """Distinct (conv_id, metric, bucket) groups a late batch touches —
    the continuous aggregate's invalidation log entries."""
    return (
        late.where(F.col("value").isNotNull())
        .select("conv_id", "metric",
                _bucket("ts_epoch", tier_s).alias("bucket_epoch"))
        .distinct()
    )


def refresh_rollup(base: DataFrame, raw: DataFrame, late: DataFrame,
                   tier_s: int, raw_includes_late: bool = False) -> DataFrame:
    """Invalidate-and-recompute refresh of a materialized rollup under
    late-arriving data (the TimescaleDB continuous-aggregate policy).

    A bucket's first/last sketch slots cannot be merged from two partial
    sketches without carrying their timestamps, so late data does NOT
    merge into the base sketch — it invalidates the touched
    (conv_id, metric, bucket) groups and those buckets recompute from
    raw∪late, while every untouched bucket is carried over verbatim.
    The refreshed table must bit-equal a from-scratch rollup of the full
    data (the oracle).

    ``raw`` is the point set the BASE was built from — it must NOT
    already contain the late rows, or every late point double-counts in
    the recomputed buckets. If the caller re-reads a post-ingest raw
    table into which the late batch has already landed, pass
    ``raw_includes_late=True`` and the union is skipped.

    Scale shape: the invalidation key set is per-batch-small →
    broadcast; the base table sheds invalidated rows via a broadcast
    anti-join (no shuffle of base), and the raw re-read is a broadcast
    semi-join that prunes at the scan (bucket ⊆ the raw table's
    time-partition column, so partition pruning + runtime filtering
    keep the re-scan proportional to the invalidated window, not to
    raw)."""
    keys = invalidated_keys(late, tier_s)
    on = ["conv_id", "metric", "bucket_epoch"]
    kept = base.join(F.broadcast(keys), on, "left_anti")
    raw_all = raw if raw_includes_late else raw.unionByName(late)
    affected = (
        raw_all.withColumn("bucket_epoch", _bucket("ts_epoch", tier_s))
        .join(F.broadcast(keys), on, "left_semi")
        .drop("bucket_epoch")
    )
    return kept.unionByName(rollup_from_raw(affected, tier_s))


def with_derived_stats(rollup: DataFrame) -> DataFrame:
    """mean/std recovered from the sketch (no raw re-scan).

    std is population std, matching the reference's moving_avg_std
    (/root/reference/matrixprofile/cycore.pyx:105-155 uses population
    variance).
    """
    mean = F.col("vsum") / F.col("cnt")
    var = F.col("sum_sq") / F.col("cnt") - mean * mean
    return rollup.withColumn("mean", mean).withColumn(
        "std", F.sqrt(F.greatest(var, F.lit(0.0)))
    )


def retention_union(
    tiers: dict[str, DataFrame],
    raw: DataFrame,
    now_epoch: int,
    keep_raw_s: int,
    keep_1m_s: int,
    keep_1h_s: int,
) -> DataFrame:
    """Retention policy as a unified read view.

    raw points newer than now-keep_raw_s; 1m buckets for the older window
    up to keep_1m_s; 1h beyond that; 1d forever. At scale this is a
    partition-pruned union over the tier tables (each predicate lands on
    the tables' bucket/day partition column); DELETEs happen in the
    maintenance job (see streaming.incremental.apply_retention).
    """
    r1m, r1h, r1d = tiers["1m"], tiers["1h"], tiers["1d"]
    c = F.col("bucket_epoch")
    raw_part = (
        raw.where(
            (F.col("ts_epoch") >= now_epoch - keep_raw_s)
            & F.col("value").isNotNull()
        )
        .select(
            "conv_id",
            "metric",
            F.col("ts_epoch").alias("bucket_epoch"),
            F.lit("raw").alias("tier"),
            F.lit(1).cast("bigint").alias("cnt"),
            F.col("value").alias("vsum"),
        )
    )
    m_part = r1m.where(
        (c < now_epoch - keep_raw_s) & (c >= now_epoch - keep_1m_s)
    ).select("conv_id", "metric", "bucket_epoch", F.lit("1m").alias("tier"), "cnt", "vsum")
    h_part = r1h.where(
        (c < now_epoch - keep_1m_s) & (c >= now_epoch - keep_1h_s)
    ).select("conv_id", "metric", "bucket_epoch", F.lit("1h").alias("tier"), "cnt", "vsum")
    d_part = r1d.where(c < now_epoch - keep_1h_s).select(
        "conv_id", "metric", "bucket_epoch", F.lit("1d").alias("tier"), "cnt", "vsum"
    )
    return raw_part.unionByName(m_part).unionByName(h_part).unionByName(d_part)


def histogram_rollup(series: DataFrame, bucket_s: int = 3600,
                     bin_w: float = 100.0) -> DataFrame:
    """Fixed-bin value histogram per (conv_id, metric, time bucket) —
    the mergeable distribution sketch the moment-based rollup sketches
    (sum/sum_sq) can't provide: a coarser tier's histogram is the
    BIN-WISE SUM of the finer tier's, so histograms cascade raw→1m→1h→1d
    exactly like counts (tested as an invariant). One codegen groupBy;
    bin = floor(value / bin_w).
    """
    v = F.col("value")
    bucket = (F.floor(F.col("ts_epoch") / bucket_s) * bucket_s).cast("bigint")
    return (
        series.where(v.isNotNull())
        .groupBy(
            "conv_id", "metric", bucket.alias("bucket_epoch"),
            F.floor(v / bin_w).cast("bigint").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_cascade(hist: DataFrame, bucket_s: int) -> DataFrame:
    """Coarsen a histogram tier: re-bucket the time axis, sum bins."""
    bucket = (
        F.floor(F.col("bucket_epoch") / bucket_s) * bucket_s
    ).cast("bigint")
    return (
        hist.groupBy(
            "conv_id", "metric", bucket.alias("bucket_epoch"), "bin"
        ).agg(F.sum("cnt").alias("cnt"))
    )


def rollup_quantiles(series: DataFrame, bucket_s: int = 3600,
                     pcts: tuple[int, ...] = (50, 95, 99)) -> DataFrame:
    """EXACT discrete quantiles per (metric, time bucket) across all
    conversations — the latency-SLO rollup (p50/p95/p99) the
    moment sketches can't answer. Definition: the q-quantile is the
    value at 1-based sorted position ceil(q·n/100) = (q·n + 99) DIV 100
    (lower discrete quantile, ties broken by (value, conv_id, idx) so
    the picked ROW is unique) — integer position arithmetic, no float
    interpolation, hash-exact across engines.

    Plan: one groupBy-free window pass — rank and count share the same
    (metric, bucket) hash partitioning, so the whole operator is ONE
    exchange; the pcts explode multiplies only the |pcts| picked rows,
    not the input. At 100 TB the exact sort-within-bucket is the cost —
    that is inherent to exact quantiles; for approximate SLOs at
    unbounded scale use histogram_rollup (mergeable) and read quantiles
    off the bins.
    """
    bucket = (F.floor(F.col("ts_epoch") / bucket_s) * bucket_s).cast("bigint")
    part = ["metric", "bucket_epoch"]
    wr = Window.partitionBy(*part).orderBy("value", "conv_id", "idx")
    wn = Window.partitionBy(*part)
    base = (
        series.where(F.col("value").isNotNull())
        .select("conv_id", "metric", "idx", "value",
                bucket.alias("bucket_epoch"))
        .select(*part, "value",
                F.row_number().over(wr).alias("_rn"),
                F.count(F.lit(1)).over(wn).alias("_n"))
    )
    picks = F.array(*[F.lit(p) for p in pcts])
    return (
        base.select(
            *part, "value", "_rn", "_n", F.explode(picks).alias("pct"))
        .where(F.col("_rn") == F.expr("(pct * _n + 99) DIV 100"))
        .select("metric", "bucket_epoch", "pct",
                F.col("_n").alias("n_obs"),
                F.col("value").alias("q_value"))
    )


def hist_quantiles(hist: DataFrame,
                   pcts: tuple[int, ...] = (50, 95, 99)) -> DataFrame:
    """Quantile read-off over a histogram tier — the SCALE path for
    SLO quantiles that rollup_quantiles' exact per-bucket sort can't
    afford at unbounded cardinality: histograms are mergeable
    (raw→1m→1h→1d bin-wise sums), so any tier answers p50/p95/p99 at
    bin granularity with one window pass.

    Per (conv_id, metric, bucket_epoch) and percentile p: the answer is
    the bin containing the item at 1-based rank (p·n + 99) DIV 100 —
    the first bin whose cumulative count reaches the rank. All integer
    arithmetic (ranks, cumulative counts, bin ids): hash-exact across
    engines. The cumulative window and the total share one hash
    exchange on the group key; the pcts explode multiplies only
    candidate rows, and the (cum ≥ rank ∧ cum − cnt < rank) predicate
    keeps exactly ONE row per (group, pct). All codegen.
    """
    part = ["conv_id", "metric", "bucket_epoch"]
    wb = (
        Window.partitionBy(*part).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(*part)
    base = hist.select(
        *part, "bin", "cnt",
        F.sum("cnt").over(wb).alias("_cum"),
        F.sum("cnt").over(wn).alias("_n"),
    )
    picks = F.array(*[F.lit(p) for p in pcts])
    rank = F.expr("(pct * _n + 99) DIV 100")
    return (
        base.select(*part, "bin", "cnt", "_cum", "_n",
                    F.explode(picks).alias("pct"))
        .where((F.col("_cum") >= rank) & (F.col("_cum") - F.col("cnt") < rank))
        .select(*part, "pct",
                F.col("_n").cast("bigint").alias("n_obs"),
                F.col("bin").alias("q_bin"))
    )
