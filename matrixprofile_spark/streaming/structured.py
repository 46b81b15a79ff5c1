"""Structured Streaming driver for the raw→1m rollup stage.

The reference is a batch library (no streaming), and the engine's primary
incremental path is the manifest-based resumable rollup
(streaming/incremental.py) because its watermarks are deterministic. This
module is the Structured Streaming variant of the same stage for
deployments that want a continuously-running raw→1m job: file-source
stream → event-time window aggregation → sink. At scale the source would
be an Iceberg/Kafka stream and the sink an Iceberg table with
`trigger(availableNow)` micro-batches; here the source is a parquet
directory and the sink is validated through the in-memory table.

Semantics: identical to operators/rollup.rollup_from_raw for the
streaming-safe sketch columns. `first/last` (min_by/max_by) are kept out
of the streaming aggregate — they are not order-stable under streaming
retraction — and are recovered by the batch compactor when the 1m tier is
rolled into 1h (the cascade re-aggregates from the finer tier, so nothing
is lost).

Every operator here is ``_source → plan → _drain``: ``_source`` is the
one parquet file source; the operator builds its plan on it; ``_drain``
runs the plan to completion (``availableNow``) into the memory sink
``query_name`` — raw emitted rows stay readable as
``spark.table(query_name)`` — while pinning the shuffle-partition count
and a tmpfs checkpoint that it restores and removes whether the query
returns or fails. Snapshot-emitting stateful operators then keep each
key's highest-``upd`` snapshot via ``_latest``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SERIES_SCHEMA = (
    "conv_id string, metric string, idx long, ts_epoch long, value double"
)


def _source(spark: SparkSession, schema: str, path: str,
            files_per_trigger: int = 8) -> DataFrame:
    """The parquet file source every operator reads: ``schema`` is fixed
    up front (a stream cannot infer it) and each micro-batch takes at
    most ``files_per_trigger`` new files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def _drain(out: DataFrame, query_name: str, mode: str,
           partitions: int = 16) -> DataFrame:
    """Run ``out`` to the end of its available input (``availableNow``)
    into the memory sink ``query_name`` with output ``mode``, and return
    ``spark.table(query_name)``.

    Pins spark.sql.shuffle.partitions to ``partitions`` for the query's
    lifetime. A stateful stream materializes one state-store instance per
    shuffle partition in EVERY micro-batch; with the session's
    batch-tuned count (32-128) and a handful of keys, per-batch
    state-store open/commit dominates wall time ~10×. The conf is read at
    query START, so pinning it for the drain sizes the state store to
    the key count without touching later batch plans.
    (A production job sizes this to its key cardinality once — the
    partition count is baked into the checkpoint.)

    Per-batch state-store commits also fsync the checkpoint, so it goes
    to tmpfs (/dev/shm) when the host has one. That is RAM, so the
    directory is removed, and the partition count restored, in a
    ``finally``: also when the query fails."""
    spark = out.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt = (tempfile.mkdtemp(prefix=f"ckpt_{query_name}_", dir="/dev/shm")
            if os.path.isdir("/dev/shm") else None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        wq = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .trigger(availableNow=True)
        )
        if ckpt is not None:
            wq = wq.option("checkpointLocation", ckpt)
        wq.start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(query_name)


def _latest(snapshots: DataFrame, *keys: str) -> DataFrame:
    """The highest-``upd`` snapshot per ``keys`` — the upsert a
    production sink keyed by ``keys`` would perform."""
    w = Window.partitionBy(*keys).orderBy(F.desc("upd"))
    return (snapshots.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1))


def stream_stateful_stats(
    spark: SparkSession,
    src_path: str,
    query_name: str = "stream_stateful_stats",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-series
    running statistics whose state (cnt/sum/min/max/sum_sq) carries
    ACROSS micro-batches — the engine's `statistics` operator
    (reference statistics.py:15-90) as a continuously-updating stream.

    The sketch is commutative/associative, so arbitrary file→batch
    ordering cannot change the final state (and integer-valued metrics
    make the float64 sums exact — the end state hash-matches the batch
    oracle). Every state update emits a snapshot tagged with a
    monotonically increasing `upd`; the caller keeps the last snapshot
    per key. A production job would use update-mode into an upsert sink
    keyed by (conv_id, metric)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "conv_id string, metric string, upd int, cnt long, vsum double, "
        "vmin double, vmax double, sum_sq double"
    )
    state_schema = (
        "cnt long, vsum double, vmin double, vmax double, sum_sq double, "
        "upd int"
    )

    def fn(key, pdfs, state):
        if state.exists:
            cnt, vsum, vmin, vmax, ssq, upd = state.get
        else:
            cnt, vsum, vmin, vmax, ssq, upd = 0, 0.0, None, None, 0.0, 0
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            if not len(vals):
                continue
            cnt += int(len(vals))
            vsum += float(vals.sum())
            ssq += float((vals * vals).sum())
            bmin, bmax = float(vals.min()), float(vals.max())
            vmin = bmin if vmin is None else min(vmin, bmin)
            vmax = bmax if vmax is None else max(vmax, bmax)
        upd += 1
        state.update((cnt, vsum, vmin, vmax, ssq, upd))
        yield pd.DataFrame([{
            "conv_id": key[0], "metric": key[1], "upd": upd, "cnt": cnt,
            "vsum": vsum, "vmin": vmin, "vmax": vmax, "sum_sq": ssq,
        }])

    snapshots = (
        _source(spark, SERIES_SCHEMA, src_path)
        .groupBy("conv_id", "metric")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    all_snaps = _drain(snapshots, query_name, "update", partitions=8)
    return _latest(all_snaps, "conv_id", "metric").select(
        "conv_id", "metric", "cnt", "vsum", "vmin", "vmax", "sum_sq",
        (F.col("vsum") / F.col("cnt")).alias("mean"))


def stream_mpx_incremental(
    spark: SparkSession,
    src_path: str,
    w: int = 16,
    minlag: int = 4,
    query_name: str = "stream_mpx_incremental",
    files_per_trigger: int = 1,
    max_pending: int = 4096,
) -> DataFrame:
    """STAMPI-style incremental matrix profile as a STATEFUL stream.

    The reference computes profiles in one batch pass (cympx.pyx:30-119);
    the published incremental variant (STAMPI, Yeh et al., "Matrix
    Profile I", ICDM 2016 §V) extends a profile point-by-point: each new
    subsequence's distance profile against the history both assigns the
    new index its nearest neighbor and can only *improve* old indices'
    matches (old windows never change under append), so the merge is
    exact, not approximate. Here the unit of growth is a micro-batch:
    per-series state carries (pending out-of-order points, contiguous
    prefix, correlation-max profile) across batches via
    applyInPandasWithState. Points may arrive in ANY file/batch order —
    the profile only advances over the contiguous idx prefix, so the
    final state is invariant to arrival order and must equal the batch
    MPX / brute-force oracle exactly.

    Numeric contract matches the engine's mpx and its DuckDB oracle:
    pairs require abs(i-j) > minlag; c = (qt - w·mu_i·mu_j)/(w·s_i·s_j)
    with population std, either-flat-window → c = 0; dist =
    sqrt(2w(1-min(c,1))).

    Cost: each arriving point is one O(n·w) convolve against the prefix
    — O(n²·w) per series overall, the same work as one batch self-join,
    paid incrementally. State is O(n) per series (the `vals` prefix is
    algorithm-inherent: a growing matrix profile needs its history); the
    out-of-order *pending* buffer, by contrast, is bounded: a point that
    never arrives would otherwise stall the prefix and grow pending
    forever, so once pending exceeds ``max_pending`` the hole is declared
    lost and LOCF-filled (the engine's gapfill_locf policy; a leading
    hole with no prior observation backfills from the next one, NOCB) up
    to the next pending index, and an explicitly marked audit row
    (is_audit = TRUE, idx = -1, dist = points filled so far — a count,
    not a distance) is emitted for the series. The complete-drain oracle
    never triggers the cap, so its exact-match contract is unchanged. At
    scale the sink would be an upsert store keyed by (conv_id, idx)
    instead of the in-memory snapshot table used for validation here.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("conv_id string, idx long, dist double, upd int, "
                  "is_audit boolean")
    state_schema = (
        "pend_idx array<long>, pend_val array<double>, "
        "vals array<double>, cmax array<double>, upd int, filled long"
    )
    NEG = -2.0  # below any correlation; "no partner yet" sentinel

    def fn(key, pdfs, state):
        if state.exists:
            pend_idx, pend_val, vals, cmax, upd, filled = state.get
            pend = dict(zip(pend_idx, pend_val))
            vals = list(vals)
            cmax = list(cmax)
        else:
            pend, vals, cmax, upd, filled = {}, [], [], 0, 0
        for pdf in pdfs:
            for i, v in zip(pdf["idx"].to_numpy(),
                            pdf["value"].to_numpy(dtype="d")):
                i = int(i)
                if i >= len(vals) and i not in pend:
                    pend[i] = float(v)
        # advance the contiguous prefix
        grew = False
        while len(vals) in pend:
            vals.append(pend.pop(len(vals)))
            grew = True
        # bounded-state guarantee: a hole the stream never fills must not
        # stall the series while pending grows without limit — over the
        # cap, LOCF-fill the gap to the next arrived index and drain
        # (a leading hole has no last observation, so it backfills from
        # the next one — NOCB — rather than fabricating zeros)
        while len(pend) > max_pending:
            nxt = min(pend)
            fill_v = vals[-1] if vals else pend[nxt]
            filled += nxt - len(vals)
            vals.extend([fill_v] * (nxt - len(vals)))
            grew = True
            while len(vals) in pend:
                vals.append(pend.pop(len(vals)))
        n = len(vals)
        m = max(0, n - w + 1)
        if grew and m > 0:
            a = np.asarray(vals, dtype="d")
            csum = np.concatenate(([0.0], np.cumsum(a)))
            csq = np.concatenate(([0.0], np.cumsum(a * a)))
            mu = (csum[w:] - csum[:-w]) / w
            var = (csq[w:] - csq[:-w]) / w - mu * mu
            s = np.sqrt(np.maximum(var, 0.0))
            prof = np.asarray(cmax, dtype="d")
            prof = np.concatenate(
                (prof, np.full(m - len(prof), NEG)))
            for j in range(len(cmax), m):
                lim = j - minlag  # partners i < lim (abs(i-j) > minlag)
                if lim <= 0:
                    continue
                wj = a[j:j + w]
                qt = np.convolve(a[:lim + w - 1], wj[::-1], "valid")
                c = np.zeros(lim)
                ok = (s[:lim] > 0) & (s[j] > 0)
                if ok.any():
                    c[ok] = (qt[ok] - w * mu[j] * mu[:lim][ok]) / (
                        w * s[j] * s[:lim][ok])
                np.maximum(prof[:lim], c, out=prof[:lim])
                prof[j] = max(prof[j], c.max())
            cmax = prof.tolist()
        upd += 1
        pi = sorted(pend)
        state.update((pi, [pend[i] for i in pi], vals, cmax, upd, filled))
        prof = np.asarray(cmax, dtype="d")
        have = prof > NEG
        idx = np.arange(len(prof), dtype="int64")[have]
        dist = np.sqrt(2.0 * w * (1.0 - np.minimum(prof[have], 1.0)))
        is_audit = np.zeros(len(idx), dtype=bool)
        if filled:
            # audit row, explicitly marked (is_audit=True): idx=-1,
            # dist = points LOCF-filled so far — a COUNT, not a
            # distance; the marker keeps consumers reading
            # spark.table(query_name) from misreading overloaded
            # idx/dist semantics
            idx = np.concatenate(([-1], idx))
            dist = np.concatenate(([float(filled)], dist))
            is_audit = np.concatenate(([True], is_audit))
        if not len(idx):  # nothing discoverable yet this batch
            return
        yield pd.DataFrame({
            "conv_id": np.full(len(idx), key[0], dtype=object),
            "idx": idx,
            "dist": dist,
            "upd": np.full(len(idx), upd, dtype="int64"),
            "is_audit": is_audit,
        })

    snapshots = (
        _source(spark, "conv_id string, idx long, value double", src_path,
                files_per_trigger)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    all_snaps = _drain(snapshots, query_name, "update", partitions=8)
    # is_audit rows are gap-fill audits (see docstring), surfaced via
    # spark.table(query_name), not mixed into the profile result
    return (
        _latest(all_snaps, "conv_id", "idx")
        .where(~F.col("is_audit"))
        .select("conv_id", "idx", "dist")
    )


def _window_rollup(spark: SparkSession, src_path: str, tier_s: int,
                   delay: str) -> DataFrame:
    """The streaming raw→``tier_s`` aggregate shared by both emission
    modes: non-NULL values per (conv_id, metric, event-time window)
    under a ``delay`` watermark, with the streaming-safe sketch columns
    (see the module docstring for why first/last are left out)."""
    v = F.col("value")
    return (
        _source(spark, SERIES_SCHEMA, src_path).where(v.isNotNull())
        .withColumn("ts", F.timestamp_seconds(F.col("ts_epoch")))
        .withWatermark("ts", delay)
        .groupBy("conv_id", "metric",
                 F.window("ts", f"{tier_s} seconds").alias("win"))
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("vsum"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
            F.sum(v * v).alias("sum_sq"),
        )
        .select(
            "conv_id", "metric",
            F.unix_timestamp(F.col("win.start")).alias("bucket_epoch"),
            "cnt", "vsum", "vmin", "vmax", "sum_sq",
        )
    )


def stream_rollup_1m(
    spark: SparkSession,
    src_path: str,
    query_name: str = "stream_rollup_1m",
    tier_s: int = 60,
) -> DataFrame:
    """Run the raw→1m rollup as a Structured Streaming job over a parquet
    file source, processing all available data (`availableNow`), and
    return the finalized result.

    `complete` output mode + in-memory sink: every window is emitted at
    end-of-stream (append mode would hold back windows newer than the
    final watermark — wrong for a drain-the-backlog run). A production
    continuous job would use append mode + watermark into Iceberg.
    """
    agg = _window_rollup(spark, src_path, tier_s, "1 hour")
    return _drain(agg, query_name, "complete")


def stream_sessionize(
    spark: SparkSession,
    src_path: str,
    query_name: str = "stream_sessions",
    gap_s: int = 180,
) -> DataFrame:
    """Gap-threshold sessionization as a Structured Streaming job using
    the native ``session_window`` event-time aggregation — the streaming
    twin of operators.temporal.sessionize, which it must equal row-wise
    (sessions keyed by start_ts; the batch op's per-conversation ordinal
    needs total order and has no streaming meaning).

    Semantics alignment: Spark's session window spans [start,
    last_event + g] INCLUSIVE, so an event at exactly last + g still
    merges — i.e. a split happens iff t2 - t1 > g, exactly the batch
    op's "gap > gap_s splits". State per session is O(1), bounded
    like the rollup's; the watermark ages sessions out of the store in
    a continuous run, while this drain-the-backlog entry point uses
    complete mode + memory sink for the same reason stream_rollup_1m
    does.
    """
    src = _source(spark, "conv_id string, turn_idx long, ts_epoch long",
                  src_path)
    agg = (
        src.withColumn("ts", F.timestamp_seconds(F.col("ts_epoch")))
        .withWatermark("ts", "1 hour")
        .groupBy("conv_id",
                 F.session_window("ts", f"{gap_s} seconds").alias("win"))
        .agg(
            F.min("ts_epoch").alias("start_ts"),
            F.max("ts_epoch").alias("end_ts"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .select(
            "conv_id", "start_ts", "end_ts", "n_turns",
            (F.col("end_ts") - F.col("start_ts")).alias("span_s"),
        )
    )
    return _drain(agg, query_name, "complete")


def stream_rollup_1m_append(
    spark: SparkSession,
    src_path: str,
    query_name: str = "stream_rollup_append",
    tier_s: int = 60,
    delay: str = "10 minutes",
) -> DataFrame:
    """The PRODUCTION emission mode for the raw→1m stream: append +
    watermark. A window row is emitted exactly once, when the watermark
    (max event time seen in prior batches, minus ``delay``) passes its
    end — after which its state is dropped and later arrivals for it
    land in the late-data path (batch refresh_rollup covers those).
    stream_rollup_1m's complete-mode twin re-emits everything per
    trigger, which is right for drain-the-backlog verification but
    unbounded for a continuous job; this one's state and output are
    both watermark-bounded. Windows newer than the final watermark are
    STILL IN STATE when an availableNow drain ends — by design; callers
    needing them flush via a final complete-mode drain or the batch
    rollup.

    ARRIVAL CONTRACT (the standard watermark contract, stated
    explicitly because a parquet directory makes it easy to violate):
    a row older than the watermark already advanced by PRIOR batches is
    dropped from its window — that is the late-data path, not a bug.
    The drained output equals the below-watermark rollup of ALL rows
    only when arrival order respects the delay (as a Kafka-style
    roughly-ordered source does). A time-disordered multi-file backlog
    drained in several batches WILL shed its out-of-order tail; callers
    wanting exact backlog semantics feed one batch (single file) or a
    time-sliced, mtime-ordered layout.
    """
    agg = _window_rollup(spark, src_path, tier_s, delay)
    return _drain(agg.drop("sum_sq"), query_name, "append")


def stream_dedup_turns(
    spark: SparkSession,
    src_path: str,
    query_name: str = "stream_dedup_turns",
    delay: str = "1 hour",
    files_per_trigger: int = 8,
) -> DataFrame:
    """Exactly-once turn ingestion under at-least-once delivery:
    dropDuplicatesWithinWatermark on the turn's natural key emits each
    (conv_id, turn_idx) once — immediately, since the watermark bounds
    how late a redelivery can arrive — and evicts its dedup state once
    the watermark passes, so state is O(keys within the watermark
    horizon), not O(all keys ever). The emitted set after an
    availableNow drain is exactly the distinct turns (redeliveries are
    byte-identical rows, so which copy wins is immaterial) PROVIDED no
    original row arrives behind a watermark earlier batches already
    advanced — originals below the watermark are dropped as late, the
    same arrival contract as every watermarked operator. For a
    historical backfill (time-disordered files), size ``delay`` to the
    backlog's span; a continuous job sizes it to the real redelivery
    horizon.
    """
    src = _source(
        spark, "conv_id string, turn_idx long, ts_epoch long, text string",
        src_path, files_per_trigger)
    out = (
        src.withColumn("ts", F.timestamp_seconds(F.col("ts_epoch")))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
        .select("conv_id", "turn_idx", "ts_epoch", "text")
    )
    return _drain(out, query_name, "append")
