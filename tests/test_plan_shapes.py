"""Physical-plan shape regressions for scale-critical operators.

These pin the plan PROPERTIES the 100-TB story depends on (exchange
counts, broadcast-vs-shuffle join choices), not the full plan text —
so a Spark upgrade can re-order operators without breaking them, but a
code change that silently reintroduces a shuffle or a cartesian fails
loudly.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from matrixprofile_spark.operators import rollup, segments
from matrixprofile_spark.operators import series as S
from matrixprofile_spark.sources.synth import synth_transcripts


@pytest.fixture(scope="module")
def ser(spark):
    return S.project_series(synth_transcripts(spark, 40))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decode_segments_has_no_exchange(spark):
    """Chunks decode independently since the idx stream travels inside
    each chunk — decode over an already-materialized segments table must
    plan as scan → decode with ZERO exchanges."""
    pdf = pd.DataFrame({
        "conv_id": "c0", "metric": "m",
        "idx": np.arange(64, dtype=np.int64),
        "ts_epoch": 1_600_000_000 + 60 * np.arange(64, dtype=np.int64),
        "value": np.arange(64, dtype=float),
    })
    seg = segments.encode_segments(spark.createDataFrame(pdf), 16)
    seg_tbl = spark.createDataFrame(seg.toPandas(), schema=seg.schema)
    plan = _plan(segments.decode_segments(seg_tbl))
    assert "Exchange" not in plan, plan


def test_refresh_rollup_joins_are_broadcast(ser):
    """The invalidation key set must broadcast: base sheds invalidated
    buckets via a broadcast anti-join and the raw re-scan is a broadcast
    semi-join — a sort-merge join here would shuffle the base/raw tables
    on every refresh."""
    is_late = (F.abs(F.hash("conv_id", "idx")) % 10) == 0
    on_time, late = ser.where(~is_late), ser.where(is_late)
    base = rollup.rollup_from_raw(on_time, 60)
    plan = _plan(rollup.refresh_rollup(base, on_time, late, 60))
    lines = plan.splitlines()

    def joins(kind):
        return [ln for ln in lines if kind in ln and "Join" in ln]

    assert any("BroadcastHashJoin" in ln for ln in joins("LeftAnti")), plan
    assert any("BroadcastHashJoin" in ln for ln in joins("LeftSemi")), plan
    assert not any("SortMergeJoin" in ln
                   for ln in joins("LeftAnti") + joins("LeftSemi")), plan


def test_cascade_union_shares_one_raw_aggregation(ser):
    """All tiers come from ONE aggregation over one pass of raw: exactly
    one partial min_by over the raw values, one lag window (the series
    projection runs once) and no per-tier Union whose branches would
    each re-run the window, the explode and the raw→1m aggregate."""
    plan = _plan(rollup.cascade_union(ser))
    assert plan.count("partial_min_by(value") == 1, plan
    lag_windows = [ln for ln in plan.splitlines()
                   if "Window [" in ln and "lag(" in ln]
    assert len(lag_windows) == 1, plan
    assert "Union" not in plan, plan


def test_dedup_lsh_has_no_cartesian(spark):
    """Candidate generation must stay an equi-join on the band hash —
    a cartesian/broadcast-nested-loop here is the n² trap."""
    from matrixprofile_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} x y z a b c") for i in range(50)],
        "doc_id int, text string",
    )
    sigs = DD.minhash_signatures(DD.shingles(docs, 3, distinct=False), 8)
    pairs = DD.lsh_candidate_pairs(sigs, bands=4)
    plan = _plan(DD.jaccard_pairs(DD.shingles(docs, 3, distinct=False), pairs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_single_exchange_no_join(spark):
    """The as-of join must plan as union → one hash exchange on the key
    → one window — never a (range) join: a non-equi ts join explodes to
    the per-key cross product before any per-row max at 100 TB."""
    from matrixprofile_spark.operators import temporal as T

    left = spark.createDataFrame(
        [("c", 1, 100)], "conv_id string, turn_idx long, ts_epoch long")
    right = spark.createDataFrame(
        [("c", 7, 100)], "conv_id string, turn_idx long, ts_epoch long")
    plan = _plan(T.asof_join(left, right, ["conv_id"]))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_rare_shingle_pairs_reuses_shingle_exchange(spark):
    """The df<=F frequency cut is a window over the same shingle key the
    candidate self-join shuffles on — the plan must not pay a separate
    groupBy+join-back round trip for the frequency, and must contain no
    cartesian product."""
    from matrixprofile_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
    plan = _plan(DD.rare_shingle_pairs(docs, n=3, max_shingle_freq=5))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # frequency via window on the join key, not an aggregate+join-back
    assert "count(1) windowspecdefinition(shingle" in plan


def test_round6_aggregate_operators_are_single_exchange(spark):
    """counter_increase, time_weighted_avg, m4_downsample,
    histogram_rollup and corpus_keep must each plan exactly ONE
    exchange: their groupBy keys are supersets of (or equal to) the
    window partition keys, so the window's hash partitioning already
    satisfies the aggregation's clustering requirement."""
    from matrixprofile_spark.operators.downsample import m4_downsample
    from matrixprofile_spark.operators.rates import (
        counter_increase, time_weighted_avg)
    from matrixprofile_spark.operators import rollup as RU
    from matrixprofile_spark.operators import textstats as TS

    ser = spark.createDataFrame(
        [("c", "m", 0, 100, 1.0)],
        "conv_id string, metric string, idx long, ts_epoch long, "
        "value double")
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for df in (counter_increase(ser, 60), time_weighted_avg(ser, 3600),
               m4_downsample(ser, 120), RU.histogram_rollup(ser, 3600),
               TS.corpus_keep(docs)):
        plan = _plan(df)
        assert plan.count("Exchange") == 1 and "Join" not in plan


def test_minhash_sets_fuses_signature_and_set_aggregates(spark):
    """The fused LSH pipeline must aggregate the exploded shingle
    stream ONCE: minhash_sets computes the k min-hashes and the
    exact-Jaccard set in the same groupBy, and every consumer reuses
    that exchange. Two shingle explodes in the plan would mean the
    pipeline pays the md5 pass twice at 100 TB."""
    from matrixprofile_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} x y z a b c") for i in range(50)],
        "doc_id int, text string",
    )
    out = DD.lsh_jaccard_dedup(docs, n=3, num_hashes=8, bands=4)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the shingle explode (concat_ws over token slices) must NOT appear
    # downstream of the checkpoint — every consumer reads the pinned
    # (sig, sh_set) table; only the banding explode over sig remains
    assert "slice(__toks" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # the checkpoint boundary
    # and no per-consumer re-aggregation of shingles survives
    assert "partial_min(md5" not in plan, plan
    assert "partial_collect_set" not in plan, plan

    # the pre-checkpoint side: repartition(id) must be the ONLY
    # exchange — the per-doc groupBy's ClusteredDistribution(id) is
    # satisfied by hashpartitioning(id, any n), so the md5-heavy
    # shingle stage runs at cluster width with no extra shuffle
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    pre = DD.minhash_sets(
        DD.shingles(docs.repartition(par, F.col("doc_id")),
                    3, distinct=False), 8)
    pre_plan = _plan(pre)
    assert pre_plan.count("Exchange") == 1, pre_plan


def test_round7_sequential_folds_are_single_exchange(spark):
    """The detector family (EWMA, two-sided CUSUM, Holt) packs each
    series once and folds in-row: exactly ONE exchange each, and in
    particular NO re-join of fold outputs (cusum_flags carries both
    sides in one fold state). anomaly_zscore and rollup_quantiles are
    window ops whose rank/count share one hash partitioning — also a
    single exchange."""
    from matrixprofile_spark.operators.detect import (
        anomaly_zscore, cusum_flags, ewma, holt_forecast)
    from matrixprofile_spark.operators.rollup import rollup_quantiles

    ser = spark.createDataFrame(
        [("c", "m", 0, 100, 1.0)],
        "conv_id string, metric string, idx long, ts_epoch long, "
        "value double")
    for df in (ewma(ser), cusum_flags(ser, 1, 2, 8), holt_forecast(ser),
               anomaly_zscore(ser, w=4), rollup_quantiles(ser, 3600)):
        plan = _plan(df)
        assert plan.count("Exchange") == 1 and "Join" not in plan, plan


def test_round7_funnel_is_two_exchanges_no_join(spark):
    """funnel_counts: one groupBy(user) exchange + the final global
    single-partition aggregate — no self-joins, no windows, step count
    rows out regardless of input size."""
    from matrixprofile_spark.operators.temporal import funnel_counts

    ev = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20)],
        "user_id long, event_type string, ts_us long")
    plan = _plan(funnel_counts(ev, ("a", "b")))
    assert plan.count("Exchange") == 2 and "Join" not in plan, plan


def test_parquet_scan_prunes_and_pushes_down(spark, tmp_path):
    """Filters and column pruning must reach the parquet scan: a
    token_stats projection over a filtered documents scan reads ONLY
    (doc_id, text) and ships the predicate into PushedFilters. A
    wrapper that breaks this (e.g. a Python-UDF pre-pass or a cache()
    boundary) would make every 100-TB scan a full-table read."""
    import re

    from matrixprofile_spark.operators import textstats as TS

    pq = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text {i}", "en", i % 7) for i in range(200)],
        "doc_id long, text string, lang string, extra long",
    ).write.parquet(pq)

    docs = spark.read.parquet(pq).where(F.col("doc_id") < 100)
    plan = _plan(TS.token_stats(docs))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names == {"doc_id", "text"}, cols  # lang/extra pruned
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" \
        in scan, scan


def test_discoveries_fuse_into_the_profile_stage(ser):
    """with_discoveries over an mpx_profiles stage on the same packed
    source plans ONE Python stage behind one exchange: profile and
    discovery run in the same task, with no join back to the series.
    Profiles with no recorded stage (here localCheckpoint'ed) keep the
    join."""
    from matrixprofile_spark.operators import profile as P

    s = P.pack_series(ser).localCheckpoint()
    prof = P.mpx_profiles(s, 16, packed=True)
    plan = _plan(P.with_discoveries(prof, s, packed=True))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    joined = _plan(P.with_discoveries(prof.localCheckpoint(), s, packed=True))
    assert "Join" in joined, joined


@pytest.fixture(scope="module")
def eight_packed(spark):
    """8 packed 256-point series, materialized (like a chosen fixture)."""
    from matrixprofile_spark.operators import profile as P

    rng = np.random.default_rng(3)
    rows = [(f"conv-{k:05d}", "value", 256, rng.standard_normal(256).tolist())
            for k in range(8)]
    return spark.createDataFrame(rows, P.PACKED_SCHEMA).localCheckpoint()


def _exchanges(df) -> list[str]:
    return [ln.strip() for ln in _plan(df).splitlines() if "Exchange" in ln]


def _rows_per_task(df) -> list[int]:
    by_task = df.groupBy(F.spark_partition_id().alias("p")).count()
    return sorted((r["count"] for r in by_task.collect()), reverse=True)


@pytest.mark.parametrize("n_series,n_groups,counts",
                         [(8, 8, [2, 2, 2, 2]), (5, 5, [2, 1, 1, 1])])
def test_known_group_count_is_range_placed_in_one_wave(
        eight_packed, n_series, n_groups, counts):
    """With a known group count, the fused profile→discovery stage is
    range-placed on the series keys into min(cores, n_groups) = 4 tasks
    of count-balanced series (one wave on local[4]), behind its one
    exchange."""
    from matrixprofile_spark.operators import profile as P

    s = eight_packed.orderBy("conv_id").limit(n_series).localCheckpoint()
    disc = P.with_discoveries(
        P.mpx_profiles(s, 16, packed=True, n_groups=n_groups), s,
        packed=True, n_groups=n_groups)
    ex = _exchanges(disc)
    assert len(ex) == 1, ex
    assert re.search(r"rangepartitioning\(conv_id#\d+ ASC NULLS FIRST, "
                     r"metric#\d+ ASC NULLS FIRST, 4\)", ex[0]), ex
    assert _rows_per_task(disc) == counts


def test_unknown_group_count_keeps_hash_placement(eight_packed):
    """Without a group count (thousands of series) the stage keeps the
    8×cores hash exchange, where multi-wave scheduling evens out
    uneven series sizes."""
    from matrixprofile_spark.operators import profile as P

    disc = P.with_discoveries(P.mpx_profiles(eight_packed, 16, packed=True),
                              eight_packed, packed=True)
    ex = _exchanges(disc)
    assert len(ex) == 1, ex
    assert re.search(r"hashpartitioning\(conv_id#\d+, metric#\d+, 32\)",
                     ex[0]), ex


def test_chained_kernel_stage_runs_its_input_once(spark, eight_packed):
    """A range exchange samples its input in a job of its own, which
    would run a Python input stage twice. A kernel stage over another
    kernel stage's output therefore keeps the hash exchange, and the
    upstream kernel runs once per series."""
    from matrixprofile_spark.operators import profile as P

    calls = spark.sparkContext.accumulator(0)

    def first(key, values, pdf):
        calls.add(1)
        return pdf

    def second(key, values, pdf):
        return pdf

    up = P._kernel_stage(eight_packed, P._SERIES, P.PACKED_SCHEMA, first, 8)
    down = P._kernel_stage(up, P._SERIES, P.PACKED_SCHEMA, second, 8)
    ex = _exchanges(down)
    assert len(ex) == 2, ex
    assert "hashpartitioning" in ex[0] and "rangepartitioning" in ex[1], ex
    assert down.count() == 8
    assert calls.value == 8


def test_salted_band_partials_are_range_placed(spark, eight_packed):
    """Salted partials are placed like every kernel stage with a known
    group count: one range exchange on (series, band) into 4 tasks whose
    band counts differ by at most 1 (bands are equal-work, so that is
    work-balanced); the merge over the Python partials keeps a hash
    exchange."""
    from matrixprofile_spark.operators import profile as P
    from matrixprofile_spark.operators.salted import salted_mpx_profiles

    hot = eight_packed.orderBy("conv_id").limit(3).localCheckpoint()
    prof = salted_mpx_profiles(hot, 16, hot_threshold=100, bands=5,
                               packed=True, checkpoint=False, n_groups=3)
    ex = _exchanges(prof)
    assert any(re.search(r"rangepartitioning\(conv_id#\d+ ASC NULLS FIRST, "
                         r"metric#\d+ ASC NULLS FIRST, band#\d+ ASC NULLS "
                         r"FIRST, 4\)", e) for e in ex), ex
    banded = hot.join(F.broadcast(spark.range(5).selectExpr(
        "cast(id as int) as band")))
    placed = P._grouped(banded, "conv_id", "metric", "band",
                        n_groups=15).applyInPandas(
        lambda key, pdf: pdf[["conv_id", "metric", "band"]],
        "conv_id string, metric string, band int")
    counts = _rows_per_task(placed)
    assert sum(counts) == 15 and len(counts) == 4, counts
    assert max(counts) - min(counts) <= 1, counts


# every applyInPandas/mapInPandas call site, by (file, enclosing function):
# the two kernel-stage primitives, the row-grouped stages that need a
# row-count guard instead of a packed-series one, and the row-local codecs
_PYTHON_STAGES = sorted([
    ("matrixprofile_spark/io/mpf.py", "read_profiles_mpf"),
    ("matrixprofile_spark/io/mpf.py", "write_profiles_mpf"),
    ("matrixprofile_spark/operators/downsample.py", "lttb_downsample"),
    ("matrixprofile_spark/operators/gapfill.py", "fill_sequential"),
    ("matrixprofile_spark/operators/multimodal.py", "media_features"),
    ("matrixprofile_spark/operators/multimodal.py", "resize_images"),
    ("matrixprofile_spark/operators/profile.py", "_kernel_stage"),
    ("matrixprofile_spark/operators/profile.py", "_pair_stage"),
    ("matrixprofile_spark/operators/profile.py", "pmp_discords"),
    ("matrixprofile_spark/operators/salted.py", "salted_mpx_profiles"),
    ("matrixprofile_spark/operators/segments.py", "decode_segments"),
    ("matrixprofile_spark/operators/segments.py",
     "decode_transcript_segments"),
    ("matrixprofile_spark/operators/segments.py", "encode_segments"),
    ("matrixprofile_spark/operators/segments.py",
     "encode_transcript_segments"),
])


def _python_stage_sites(root: str) -> list[tuple[str, str]]:
    import ast
    import os

    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(root, "matrixprofile_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    sites = []

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("applyInPandas", "mapInPandas")):
            sites.append((rel, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for p in paths:
        with open(p) as f:
            visit(ast.parse(f.read()), os.path.relpath(p, root), None)
    return sorted(sites)


def test_python_stages_use_the_primitives():
    """Every stage that hands whole packed series to a Python kernel goes
    through _kernel_stage (its size guard and placement), and every
    pair-row kernel through _pair_stage: no other applyInPandas or
    mapInPandas call site exists outside the allowlist."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert _python_stage_sites(root) == _PYTHON_STAGES


@pytest.mark.parametrize("name",
                         ["mstomp_w16", "prescrimp_w16", "max_subsequence"])
def test_entry_kernel_builders_are_kernel_stages(spark, name):
    """The query builders that run a kernel per chosen series are kernel
    stages: recorded, guarded, and range-placed into min(cores, 5) = 4
    tasks."""
    import __spark_entry__ as E
    from matrixprofile_spark.operators import profile as P

    df = E.queries()[name](spark, "sf0.001")
    assert df in P._STAGES
    ex = _exchanges(df)
    assert len(ex) == 1, ex
    assert re.search(r"rangepartitioning\(conv_id#\d+ ASC NULLS FIRST, "
                     r"metric#\d+ ASC NULLS FIRST, 4\)", ex[0]), ex
