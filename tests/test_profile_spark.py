"""Tier-1 Spark parity: Arrow-bridged kernels == pure-NumPy kernels,
golden series embedded as a single-conversation series table; plus
salted-vs-unsalted bit-parity (FIXTURES.md F6 invariant)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from matrixprofile_spark.kernels import workflows as W
from matrixprofile_spark.kernels.mpdist import mpdist
from matrixprofile_spark.operators import profile as P
from matrixprofile_spark.operators.salted import salted_mpx_profiles
from matrixprofile_spark.plans.compute import analyze, compute

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="module")
def sampledata():
    return np.loadtxt(os.path.join(GOLDEN, "sampledata.txt"))


@pytest.fixture(scope="module")
def golden_series(spark, sampledata):
    pdf = pd.DataFrame(
        {
            "conv_id": "golden",
            "metric": "value",
            "idx": np.arange(len(sampledata), dtype="int64"),
            "ts_epoch": 1_600_000_000 + 60 * np.arange(len(sampledata), dtype="int64"),
            "value": sampledata,
        }
    )
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def two_series(spark, sampledata):
    rng = np.random.RandomState(5)
    other = rng.uniform(size=400)
    frames = []
    for cid, vals in (("golden", sampledata), ("other", other)):
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": cid,
                    "metric": "value",
                    "idx": np.arange(len(vals), dtype="int64"),
                    "ts_epoch": 1_600_000_000 + 60 * np.arange(len(vals), dtype="int64"),
                    "value": vals,
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames)).cache()


def test_mpx_profiles_matches_kernel(golden_series, sampledata):
    row = P.mpx_profiles(golden_series, 32).collect()[0]
    prof = W.mpx_profile(sampledata, 32)
    np.testing.assert_allclose(np.array(row["mp"]), prof["mp"], atol=1e-12)
    np.testing.assert_array_equal(np.array(row["pi"]), prof["pi"])
    assert row["ez"] == 0 and row["algorithm"] == "mpx" and not row["join"]


def test_stomp_profiles_matches_kernel(golden_series, sampledata):
    row = P.stomp_profiles(golden_series, 32).collect()[0]
    from matrixprofile_spark.kernels.stomp import stomp

    prof = stomp(sampledata, 32)
    np.testing.assert_allclose(np.array(row["mp"]), prof["mp"], atol=1e-12)
    np.testing.assert_allclose(np.array(row["lmp"]), prof["lmp"])
    np.testing.assert_array_equal(np.array(row["rpi"]), prof["rpi"])


def test_scrimp_profiles_deterministic(golden_series):
    a = P.scrimp_profiles(golden_series, 32, sample_pct=1.0, seed=3).collect()[0]
    b = P.scrimp_profiles(golden_series, 32, sample_pct=1.0, seed=3).collect()[0]
    np.testing.assert_array_equal(np.array(a["mp"]), np.array(b["mp"]))
    assert a["algorithm"] == "scrimp++"


def test_skimp_profiles_window_sweep(two_series, sampledata):
    rows = P.skimp_profiles(two_series, windows=[16, 32]).collect()
    assert len(rows) == 4  # 2 series × 2 windows
    got = {(r["conv_id"], r["w"]): r for r in rows}
    prof = W.mpx_profile(sampledata, 32)
    np.testing.assert_allclose(
        np.array(got[("golden", 32)]["mp"]), prof["mp"], atol=1e-12
    )


def test_skimp_sweep_skips_series_without_window(two_series, golden_series):
    """windows=None skips a series whose doubling search finds no window
    under the threshold (NoSolutionPossible) instead of failing the job:
    the 400-point uniform-noise series has none, the golden one keeps
    its rows."""
    rows = P.skimp_profiles(two_series).collect()
    assert {r["conv_id"] for r in rows} == {"golden"}
    golden = P.skimp_profiles(golden_series).collect()
    assert sorted(r["w"] for r in rows) == sorted(r["w"] for r in golden)


def test_worklist_short_series_returns_empty(spark):
    """A worklist row whose series is too short for its window must be
    skipped (zero rows), not crash inside a w=4 kernel it was never
    going to keep (the pre-fix guard computed-then-sliced)."""
    wl = spark.createDataFrame(
        [("tiny", "value", [1.0, 2.0, 3.0, 4.0, 5.0], 16),
         ("ok", "value", [float(x % 7) for x in range(64)], 16)],
        "conv_id string, metric string, values array<double>, w int",
    )
    rows = P.skimp_profiles_from_worklist(wl).collect()
    assert [r["conv_id"] for r in rows] == ["ok"]


# every operator routed through _kernel_stage, built over a series
# table s; ``pre`` holds upstream profile tables (mpx at w=16 and a
# two-window PMP) for the operators that consume one
_ROUTED = {
    "mpx": lambda s, pre: P.mpx_profiles(s, 16),
    "stomp": lambda s, pre: P.stomp_profiles(s, 16),
    "scrimp": lambda s, pre: P.scrimp_profiles(s, 16),
    "skimp_sweep": lambda s, pre: P.skimp_profiles(s),
    "skimp_worklist": lambda s, pre: P.skimp_profiles(s, windows=[16]),
    "discoveries": lambda s, pre: P.with_discoveries(pre["mpx"], s),
    "snippets": lambda s, pre: P.snippet_profiles(s, 16),
    "cmp": lambda s, pre: P.cmp_profiles(s, 16),
    "max_subsequence": lambda s, pre: P.max_subsequence_windows(s),
    "pmp_motifs": lambda s, pre: P.pmp_motifs(pre["pmp"], s),
}


def _upstream(series):
    return {"mpx": P.mpx_profiles(series, 16),
            "pmp": P.skimp_profiles(series, windows=[8, 16])}


@pytest.mark.parametrize("op", sorted(_ROUTED))
def test_short_series_returns_empty(spark, op):
    """A 5-point series is below every operator's minimum (w and
    snippet_size 16, the 16-point sweep floor): each must skip it
    without running its kernel, not crash (the pre-fix mpx branch ran
    the kernel on a negative profile length before slicing)."""
    df = spark.createDataFrame(
        [("tiny", "value", i, float(i), float(i + 1)) for i in range(5)],
        "conv_id string, metric string, idx long, ts_epoch double, value double",
    )
    assert _ROUTED[op](df, _upstream(df)).count() == 0


def _pairs(series):
    """ab_join_pairs input: one row per two packed series of a metric."""
    p = P.pack_series(series)
    a = p.select(F.col("conv_id").alias("conv_id_a"), "metric",
                 F.col("values").alias("values_a"))
    b = p.select(F.col("conv_id").alias("conv_id_b"),
                 F.col("metric").alias("metric_b"),
                 F.col("values").alias("values_b"))
    return a.join(b, (F.col("conv_id_a") < F.col("conv_id_b"))
                  & (F.col("metric") == F.col("metric_b")))


# operators that load two packed series per row, built over two series
_PAIRED = {
    "pairwise_mpdist": lambda s: P.pairwise_mpdist(s, 16, metric="value"),
    "ab_join": lambda s: P.ab_join_pairs(_pairs(s), 16),
}


@pytest.mark.parametrize("op", [*sorted(_ROUTED), "salted_hot",
                                *sorted(_PAIRED)])
def test_kernel_stages_refuse_oversized_series(golden_series, two_series,
                                               monkeypatch, op):
    """Every packed-series kernel stage refuses a series above
    MAX_PACKED_POINTS. The limit is read on the driver when the plan is
    built, so lowering it here reaches the workers; upstream tables are
    planned first, so only the operator under test sees the low limit."""
    pre = _upstream(golden_series)
    monkeypatch.setattr(P, "MAX_PACKED_POINTS", 10)
    if op == "salted_hot":  # every series hot: only the band path runs
        df = salted_mpx_profiles(golden_series, 32, hot_threshold=100, bands=4)
    elif op in _PAIRED:
        df = _PAIRED[op](two_series)
    else:
        df = _ROUTED[op](golden_series, pre)
    with pytest.raises(PythonException, match="MAX_PACKED_POINTS=10"):
        df.collect()


def test_discoveries_match_kernel(golden_series, sampledata):
    prof_df = P.mpx_profiles(golden_series, 32)
    disc = P.with_discoveries(prof_df, golden_series).collect()[0]
    from matrixprofile_spark.kernels.mpx import mpx_self_join
    from matrixprofile_spark.kernels import discover as D

    mp, pi = mpx_self_join(sampledata, 32)
    ez = int(np.ceil(32 / 4.0))
    np.testing.assert_array_equal(
        np.array(disc["discords"]), D.top_k_discords(mp, 32, ez=ez)
    )
    np.testing.assert_array_equal(
        np.array(disc["regimes"]), D.extract_regimes(D.fluss(pi, 32), 32)
    )
    mot = D.top_k_motifs(sampledata, mp, pi, 32, ez=ez)
    assert [list(p) for p in disc["motif_pairs"]] == [m["motifs"] for m in mot]


def test_snippet_profiles(golden_series, sampledata):
    rows = P.snippet_profiles(golden_series, 64, window_size=32).collect()
    idx = sorted((r["rank"], r["index"]) for r in rows)
    assert idx == [(0, 384), (1, 704)]


def test_pairwise_mpdist(two_series, sampledata):
    rows = P.pairwise_mpdist(two_series, 16, metric="value").collect()
    assert len(rows) == 1
    r = rows[0]
    rng = np.random.RandomState(5)
    other = rng.uniform(size=400)
    np.testing.assert_almost_equal(
        r["mpdist"], mpdist(sampledata, other, 16), decimal=10
    )


def test_salted_equals_unsalted(two_series):
    plain = {
        r["conv_id"]: r
        for r in P.mpx_profiles(two_series, 32).collect()
    }
    salted = {
        r["conv_id"]: r
        for r in salted_mpx_profiles(two_series, 32, hot_threshold=300, bands=7).collect()
    }
    assert set(plain) == set(salted)
    for cid in plain:
        np.testing.assert_allclose(
            np.array(salted[cid]["mp"]), np.array(plain[cid]["mp"]), atol=1e-9
        )
        np.testing.assert_array_equal(
            np.array(salted[cid]["pi"]), np.array(plain[cid]["pi"])
        )


def test_facade_compute_and_analyze(golden_series, sampledata):
    prof = compute(golden_series, windows=32)
    assert prof.count() == 1
    multi = compute(golden_series, windows=[16, 32])
    assert multi.count() == 2
    disc = analyze(golden_series, windows=32)
    row = disc.collect()[0]
    assert len(row["discords"]) > 0


def test_global_top_discords(two_series):
    profs = P.mpx_profiles(two_series, 16)
    disc = P.with_discoveries(profs, two_series)
    top = P.global_top_discords(disc, profs, k=3).collect()
    assert len(top) == 3
    assert top[0]["distance"] >= top[-1]["distance"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fused_and_joined(prof, series, **kw):
    """with_discoveries over a recorded profile stage (the fused path)
    and over the same profiles localCheckpoint()ed, which have no
    recorded stage (the join path)."""
    fused = P.with_discoveries(prof, series, **kw)
    joined = P.with_discoveries(prof.localCheckpoint(), series, **kw)
    assert "Join" not in _plan(fused), _plan(fused)
    assert "Join" in _plan(joined), _plan(joined)
    return fused, joined


def _assert_same_rows(fused, joined):
    a, b = sorted(fused.collect()), sorted(joined.collect())
    assert a, "no discoveries"
    assert a == b  # int arrays: list equality is exact


# profile builders over a packed (packed=True) or raw series table;
# mpx also runs over raw input, where both sides pack separately
_FUSABLE = {
    "mpx": lambda s, pk: P.mpx_profiles(s, 32, packed=pk),
    "mpx_unpacked": lambda s, pk: P.mpx_profiles(s, 32),
    "stomp": lambda s, pk: P.stomp_profiles(s, 32, packed=pk),
    "scrimp": lambda s, pk: P.scrimp_profiles(s, 32, seed=3, packed=pk),
    "skimp_sweep": lambda s, pk: P.skimp_profiles(s, packed=pk),
}


@pytest.mark.parametrize("op", sorted(_FUSABLE))
def test_fused_discoveries_equal_join_path(two_series, op):
    """The fused profile→discovery stage gives the join path's rows,
    including the SKIMP windows=None sweep's several w rows per series
    (and its skip of the uniform-noise series, which has no window)."""
    if op == "mpx_unpacked":
        src, pk = two_series, False
    else:
        src, pk = P.pack_series(two_series).localCheckpoint(), True
    prof = _FUSABLE[op](src, pk)
    fused, joined = _fused_and_joined(prof, src, packed=pk)
    _assert_same_rows(fused, joined)
    if op == "skimp_sweep":
        assert fused.select("w").distinct().count() > 1


@pytest.mark.parametrize("kw", [{"ez_override": 0}, {"zero_eps": 1e-4}],
                         ids=["ez_override", "zero_eps"])
def test_fused_discoveries_pass_options(two_series, kw):
    prof = P.mpx_profiles(two_series, 32)
    _assert_same_rows(*_fused_and_joined(prof, two_series, **kw))


def _walk(spark, nan_at):
    v = np.cumsum(np.random.RandomState(9).randn(400))
    v[nan_at] = np.nan
    pdf = pd.DataFrame({"conv_id": "nan", "metric": "value",
                        "idx": np.arange(400, dtype="int64"),
                        "ts_epoch": 60 * np.arange(400, dtype="int64"),
                        "value": v})
    return spark.createDataFrame(pdf)


def test_fused_discoveries_nan_mid_series(spark):
    """Known MPX defect (ROADMAP direction 1): a NaN poisons the moving
    statistics, so part of pi is -1 and the picks are silently wrong.
    Fusion must neither hide nor change that: both paths agree."""
    s = _walk(spark, 200)
    prof = P.mpx_profiles(s, 16)
    assert -1 in prof.collect()[0]["pi"]
    _assert_same_rows(*_fused_and_joined(prof, s))


def test_fused_discoveries_nan_first_value_raises(spark):
    """A NaN first value makes discovery raise ValueError on both paths
    (perfbench's known_failure mpx_null_first_value counts it)."""
    s = _walk(spark, 0)
    for df in _fused_and_joined(P.mpx_profiles(s, 16), s):
        with pytest.raises(PythonException, match="ValueError"):
            df.collect()
