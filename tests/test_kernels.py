"""Tier-0 kernel parity tests (no Spark).

Re-runs the reference's own golden assertions (tests/golden/* are the
MATLAB-derived data files from /root/reference/tests/) against this
engine's NumPy re-derivations, at the reference's own tolerances.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from matrixprofile_spark.kernels import discover as D
from matrixprofile_spark.kernels import workflows as W
from matrixprofile_spark.kernels.cluster import (
    cophenet,
    fcluster,
    hierarchical_clusters,
    linkage,
)
from matrixprofile_spark.kernels.mass import fft_convolve, mass2, sliding_dot_product
from matrixprofile_spark.kernels.moving import moving_avg_std, muinvn
from matrixprofile_spark.kernels.mpdist import mpdist, mpdist_vector, pairwise_dist
from matrixprofile_spark.kernels.mpx import (
    merge_partials,
    mpx_ab_join,
    mpx_self_join,
    finalize_self_join,
)
from matrixprofile_spark.kernels.mstomp import mstomp
from matrixprofile_spark.kernels.preprocess import impute_missing, preprocess
from matrixprofile_spark.kernels.scrimp import scrimp_plus_plus
from matrixprofile_spark.kernels.skimp import (
    binary_split,
    maximum_subsequence,
    pick_mp,
    skimp,
)
from matrixprofile_spark.kernels.snippets import snippets
from matrixprofile_spark.kernels.statistics import statistics
from matrixprofile_spark.kernels.stomp import stomp
from matrixprofile_spark.kernels.transform import apply_av

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def g(name):
    return np.loadtxt(os.path.join(GOLDEN, name))


@pytest.fixture(scope="module")
def sampledata():
    return g("sampledata.txt")


# ---------------------------------------------------------------- moving

def test_moving_avg_std_micro():
    mu, std = moving_avg_std(np.arange(1.0, 7.0), 3)
    np.testing.assert_almost_equal(mu, [2.0, 3.0, 4.0, 5.0])
    np.testing.assert_almost_equal(std, [0.81649658] * 4)


def test_muinvn_micro():
    mu, inv = muinvn(np.arange(1.0, 7.0), 3)
    np.testing.assert_almost_equal(mu, [2.0, 3.0, 4.0, 5.0])
    np.testing.assert_almost_equal(inv, [0.7071068] * 4)


def test_constant_series_no_nan():
    a = np.full(7, 10.1)
    mu, std = moving_avg_std(a, 3)
    np.testing.assert_almost_equal(std, np.zeros(5))
    mu2, inv = muinvn(a, 3)
    np.testing.assert_almost_equal(inv, np.zeros(5))
    np.testing.assert_almost_equal(mu2, np.full(5, 10.1))


def test_muinvn_vs_matlab(sampledata):
    mu, inv = muinvn(sampledata, 32)
    np.testing.assert_almost_equal(g("muinvn_mua.txt"), mu, decimal=4)
    np.testing.assert_almost_equal(g("muinvn_stda.txt"), inv, decimal=4)


# ------------------------------------------------------------------- mass

def test_sliding_dot_product_equals_fft(sampledata):
    q = sampledata[10:42]
    np.testing.assert_allclose(
        fft_convolve(sampledata, q), sliding_dot_product(sampledata, q), atol=1e-8
    )


def test_mass2_self_query_zero(sampledata):
    dp = np.real(mass2(sampledata, sampledata[100:132]))
    assert abs(dp[100]) < 1e-6


# -------------------------------------------------------------------- mpx

def test_mpx_micro_euclidean():
    ts = np.array([0, 1, 1, 1, 0, 0, 2, 1, 0, 0, 2, 1], dtype="d")
    mp, pi = mpx_self_join(ts, 4)
    np.testing.assert_almost_equal(
        mp, [1.9550, 1.9550, 0.8739, 0, 0, 1.9550, 0.8739, 0, 0], decimal=4
    )
    np.testing.assert_array_equal(pi, [4, 5, 6, 7, 8, 1, 2, 3, 4])


def test_mpx_micro_pearson():
    ts = np.array([0, 1, 1, 1, 0, 0, 2, 1, 0, 0, 2, 1], dtype="d")
    mp, pi = mpx_self_join(ts, 4, cross_correlation=True)
    np.testing.assert_almost_equal(
        mp,
        [0.522232967867094, 0.522232967867094, 0.904534033733291, 1, 1,
         0.522232967867094, 0.904534033733291, 1, 1],
        decimal=4,
    )
    np.testing.assert_array_equal(pi, [4, 5, 6, 7, 8, 1, 2, 3, 4])


def test_mpx_matlab(sampledata):
    mp, pi = mpx_self_join(sampledata, 32)
    np.testing.assert_almost_equal(g("mpx_mp.txt"), mp, decimal=4)
    np.testing.assert_array_equal(g("mpx_mpi.txt").astype(int) - 1, pi)


def test_mpx_ab_micro():
    ts = np.array([1, 2, 3, 1, 2, 3, 4, 5, 6, 0, 0, 1, 1, 2, 2, 4, 5, 1, 1, 9], dtype="d")
    q = np.array([0, 0, 1, 1, 2, 2, 4, 5], dtype="d")
    mp, mpi, mpb, mpib = mpx_ab_join(ts, q, 4)
    desired = [2.36387589, 2.82842712, 2.17957574, 0.64072897, 0.64072897,
               0.64072897, 3.26103392, 3.61947699, 3.39984131, 0.0,
               4.21468485e-08, 0.0, 4.21468485e-08, 0.0, 2.82842712,
               3.57109342, 1.7377157]
    np.testing.assert_almost_equal(mp, desired, decimal=4)
    np.testing.assert_array_equal(mpi, [0, 1, 4, 1, 1, 1, 2, 1, 4, 2, 1, 2, 3, 4, 2, 1, 3])


def test_mpx_ab_matlab(sampledata):
    mpa, _, mpb, _ = mpx_ab_join(sampledata, sampledata[199:300], 32)
    np.testing.assert_almost_equal(g("mpx_ab_mpa.txt"), mpa, decimal=4)
    np.testing.assert_almost_equal(g("mpx_ab_mpb.txt"), mpb, decimal=4)


def test_mpx_diag_band_split_merges_exactly(sampledata):
    """Salting decomposition: diagonal bands merged == full profile."""
    full_mp, full_pi = mpx_self_join(sampledata, 32)
    pl = len(sampledata) - 32 + 1
    bands = [(9, 300), (300, 600), (600, pl)]
    parts = [mpx_self_join(sampledata, 32, diag_range=b) for b in bands]
    mp, pi = merge_partials(parts)
    mp, pi = finalize_self_join(mp, pi, 32, False)
    np.testing.assert_allclose(mp, full_mp, atol=1e-10)
    np.testing.assert_array_equal(pi, full_pi)


# ------------------------------------------------------------------ stomp

def test_stomp_micro():
    ts = np.array([0, 1, 1, 0] * 3, dtype="d")
    p = stomp(ts, 4)
    np.testing.assert_almost_equal(p["mp"], np.zeros(9))
    np.testing.assert_array_equal(p["pi"], [4, 5, 6, 7, 0, 1, 2, 3, 0])
    np.testing.assert_almost_equal(
        p["lmp"], [np.inf, np.inf, np.inf, 2.82842712, 0, 0, 0, 0, 0]
    )
    np.testing.assert_array_equal(p["lpi"], [0, 0, 0, 0, 0, 1, 2, 3, 0])
    np.testing.assert_almost_equal(
        p["rmp"], [0, 0, 0, 0, 0, 2.82842712, np.inf, np.inf, np.inf]
    )
    np.testing.assert_array_equal(p["rpi"], [4, 5, 6, 7, 8, 8, 0, 0, 0])


def test_stomp_errors():
    with pytest.raises(ValueError):
        stomp(np.arange(8, dtype="d"), 2)
    with pytest.raises(ValueError):
        stomp(np.arange(8, dtype="d"), 8)


# ----------------------------------------------------------------- scrimp

def test_scrimp_micro():
    p = scrimp_plus_plus(np.array([0, 0, 1, 0, 0, 0, 1, 0], dtype="d"), 4,
                         sample_pct=1.0)
    np.testing.assert_almost_equal(p["mp"], [0, 3.2660, 3.2660, 3.2660, 0], decimal=4)
    np.testing.assert_array_equal(p["pi"], [4, 3, 0, 0, 0])


def test_scrimp_matlab(sampledata):
    p = scrimp_plus_plus(sampledata, 32, sample_pct=1.0)
    np.testing.assert_almost_equal(p["mp"], g("scrimp.mp.txt"))
    np.testing.assert_array_equal(p["pi"], g("scrimp.mpi.txt").astype(int) - 1)


# ------------------------------------------------------------------ skimp

def test_binary_split():
    assert binary_split(1) == [0]
    assert binary_split(10) == [0, 5, 2, 7, 1, 3, 6, 8, 4, 9]


def test_maximum_subsequence_goldens():
    np.random.seed(9999)
    ts = np.random.uniform(size=2**10)
    w = 2**5
    ts[w + 100 : w + 100 + w] = ts[0:w]
    assert maximum_subsequence(ts, 0.98) == 36
    np.random.seed(9999)
    ts = np.random.uniform(size=2**10)
    w = 2**6
    ts[w + 100 : w + 100 + w] = ts[0:w]
    assert maximum_subsequence(ts, 0.98) == 68


def test_skimp_pick_mp(sampledata):
    p = skimp(sampledata, windows=[32, 64], sample_pct=1.0)
    m = pick_mp(p, 32)
    mp, pi = mpx_self_join(sampledata, 32)
    np.testing.assert_allclose(m["mp"], mp)
    np.testing.assert_array_equal(m["pi"], pi)
    assert m["ez"] == 8 and m["w"] == 32


# ------------------------------------------------------------- discovery

def test_regimes_golden(sampledata):
    mp, pi = mpx_self_join(sampledata, 32)
    cac = D.fluss(pi, 32)
    np.testing.assert_array_equal(D.extract_regimes(cac, 32, 3), [759, 423, 583])
    np.testing.assert_array_equal(D.extract_regimes(cac, 32, 2), [759, 423])


def test_motifs_all_inf_returns_empty():
    ts = np.arange(32, dtype="d")
    mp = np.full(16, np.inf)
    pi = np.zeros(16, dtype=np.int64)
    assert D.top_k_motifs(ts, mp, pi, 8) == []


def test_discords_suppression():
    mp = np.array([1.0, 9.0, 8.5, 2.0, 7.0, 1.0])
    got = D.top_k_discords(mp, w=4, ez=2, k=3)
    np.testing.assert_array_equal(got, [1, 4])  # 2 suppressed by ez around 1


# ----------------------------------------------------------------- mpdist

def test_mpdist_micro():
    ts = np.array([1, 2, 3, 1, 2, 3, 4, 5, 6, 0, 0, 1, 1, 2, 2, 4, 5, 1, 1, 9], dtype="d")
    q = np.array([0.23595094, 0.9865171, 0.1934413, 0.60880883, 0.55174926,
                  0.77139988, 0.33529215, 0.63215848])
    np.testing.assert_almost_equal(mpdist(ts, q, 4), 0.437690617625298)


def test_mpdist_matlab(sampledata):
    d = mpdist(sampledata, sampledata[199:300], 32)
    np.testing.assert_almost_equal(d, 1.460009659995543e-07, decimal=6)


def test_mpdist_errors(sampledata):
    with pytest.raises(ValueError):
        mpdist(sampledata, sampledata[:100], 32, threshold=2.0)


def test_pairwise_dist_ordering():
    rng = np.random.RandomState(7)
    X = [rng.uniform(size=40), rng.uniform(size=50), rng.uniform(size=60)]
    Y = pairwise_dist(X, 8)
    assert len(Y) == 3
    np.testing.assert_almost_equal(Y[0], mpdist(X[0], X[1], 8))
    np.testing.assert_almost_equal(Y[2], mpdist(X[1], X[2], 8))


# --------------------------------------------------------------- snippets

def test_snippets_goldens(sampledata):
    r = snippets(sampledata, 64, window_size=32)
    assert (r[0]["index"], r[1]["index"]) == (384, 704)
    assert (sum(r[0]["neighbors"]), sum(r[1]["neighbors"])) == (191408, 190967)
    r = snippets(sampledata, 128, window_size=32)
    assert (r[0]["index"], r[1]["index"]) == (384, 640)
    assert (sum(r[0]["neighbors"]), sum(r[1]["neighbors"])) == (227661, 154714)
    r = snippets(sampledata, 8, window_size=4)
    assert (r[0]["index"], r[1]["index"]) == (72, 784)
    assert (sum(r[0]["neighbors"]), sum(r[1]["neighbors"])) == (149499, 232876)


def test_snippet_distance_curve_golden(sampledata):
    """Curve-level pin under the end-to-end 384/704 golden: the MPDist
    vector of the winning snippet candidate (start 384, size 64, w=32)
    over the padded series — localizes a snippets regression to either
    the curve computation or the greedy selection."""
    ss = 64
    pad = int(ss * np.ceil(len(sampledata) / ss) - len(sampledata))
    ts = np.concatenate((sampledata, np.zeros(pad)))
    curve = mpdist_vector(ts, ts[384:384 + ss - 1], 32)
    assert len(curve) == 834
    np.testing.assert_almost_equal(curve.sum(), 2491.4969, decimal=4)
    np.testing.assert_almost_equal(
        curve[[0, 100, 384, 500, 833]],
        [0.346189, 0.316717, 0.0, 5.025103, 4.222462], decimal=6)


def test_snippets_errors(sampledata):
    with pytest.raises(ValueError):
        snippets(sampledata, 3)
    with pytest.raises(ValueError):
        snippets(sampledata[:100], 64)
    with pytest.raises(ValueError):
        snippets(sampledata, 8, window_size=16)


# ------------------------------------------------------------- preprocess

def test_impute_missing_f3_fixture():
    v = np.array(
        [np.nan] * 5
        + [2, 3, 2, 3, 1, 2, 3, 4, 2]
        + [np.nan] * 2
        + [4, 2, 3, 4, 5, 6, 7, 8, 3, 4, 2, 3, 4, 5, 6, 7, 6, 5, 4, 3]
        + [np.nan] * 6
    )
    out = impute_missing(v, 5, method="median", direction="backward")
    assert np.isfinite(out).all()
    for method in ("mean", "median", "min", "max"):
        assert np.isfinite(impute_missing(v, 5, method=method)).all()
    with pytest.raises(ValueError):
        impute_missing(v, 5, method="bogus")
    with pytest.raises(ValueError):
        impute_missing(v, 5, direction="sideways")


def test_preprocess_denoises_constants_deterministically():
    ts = np.array([1.0] * 20 + [np.nan] + [1.0] * 20)
    a = preprocess(ts, 5, seed=1)
    b = preprocess(ts, 5, seed=1)
    np.testing.assert_array_equal(a, b)
    assert np.isfinite(a).all()
    # constant windows got noise -> no longer exactly constant
    assert not np.all(a[:5] == a[0])


# -------------------------------------------------------------- transform

def test_apply_av_default_identity(sampledata):
    prof = W.mpx_profile(sampledata, 32)
    p = apply_av(dict(prof), "default")
    np.testing.assert_allclose(p["cmp"], prof["mp"])
    for av in ("complexity", "meanstd", "clipping"):
        p = apply_av(dict(prof), av)
        assert len(p["cmp"]) == len(prof["mp"])
        assert p["av_type"] == av
    with pytest.raises(ValueError):
        apply_av(dict(prof), "bogus")
    with pytest.raises(ValueError):
        apply_av(dict(prof), "custom", custom_av=np.ones(3))


# ------------------------------------------------------------- statistics

def test_statistics_contract(sampledata):
    st = statistics(sampledata, 32)
    assert st["class"] == "Statistics"
    np.testing.assert_almost_equal(st["mean"], np.mean(sampledata))
    assert len(st["moving_mean"]) == len(sampledata) - 31
    with pytest.raises(ValueError):
        statistics(sampledata, 2)
    with pytest.raises(ValueError):
        statistics(sampledata, len(sampledata) + 1)


# ----------------------------------------------------------------- mstomp

def test_mstomp_matches_stomp_on_one_dim(sampledata):
    """1-D mstomp mp must equal stomp's mp (same algorithm family)."""
    s = sampledata[:300]
    m = mstomp(s, 32)
    p = stomp(s, 32)
    np.testing.assert_allclose(m["mp"][0], p["mp"], atol=1e-6)


def test_mstomp_multidim_shapes(sampledata):
    ts = np.vstack([sampledata[:300], sampledata[100:400], sampledata[200:500]])
    m = mstomp(ts, 16, return_dimension=True)
    assert m["mp"].shape == (3, 285)
    assert len(m["pd"]) == 3
    assert m["pd"][2].shape == (3, 285)
    # k-dim profile is monotonically >= (k-1)-dim profile
    assert np.all(m["mp"][1] >= m["mp"][0] - 1e-12)


def test_mstomp_nan_input_defines_semantics():
    """Reference raises AttributeError here (mstomp.py:284 bug); the
    engine defines proper skip semantics instead."""
    ts = np.vstack([np.arange(64.0), np.arange(64.0)])
    ts[0, 10] = np.nan
    m = mstomp(ts, 8)
    assert np.isfinite(m["mp"]).sum() >= 0  # completes without raising


# ---------------------------------------------------------------- cluster

def test_linkage_single_chain():
    #  three points on a line: 0-1 dist 1, 1-2 dist 2, 0-2 dist 3
    Z = linkage(np.array([1.0, 3.0, 2.0]), "single")
    assert Z[0][2] == 1.0 and Z[1][2] == 2.0
    labels = fcluster(Z, 1.5, criterion="distance")
    assert labels[0] == labels[1] != labels[2]
    c, coph = cophenet(Z, np.array([1.0, 3.0, 2.0]))
    np.testing.assert_almost_equal(coph, [1.0, 2.0, 2.0])


def test_hierarchical_clusters_pipeline():
    rng = np.random.RandomState(11)
    base = rng.uniform(size=60)
    X = [base + rng.normal(0, 0.01, 60), base + rng.normal(0, 0.01, 60),
         rng.uniform(size=60)]
    r = hierarchical_clusters(X, 8, 2, criterion="maxclust")
    assert r["class"] == "hclusters"
    assert r["assignments"][0] == r["assignments"][1] != r["assignments"][2]
    with pytest.raises(ValueError):
        hierarchical_clusters(X, 8, 2, method="bogus")


# -------------------------------------------------------------- workflows

def test_compute_dispatch_fields(sampledata):
    p = W.compute(sampledata, windows=32)
    assert p["algorithm"] == "mpx" and p["class"] == "MatrixProfile"
    assert p["ez"] == 0 and p["join"] is False  # reference ez quirk
    p = W.compute(sampledata, windows=32, sample_pct=0.5, seed=7)
    assert p["algorithm"] == "scrimp++" and p["sample_pct"] == 0.5
    p = W.compute(sampledata, windows=[16, 32])
    assert p["class"] == "PMP" and p["algorithm"] == "skimp"
    with pytest.raises(ValueError):
        W.compute(sampledata, windows=2)
    with pytest.raises(ValueError):
        W.compute(sampledata, threshold=None)


def test_analyze_appends_discoveries(sampledata):
    p = W.analyze(sampledata, windows=32)
    assert "motifs" in p and "discords" in p
    assert len(p["discords"]) <= 3


def test_pmp_discords_and_motifs(sampledata):
    p = W.compute(sampledata, windows=[16, 32])
    p = W.discords(p)
    assert p["discords"].shape[1] == 2  # (row, col) pairs
    p = W.motifs(p)
    assert all(len(m["motifs"]) == 2 for m in p["motifs"])


def _require_native():
    """The loaded native module. Skips only where no library is expected
    (no cc, or the MPX_SPARK_NO_NATIVE opt-out); otherwise a library that
    failed to build, load or self-test fails the test with its reason."""
    from matrixprofile_spark.kernels import _native

    if not _native.available():
        if shutil.which("cc") is None or os.environ.get("MPX_SPARK_NO_NATIVE"):
            pytest.skip("no compiler on this host, or MPX_SPARK_NO_NATIVE set")
        pytest.fail(f"native MPX kernel did not load: {_native.BUILD_ERROR}")
    return _native


def test_native_kernel_matches_numpy(monkeypatch):
    """Compiled diagonal scan vs the NumPy blocked kernel: same mp to fp
    rounding of the seed dot product, on self-join, diag_range partials,
    and both AB-join sides."""
    from matrixprofile_spark.kernels import mpx as M

    _require_native()
    rng = np.random.RandomState(7)
    x = np.cumsum(rng.randn(3000))
    y = np.cumsum(rng.randn(2200))

    mp_n, _ = M.mpx_self_join(x, 24)
    part_n = M.mpx_self_join(x, 24, diag_range=(100, 400))
    ab_n = M.mpx_ab_join(x, y, 24)
    monkeypatch.setattr(M._native, "available", lambda: False)
    mp_p, _ = M.mpx_self_join(x, 24)
    part_p = M.mpx_self_join(x, 24, diag_range=(100, 400))
    ab_p = M.mpx_ab_join(x, y, 24)

    np.testing.assert_allclose(mp_n, mp_p, atol=1e-7)
    np.testing.assert_allclose(part_n[0], part_p[0], atol=1e-10)
    np.testing.assert_allclose(ab_n[0], ab_p[0], atol=1e-7)
    np.testing.assert_allclose(ab_n[2], ab_p[2], atol=1e-7)


def _scan_inputs(kind, n, rng):
    if kind == "noise":
        return rng.randn(n)
    if kind == "walk":
        return np.cumsum(rng.randn(n))
    if kind == "periodic":  # exact integer repeats: many exact ties
        return np.tile(rng.randint(-5, 6, size=7).astype(float), n // 7 + 1)[:n]
    return rng.randint(0, 3, size=n).astype(float)  # flat windows, ties


@pytest.mark.parametrize("kind", ["noise", "walk", "periodic", "alphabet3"])
def test_native_scan_blocked_equals_one_diagonal_at_a_time(kind):
    """The compiled scan takes diagonals in vector blocks and resolves
    ties by rank (corr, then smaller diagonal, then column side). Fed
    one diagonal per call in ascending order it never forms a block, so
    it is the plain strictly-greater scan: both must give the same mp
    bits and pi, on full ranges and on bands whose bounds are not
    multiples of the block width or are narrower than one block."""
    import math

    from matrixprofile_spark.kernels.mpx import _diffs

    _native = _require_native()
    rng = np.random.RandomState(11)
    for n, w in ((40, 4), (150, 8), (260, 16), (400, 6), (400, 32)):
        x = _scan_inputs(kind, n, rng)
        mu, sig = muinvn(x, w)
        df, dg = _diffs(x, mu, w)
        pl = n - w + 1
        first = int(math.ceil(w / 4.0)) + 1
        bands = [(first, pl), (first + 13, pl - 5), (first + 3, first + 40),
                 (pl - 70, pl - 9)]
        for lo, hi in bands:
            lo, hi = max(lo, first), min(hi, pl)
            runs = []
            for spans in ([(lo, hi)], [(d, d + 1) for d in range(lo, hi)]):
                mp = np.full(pl, -1.0)
                mpi = np.full(pl, -1, dtype=np.int64)
                for a, b in spans:
                    _native.self_diags(x, mu, sig, df, dg, pl, w, a, b, mp, mpi)
                runs.append((mp, mpi))
            (mp_b, pi_b), (mp_1, pi_1) = runs
            assert np.array_equal(mp_b.view(np.int64), mp_1.view(np.int64)), (n, w, lo, hi)
            assert np.array_equal(pi_b, pi_1), (n, w, lo, hi)
