"""Optional compiled fast path for the MPX streaming-covariance scan.

The reference ships a Cython kernel (cympx.pyx) built at install time;
this engine's equivalent is a small C source compiled once per host
with the system compiler and loaded via ctypes. The NumPy blocked
kernel in kernels/mpx.py remains the reference implementation and the
automatic fallback (no compiler, sandboxed executor, or
MPX_SPARK_NO_NATIVE=1).

The routines implement the same numeric contract as the NumPy kernel
(mpx.py module docstring): per-diagonal streaming covariance seeded by
an explicit dot product and df/dg difference-equation updates.
Summation order along a diagonal is identical to the NumPy cumsum, so
both paths agree to fp rounding of the seed dot product.

The self-join scan (`mpx_self_diags`) is diagonal-blocked: 64
diagonals (8 GCC vector-extension lanes × 8 vectors, portable C with
no intrinsics) share one walk over the offsets, each lane keeping its
own recurrence with the same expressions as a one-diagonal scan, so
every correlation has the same bits. Profile slots keep the winner of
a total order: larger correlation; on a tie the smaller diagonal; on
the same diagonal the column side (neighbour < slot) before the row
side. That is the winner of the strictly-greater scan in ascending
diagonals, so results do not depend on the block width. Block tails,
and bands narrower than a block, run one diagonal at a time through
the same tie-aware update. The AB-join scan (`mpx_ab_diags`) is still
one diagonal at a time.

The .so is cached in a user-owned 0700 cache dir keyed by a hash of
the source + compile flags + machine + compiler identity, so Spark
python workers on one host compile at most once (atomic os.replace
publish — concurrent workers race benignly). Before loading, the cache
file's ownership is verified (a world-writable shared path would let
another local user pre-plant a library) and a zero-input self-test
call checks the ABI and the tie rule. Any failure falls back to the
NumPy kernel; its reason is kept in BUILD_ERROR and warned once.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import warnings

import numpy as np

_SRC = r"""
#include <stdint.h>
#include <string.h>

/* Matrix-profile diagonal scan over diagonals d in [lo, hi): each
   diagonal streams its own covariance recurrence and offers the Pearson
   correlation of the pair (o, o+d) to both profile slots. Diagonals run
   in blocks of BLOCK = LANES x VECS that share one walk over o; each
   lane keeps the expressions and order of a one-diagonal scan, so every
   corr has the same bits, and offer() ranks ties so the winners do not
   depend on the order the block visits pairs in. */

#define LANES 8
#define VECS 8
#define BLOCK (LANES * VECS)

typedef double v8d __attribute__((vector_size(LANES * sizeof(double))));
typedef int64_t v8l __attribute__((vector_size(LANES * sizeof(int64_t))));

/* Rank of the pair holding slot p with neighbour q: 2d for the column
   side (q < p), 2d+1 for the row side (q > p). A holder from before
   this call (no neighbour yet, or a diagonal at or past hi) ranks first,
   so it keeps the slot on a tie, as a strictly-greater scan would. */
static inline int64_t held_rank(int64_t p, int64_t q, int64_t hi)
{
    if (q < 0) return -1;
    const int64_t d = q < p ? p - q : q - p;
    return d >= hi ? -1 : 2 * d + (q > p);
}

/* Fold pair (p, q) into slot p: a larger corr wins; a tie goes to the
   smaller rank. */
static inline void offer(double *mp, int64_t *mpi, int64_t p, int64_t q,
                         double corr, int64_t rank, int64_t hi)
{
    const double cur = mp[p];
    if (!(corr >= cur)) return;
    if (corr > cur || rank < held_rank(p, mpi[p], hi)) {
        mp[p] = corr;
        mpi[p] = q;
    }
}

static double seed(const double *ts, const double *mu, int64_t w, int64_t d)
{
    double cov = 0.0;
    const double mud = mu[d], mu0 = mu[0];
    for (int64_t k = 0; k < w; k++)
        cov += (ts[d + k] - mud) * (ts[k] - mu0);
    return cov;
}

/* Diagonal d from offset o0 to its end, one offset at a time; cov is
   the covariance at o0 - 1 (or the seed when o0 == 0). */
static void diag_tail(const double *sig, const double *df, const double *dg,
                      int64_t pl, int64_t hi, int64_t d, int64_t o0,
                      double cov, double *mp, int64_t *mpi)
{
    for (int64_t o = o0; o < pl - d; o++) {
        if (o > 0)
            cov += df[o] * dg[o + d] + df[o + d] * dg[o];
        const double corr = cov * sig[o] * sig[o + d];
        offer(mp, mpi, o + d, o, corr, 2 * d, hi);
        offer(mp, mpi, o, o + d, corr, 2 * d + 1, hi);
    }
}

static inline v8d load(const double *p)
{
    v8d v;
    memcpy(&v, p, sizeof v);
    return v;
}

/* Diagonals d0 .. d0+BLOCK-1 together while all are in range (offsets
   below pl - (d0+BLOCK-1)), then each lane's remainder alone. */
static void diag_block(const double *ts, const double *mu, const double *sig,
                       const double *df, const double *dg,
                       int64_t pl, int64_t w, int64_t hi, int64_t d0,
                       double *mp, int64_t *mpi)
{
    double cv[BLOCK];
    for (int l = 0; l < BLOCK; l++)
        cv[l] = seed(ts, mu, w, d0 + l);
    v8d cov[VECS];
    memcpy(cov, cv, sizeof cov);
    const int64_t m = pl - (d0 + BLOCK - 1);
    for (int64_t o = 0;;) {
        const double sigo = sig[o], mpo = mp[o];
        v8d corr[VECS];
        v8l hit = {0};
        for (int k = 0; k < VECS; k++) {
            const int64_t j = o + d0 + k * LANES;
            corr[k] = cov[k] * sigo * load(sig + j);
            hit |= (corr[k] >= load(mp + j)) | (corr[k] >= mpo);
        }
        int64_t any = 0;
        for (int l = 0; l < LANES; l++)
            any |= hit[l];
        if (any) {
            double c[BLOCK];
            memcpy(c, corr, sizeof c);
            for (int l = 0; l < BLOCK; l++) {
                const int64_t d = d0 + l;
                offer(mp, mpi, o + d, o, c[l], 2 * d, hi);
                offer(mp, mpi, o, o + d, c[l], 2 * d + 1, hi);
            }
        }
        if (++o == m)
            break;
        const double dfo = df[o], dgo = dg[o];
        for (int k = 0; k < VECS; k++) {
            const int64_t j = o + d0 + k * LANES;
            cov[k] += dfo * load(dg + j) + load(df + j) * dgo;
        }
    }
    memcpy(cv, cov, sizeof cv);
    for (int l = 0; l < BLOCK; l++)
        diag_tail(sig, df, dg, pl, hi, d0 + l, m, cv[l], mp, mpi);
}

void mpx_self_diags(const double *ts, const double *mu, const double *sig,
                    const double *df, const double *dg,
                    int64_t pl, int64_t w, int64_t lo, int64_t hi,
                    double *mp, int64_t *mpi)
{
    int64_t d = lo;
    for (; d + BLOCK <= hi; d += BLOCK)
        diag_block(ts, mu, sig, df, dg, pl, w, hi, d, mp, mpi);
    for (; d < hi; d++)
        diag_tail(sig, df, dg, pl, hi, d, 0, seed(ts, mu, w, d), mp, mpi);
}

/* AB-join one-side scan: diagonals of series a (length pla windows)
   against query b (plb windows); profiles update on both sides. */
void mpx_ab_diags(const double *a, const double *mua, const double *siga,
                  const double *dfa, const double *dga,
                  const double *bq, const double *mub, const double *sigb,
                  const double *dfb, const double *dgb,
                  int64_t pla, int64_t plb, int64_t w,
                  double *mpa, int64_t *mpia, double *mpb, int64_t *mpib)
{
    for (int64_t d = 0; d < pla; d++) {
        int64_t m = plb < pla - d ? plb : pla - d;
        if (m <= 0) break;
        double cov = 0.0;
        const double mud = mua[d], mu0 = mub[0];
        for (int64_t k = 0; k < w; k++)
            cov += (a[d + k] - mud) * (bq[k] - mu0);
        for (int64_t o = 0; o < m; o++) {
            if (o > 0)
                cov += dfa[o + d] * dgb[o] + dga[o + d] * dfb[o];
            const double corr = cov * siga[o + d] * sigb[o];
            const int64_t i = o + d;
            if (corr > mpb[o]) { mpb[o] = corr; mpib[o] = i; }
            if (corr > mpa[i]) { mpa[i] = corr; mpia[i] = o; }
        }
    }
}
"""

_CFLAGS = ("-O3", "-march=native", "-fPIC", "-shared")

_D = ctypes.POINTER(ctypes.c_double)
_L = ctypes.POINTER(ctypes.c_int64)
_I64 = ctypes.c_int64


def _ptr_d(a: np.ndarray):
    return a.ctypes.data_as(_D)


def _ptr_l(a: np.ndarray):
    return a.ctypes.data_as(_L)


def _cache_tag() -> str:
    """Source + flags + machine + compiler identity: a binary built for
    another microarchitecture (VM migration, shared cache volume), by
    another compiler or with other flags gets a different name instead
    of a SIGILL mid-job or a stale library."""
    import platform

    try:
        ccv = subprocess.run(
            ["cc", "-dumpversion"], capture_output=True, timeout=10
        ).stdout
    except Exception:
        ccv = b"?"
    ident = b"|".join((_SRC.encode(), " ".join(_CFLAGS).encode(),
                       platform.machine().encode(), ccv))
    return hashlib.sha256(ident).hexdigest()[:16]


def _cache_dir() -> str:
    """User-owned 0700 cache dir (never the shared world-writable temp
    root — another local user could pre-plant a .so there)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    for root in (base, tempfile.gettempdir()):
        d = os.path.join(root, f"mpx_spark-{os.getuid()}")
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
            os.chmod(d, 0o700)
            if os.stat(d).st_uid == os.getuid():
                return d
        except OSError:
            continue
    raise OSError("no writable user-owned cache dir")


def _self_test(lib) -> bool:
    """Zero-input call over one full diagonal block plus a few single
    diagonals: exercises argument marshaling, both scan paths and the
    tie rule. Every pair ties at corr 0, so each slot must go to its
    smallest diagonal, column side first (an ABI mismatch shows up as
    garbage indices or wrong fills)."""
    pl, w = 70, 2
    z = np.zeros(pl + w - 1)
    zz = np.zeros(pl)
    mp = np.full(pl, -1.0)
    mpi = np.full(pl, -1, dtype=np.int64)
    lib.mpx_self_diags(
        _ptr_d(z), _ptr_d(zz), _ptr_d(zz), _ptr_d(zz), _ptr_d(zz),
        pl, w, 1, pl, _ptr_d(mp), _ptr_l(mpi),
    )
    want = np.arange(-1, pl - 1)
    want[0] = 1
    return bool((mp == 0.0).all() and (mpi == want).all())


def _load():
    """Compile (once per cache tag), verify and load the library; raises
    with the reason on any failure."""
    cached = os.path.join(_cache_dir(), f"mpx_native_{_cache_tag()}.so")
    if not os.path.exists(cached):
        with tempfile.TemporaryDirectory() as td:
            src = os.path.join(td, "mpx_native.c")
            so = os.path.join(td, "mpx_native.so")
            with open(src, "w") as f:
                f.write(_SRC)
            cc = subprocess.run(["cc", *_CFLAGS, "-o", so, src],
                                capture_output=True, timeout=120)
            if cc.returncode != 0:
                raise RuntimeError(
                    f"cc exited {cc.returncode}: "
                    f"{cc.stderr.decode(errors='replace')[-2000:]}")
            os.replace(so, cached)
    if os.stat(cached).st_uid != os.getuid():
        raise RuntimeError(f"{cached} is not owned by this user")
    lib = ctypes.CDLL(cached)
    lib.mpx_self_diags.argtypes = [
        _D, _D, _D, _D, _D,
        _I64, _I64, _I64, _I64,
        _D, _L,
    ]
    lib.mpx_self_diags.restype = None
    lib.mpx_ab_diags.argtypes = [
        _D, _D, _D, _D, _D, _D, _D, _D, _D, _D,
        _I64, _I64, _I64,
        _D, _L, _D, _L,
    ]
    lib.mpx_ab_diags.restype = None
    if not _self_test(lib):
        raise RuntimeError(f"{cached} failed its load-time self-test")
    return lib


# why the library is not loaded (None while it is)
BUILD_ERROR: str | None = None


def _build():
    """The loaded library, or None. Any failure other than the
    MPX_SPARK_NO_NATIVE opt-out is kept in BUILD_ERROR and warned once
    per process: the NumPy fallback is correct but far slower."""
    global BUILD_ERROR
    if os.environ.get("MPX_SPARK_NO_NATIVE"):
        BUILD_ERROR = "MPX_SPARK_NO_NATIVE is set"
        return None
    try:
        return _load()
    except Exception as exc:
        BUILD_ERROR = f"{type(exc).__name__}: {exc}"
        warnings.warn("native MPX kernel not loaded, using the NumPy "
                      f"kernel: {BUILD_ERROR}", RuntimeWarning, stacklevel=2)
        return None


_LIB = _build()


def available() -> bool:
    return _LIB is not None


def self_diags(ts, mu, sig, df, dg, pl, w, lo, hi, mp, mpi) -> None:
    _LIB.mpx_self_diags(
        _ptr_d(ts), _ptr_d(mu), _ptr_d(sig), _ptr_d(df), _ptr_d(dg),
        pl, w, lo, hi, _ptr_d(mp), _ptr_l(mpi),
    )


def ab_diags(a, mua, siga, dfa, dga, bq, mub, sigb, dfb, dgb,
             pla, plb, w, mpa, mpia, mpb, mpib) -> None:
    _LIB.mpx_ab_diags(
        _ptr_d(a), _ptr_d(mua), _ptr_d(siga), _ptr_d(dfa), _ptr_d(dga),
        _ptr_d(bq), _ptr_d(mub), _ptr_d(sigb), _ptr_d(dfb), _ptr_d(dgb),
        pla, plb, w, _ptr_d(mpa), _ptr_l(mpia), _ptr_d(mpb), _ptr_l(mpib),
    )
