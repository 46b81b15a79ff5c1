"""MPX matrix profile kernel (pure NumPy, diagonal-blocked).

Re-derivation of the reference's Cython MPX
(/root/reference/matrixprofile/algorithms/cympx.pyx:30-119 self-join,
125-284 AB-join). The reference walks each diagonal with a scalar
streaming-covariance recurrence; the recurrence is prefix-summable, so
here each diagonal's covariances come from one np.cumsum, and diagonals
are processed in blocks of B as 2-D arrays to amortize NumPy dispatch —
same O(n²) flops, vectorized.

Numeric contract (golden-tested vs the reference's MATLAB files):
- minlag = ceil(w/4); self-join diagonals start at minlag+1 (cympx.pyx:82)
- df/dg difference equations exactly as cympx.pyx:76-80
- update rule "strictly greater than current best" with diagonal-ascending
  scan order (ties → smaller diagonal), col-row store clamped at 1.0
  (cympx.pyx:94-102); final merge clamps everything at 1.0
- Euclidean conversion sqrt(2w(1−ρ)); unmatched AB rows (ρ = −1
  sentinel) → +inf (cympx.pyx:260-274)

The `diag_range` arguments expose the diagonal-band decomposition used by
operators/salted.py to split one huge series across Spark tasks; partial
(mp, mpi) results merge associatively via max-by-correlation, mirroring
the per-thread merge at cympx.pyx:104-112.
"""

from __future__ import annotations

import math

import numpy as np
from numpy.lib.stride_tricks import as_strided

from matrixprofile_spark.kernels import _native
from matrixprofile_spark.kernels.moving import muinvn

_BLOCK = 128
_TILE = 1024  # column-tile width: keeps the per-tile working set (~1.2 MB
# at B=128) cache-resident so concurrent Spark python workers don't fight
# over DRAM bandwidth — the full-width variant capped at ~8× on 32 cores


def _diffs(ts: np.ndarray, mu: np.ndarray, w: int) -> tuple[np.ndarray, np.ndarray]:
    n = len(ts)
    pl = n - w + 1
    df = np.zeros(pl)
    dg = np.zeros(pl)
    df[1:] = 0.5 * (ts[w:] - ts[: n - w])
    dg[1:] = (ts[w:] - mu[1:]) + (ts[: n - w] - mu[:-1])
    return df, dg


def mpx_self_join(
    ts: np.ndarray,
    w: int,
    cross_correlation: bool = False,
    diag_range: tuple[int, int] | None = None,
    block: int = _BLOCK,
    tile: int = _TILE,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact matrix profile of ts against itself.

    diag_range=(lo, hi) restricts to diagonals lo..hi-1 (both already
    offset past minlag) and returns a PARTIAL profile in correlation
    space for later merging; None → full profile in the requested metric.

    The diagonal blocks are processed in cache-sized column tiles with a
    carried covariance (the cumsum split at tile boundaries); the
    anti-diagonal (col-row) reduction reads the SAME corr buffer through
    a sheared as_strided view (row stride R−E), so no scatter/gather and
    no second materialization — per-element DRAM traffic is just the
    df/dg/sig streams.
    """
    ts = np.ascontiguousarray(ts, dtype=np.float64)
    n = len(ts)
    pl = n - w + 1
    minlag = int(math.ceil(w / 4.0))
    mu, sig = muinvn(ts, w)
    df, dg = _diffs(ts, mu, w)

    mp = np.full(pl, -1.0)
    mpi = np.full(pl, -1, dtype=np.int64)

    lo, hi = (minlag + 1, pl) if diag_range is None else diag_range
    lo = max(lo, minlag + 1)
    hi = min(hi, pl)
    if hi <= lo:
        if diag_range is not None:
            return mp, mpi
        return finalize_self_join(mp, mpi, w, cross_correlation)

    if _native.available():
        # compiled diagonal-blocked scan (kernels/_native.py): same
        # recurrence and winners, about 27x the NumPy path below per
        # core (16,384 points at w=32 on an AVX-512 host: 0.063-0.074 s
        # against 1.81-1.97 s)
        mu = np.ascontiguousarray(mu)
        sig = np.ascontiguousarray(sig)
        _native.self_diags(ts, mu, sig, df, dg, pl, w, lo, hi, mp, mpi)
        if diag_range is not None:
            return mp, mpi
        return finalize_self_join(mp, mpi, w, cross_correlation)

    B, C = block, tile
    # padded copies so the sheared row views never run off the end
    pad = np.zeros(B + C)
    dfp = np.concatenate((df, pad))
    dgp = np.concatenate((dg, pad))
    sigp = np.concatenate((sig, pad))
    q0 = ts[:w] - mu[0]

    # reusable corr buffer: B rows × (C + B) cols; the last B columns are
    # a permanent -inf apron read by the sheared anti-diagonal view
    corr = np.full((B, C + B), -np.inf)
    tmp = np.empty((B, C))
    E = corr.strides[1]
    R = corr.strides[0]

    for d0 in range(lo, hi, B):
        b = min(B, hi - d0)
        m0 = pl - d0  # widest diagonal in this block
        # seed covariances: c0[r] = (ts[d:d+w]-mu[d])·(ts[:w]-mu[0])
        idx = np.arange(w)[None, :] + np.arange(d0, d0 + b)[:, None]
        carry = (ts[idx] - mu[d0 : d0 + b, None]) @ q0
        prev_cw = C
        for o0 in range(0, m0, C):
            cw = min(C, m0 - o0)
            sub = corr[:b, :cw]
            # terms of the difference equation (cympx.pyx:76-80), summed
            # along each diagonal via a carried prefix sum
            DG = as_strided(dgp[d0 + o0 :], shape=(b, cw), strides=(E, E))
            DF = as_strided(dfp[d0 + o0 :], shape=(b, cw), strides=(E, E))
            tsub = tmp[:b, :cw]
            np.multiply(DG, df[None, o0 : o0 + cw], out=sub)
            np.multiply(DF, dg[None, o0 : o0 + cw], out=tsub)
            sub += tsub
            np.cumsum(sub, axis=1, out=sub)
            sub += carry[:, None]
            # carry covariance into the next tile BEFORE the corr scaling
            if o0 + cw < m0:
                carry = sub[:, cw - 1].copy()
            np.multiply(sub, sig[None, o0 : o0 + cw], out=sub)
            sub *= as_strided(sigp[d0 + o0 :], shape=(b, cw), strides=(E, E))
            # mask each diagonal's tail: row r valid while o0+c < m0 - r
            vstart = m0 - o0  # row 0's valid width in this tile
            if vstart < cw + b:
                for r in range(max(0, vstart - cw), b):
                    corr[r, max(vstart - r, 0) : cw] = -np.inf
            # clear stale cells from the previous (wider) tile so the
            # sheared view only sees -inf beyond this tile's width
            if cw < prev_cw:
                corr[:b, cw:prev_cw] = -np.inf
            prev_cw = cw

            # --- col-row (anti-diagonal) updates first: they read the
            # pre-tile state in the reference's scan order. max first,
            # argmax only over columns that actually beat the running
            # profile (rare once it converges) ---
            aw = min(cw + b, pl - d0 - o0)  # j = d0+o0+c must stay < pl
            anti = as_strided(corr, shape=(b, aw), strides=(R - E, E))
            cb = np.max(anti, axis=0)
            j0 = d0 + o0
            upd = cb > mp[j0 : j0 + aw]
            if upd.any():
                cols = np.nonzero(upd)[0]
                cb_r = np.argmax(anti[:, cols], axis=0)
                jj = j0 + cols
                mp[jj] = np.minimum(cb[cols], 1.0)
                mpi[jj] = o0 + cols - cb_r

            # --- offset-side updates ---
            best = np.max(sub, axis=0)
            upd2 = best > mp[o0 : o0 + cw]
            if upd2.any():
                tgt = np.nonzero(upd2)[0]
                best_r = np.argmax(sub[:, tgt], axis=0)
                mp[o0 + tgt] = best[tgt]
                mpi[o0 + tgt] = tgt + o0 + d0 + best_r
        # reset the written region for the next block
        corr[:b, :prev_cw] = -np.inf

    if diag_range is not None:
        return mp, mpi  # partial, correlation space

    return finalize_self_join(mp, mpi, w, cross_correlation)


def finalize_self_join(
    mp: np.ndarray, mpi: np.ndarray, w: int, cross_correlation: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Clamp + metric conversion (cympx.pyx:104-119)."""
    mp = np.minimum(mp, 1.0)
    if not cross_correlation:
        mp = np.sqrt(2.0 * w * (1.0 - mp))
    return mp, mpi


def merge_partials(
    parts: list[tuple[np.ndarray, np.ndarray]]
) -> tuple[np.ndarray, np.ndarray]:
    """Associative max-by-correlation merge of diagonal-band partials.

    Mirror of the per-thread merge at cympx.pyx:104-112; ties keep the
    earlier partial (bands are fed in ascending-diagonal order).
    """
    mp, mpi = parts[0][0].copy(), parts[0][1].copy()
    for p, pi in parts[1:]:
        upd = p > mp
        mp[upd] = p[upd]
        mpi[upd] = pi[upd]
    return mp, mpi


def mpx_ab_join(
    ts: np.ndarray,
    query: np.ndarray,
    w: int,
    cross_correlation: bool = False,
    block: int = _BLOCK,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Exact AB similarity join: profile of ts vs query and query vs ts.

    Asymmetric theta-join on z-normalized distance — cympx.pyx:125-284.
    Returns (mp, mpi, mpb, mpib).
    """
    ts = np.ascontiguousarray(ts, dtype=np.float64)
    query = np.ascontiguousarray(query, dtype=np.float64)
    mp, mpi, mpb, mpib = _ab_one_side(ts, query, w, block)
    # BA pass: swap roles, accumulate into the same logical profiles
    mp2b, mpi2b, mp2, mpi2 = _ab_one_side(query, ts, w, block)
    upd = mp2 > mp
    mp[upd] = mp2[upd]
    mpi[upd] = mpi2[upd]
    updb = mp2b > mpb
    mpb[updb] = mp2b[updb]
    mpib[updb] = mpi2b[updb]

    mp = np.minimum(mp, 1.0)
    mpb = np.minimum(mpb, 1.0)
    if not cross_correlation:
        unmatched = mp == -1.0
        mp = np.sqrt(2.0 * w * (1.0 - mp))
        mp[unmatched] = np.inf
        unmatchedb = mpb == -1.0
        mpb = np.sqrt(2.0 * w * (1.0 - mpb))
        mpb[unmatchedb] = np.inf
    return mp, mpi, mpb, mpib


def _ab_one_side(
    a: np.ndarray, bq: np.ndarray, w: int, block: int, tile: int = _TILE
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Diagonals starting at every offset of `a` vs `bq` (AB block of
    cympx.pyx:194-214). Returns partials in correlation space:
    (profile over a, its indices into bq, profile over bq, indices into a).

    Same cache-tiled layout as the self-join: diagonal blocks × column
    tiles with carried covariance; the a-side (anti-diagonal) reduction
    reads the corr buffer through a sheared as_strided view.
    """
    pla = len(a) - w + 1
    plb = len(bq) - w + 1
    mua, siga = muinvn(a, w)
    mub, sigb = muinvn(bq, w)
    dfa, dga = _diffs(a, mua, w)
    dfb, dgb = _diffs(bq, mub, w)

    mpa = np.full(pla, -1.0)
    mpia = np.full(pla, -1, dtype=np.int64)
    mpb = np.full(plb, -1.0)
    mpib = np.full(plb, -1, dtype=np.int64)

    if _native.available():
        _native.ab_diags(
            a, np.ascontiguousarray(mua), np.ascontiguousarray(siga),
            dfa, dga,
            bq, np.ascontiguousarray(mub), np.ascontiguousarray(sigb),
            dfb, dgb, pla, plb, w, mpa, mpia, mpb, mpib,
        )
        return mpa, mpia, mpb, mpib

    B, C = block, tile
    pad = np.zeros(B + C)
    dfap = np.concatenate((dfa, pad))
    dgap = np.concatenate((dga, pad))
    sigap = np.concatenate((siga, pad))
    q0 = bq[:w] - mub[0]

    corr = np.full((B, C + B), -np.inf)
    tmp = np.empty((B, C))
    E = corr.strides[1]
    R = corr.strides[0]

    for d0 in range(0, pla, B):
        b = min(B, pla - d0)
        m0 = min(plb, pla - d0)  # widest diagonal (row 0) in this block
        if m0 <= 0:
            break
        idx = np.arange(w)[None, :] + np.arange(d0, d0 + b)[:, None]
        carry = (a[idx] - mua[d0 : d0 + b, None]) @ q0
        prev_cw = C
        for o0 in range(0, m0, C):
            cw = min(C, m0 - o0)
            sub = corr[:b, :cw]
            DGA = as_strided(dgap[d0 + o0 :], shape=(b, cw), strides=(E, E))
            DFA = as_strided(dfap[d0 + o0 :], shape=(b, cw), strides=(E, E))
            tsub = tmp[:b, :cw]
            np.multiply(DFA, dgb[None, o0 : o0 + cw], out=sub)
            np.multiply(DGA, dfb[None, o0 : o0 + cw], out=tsub)
            sub += tsub
            np.cumsum(sub, axis=1, out=sub)
            sub += carry[:, None]
            if o0 + cw < m0:
                carry = sub[:, cw - 1].copy()
            np.multiply(sub, sigb[None, o0 : o0 + cw], out=sub)
            sub *= as_strided(sigap[d0 + o0 :], shape=(b, cw), strides=(E, E))
            # row r valid while offset j < min(plb, pla-(d0+r)):
            # the plb bound is the tile loop itself; mask the pla bound
            vstart = pla - d0 - o0  # row 0's a-side remaining width
            if vstart < cw + b:
                for r in range(max(0, vstart - cw), b):
                    corr[r, max(vstart - r, 0) : cw] = -np.inf
            if cw < prev_cw:
                corr[:b, cw:prev_cw] = -np.inf
            prev_cw = cw

            # --- b-side updates first (original AB scan order) ---
            best = np.max(sub, axis=0)
            updb = best > mpb[o0 : o0 + cw]
            if updb.any():
                tgt = np.nonzero(updb)[0]
                best_r = np.argmax(sub[:, tgt], axis=0)
                mpb[o0 + tgt] = best[tgt]
                mpib[o0 + tgt] = tgt + o0 + d0 + best_r

            # --- a-side (anti-diagonal) updates ---
            aw = min(cw + b, pla - d0 - o0)
            if aw > 0:
                anti = as_strided(corr, shape=(b, aw), strides=(R - E, E))
                cb = np.max(anti, axis=0)
                k0 = d0 + o0
                upd = cb > mpa[k0 : k0 + aw]
                if upd.any():
                    cols = np.nonzero(upd)[0]
                    cb_r = np.argmax(anti[:, cols], axis=0)
                    kk = k0 + cols
                    mpa[kk] = cb[cols]
                    mpia[kk] = o0 + cols - cb_r
        corr[:b, :prev_cw] = -np.inf
    return mpa, mpia, mpb, mpib
