"""STOMP matrix profile kernel (pure NumPy).

Re-derivation of /root/reference/matrixprofile/algorithms/stomp.py:
FFT-seeded first product, O(1) rolling dot-product update per row,
element-wise-min merge of row distance profiles; left/right profiles for
self-joins; exclusion zone ceil(w/2) (0 for AB-joins); NaN/Inf windows
skipped via the skip mask (core.py:141-167) after zero-cleaning
(core.py:170-192).

The reference splits the query rows into batches for a multiprocessing
pool (core.py:545-577 + stomp.py:311-357). Here one series' profile
runs in one Spark task, so `stomp` makes one pass over every query row;
parallelism comes from series across tasks, and a hot series is split
by MPX diagonal bands instead (operators/salted.py).
"""

from __future__ import annotations

import numpy as np

from matrixprofile_spark.kernels import mass as M
from matrixprofile_spark.kernels.moving import moving_avg_std


def find_skip_locations(ts: np.ndarray, profile_length: int, w: int) -> np.ndarray:
    """Windows containing NaN/Inf (core.py:141-167), vectorized."""
    bad = ~np.isfinite(ts)
    if not bad.any():
        return np.zeros(profile_length, dtype=bool)
    # a window starting at i is skipped if any of ts[i:i+w] is bad
    csum = np.concatenate(([0], np.cumsum(bad.astype(np.int64))))
    return (csum[w:] - csum[:-w])[:profile_length] > 0


def clean_nan_inf(ts: np.ndarray) -> np.ndarray:
    """NaN/Inf → 0 (core.py:170-192)."""
    ts = np.array(ts, dtype=np.float64)
    ts[~np.isfinite(ts)] = 0
    return ts


def stomp(ts: np.ndarray, w: int, query: np.ndarray | None = None) -> dict:
    """Exact matrix profile via STOMP (stomp.py:196-377 contract).

    Returns the reference's MatrixProfile dict shape (mp/pi/lmp/lpi/rmp/
    rpi/metric/w/ez/join/sample_pct/data/class/algorithm).
    """
    ts = np.asarray(ts, dtype=np.float64)
    is_join = query is not None and len(np.asarray(query)) > 0
    if is_join:
        query = np.asarray(query, dtype=np.float64)
    else:
        query = ts
    if w < 4:
        raise ValueError("window size must be at least 4.")
    if w > len(query) / 2:
        raise ValueError("Time series is too short relative to desired window size")

    n = len(ts)
    pl = n - w + 1
    num_queries = len(query) - w + 1
    ez = 0 if is_join else int(np.ceil(w / 2.0))

    skip_locs = find_skip_locations(ts, pl, w)
    ts = clean_nan_inf(ts)
    query = clean_nan_inf(query)

    data_mu, data_sig = moving_avg_std(ts, w)
    first_product = M.fft_convolve(ts, query[:w])

    mp = np.full(pl, np.inf)
    pi = np.zeros(pl, dtype=np.int64)
    lmp = rmp = lpi = rpi = None
    if not is_join:
        lmp = np.full(pl, np.inf)
        rmp = np.full(pl, np.inf)
        lpi = np.zeros(pl, dtype=np.int64)
        rpi = np.zeros(pl, dtype=np.int64)

    first_window = query[:w]
    last_product = first_product.copy()
    q_sum = np.sum(first_window)
    q_2sum = np.sum(first_window**2)
    q_mu, q_sig = moving_avg_std(first_window, w)
    drop = first_window[0]

    dp = M.distance_profile(last_product, w, data_mu, data_sig, q_mu, q_sig)
    dp = M.apply_exclusion_zone(ez, is_join, w, n, 0, dp)
    upd = dp < mp
    mp[upd] = dp[upd]
    pi[upd] = 0
    if not is_join:
        lmp[upd] = dp[upd]
        lpi[upd] = 0

    # the reference's batch loop runs one row past its end while that end
    # is short of the profile length: only an AB-join with a shorter
    # query gets there, and its profile keeps that extra row
    end = num_queries + 1 if num_queries < pl else num_queries
    for i in range(1, end):
        if skip_locs[i]:
            continue
        qw = query[i : i + w]
        q_sum = q_sum - drop + qw[-1]
        q_2sum = q_2sum - drop**2 + qw[-1] ** 2
        q_mu = q_sum / w
        with np.errstate(invalid="ignore"):
            q_sig = np.sqrt(q_2sum / w - q_mu**2)
        last_product[1:] = (
            last_product[: n - w] - ts[: n - w] * drop + ts[w:] * qw[-1]
        )
        last_product[0] = first_product[i]
        drop = qw[0]

        dp = M.distance_profile(last_product, w, data_mu, data_sig, q_mu, q_sig)
        dp = M.apply_exclusion_zone(ez, is_join, w, n, i, dp)

        upd = dp < mp
        mp[upd] = dp[upd]
        pi[upd] = i
        if not is_join:
            updl = np.zeros(pl, dtype=bool)
            updl[i:] = dp[i:] < lmp[i:]
            lmp[updl] = dp[updl]
            lpi[updl] = i
            updr = np.zeros(pl, dtype=bool)
            updr[:i] = dp[:i] < rmp[:i]
            rmp[updr] = dp[updr]
            rpi[updr] = i

    return {
        "mp": mp, "pi": pi, "rmp": rmp, "rpi": rpi, "lmp": lmp, "lpi": lpi,
        "metric": "euclidean",
        "w": w,
        "ez": ez,
        "join": is_join,
        "sample_pct": 1,
        "data": {"ts": ts, "query": query if is_join else None},
        "class": "MatrixProfile",
        "algorithm": "stomp",
    }
