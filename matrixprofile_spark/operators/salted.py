"""Skew salting: one huge series split into diagonal bands across tasks.

The north_rule requires explicit skew handling for hot conversations
(e.g. a 10^5-turn agent transcript while the median is ~250 turns). A
grouped kernel puts the whole series in ONE task — the hot key becomes
the straggler. This operator reproduces the reference's per-thread
diagonal ranges (cympx.pyx:82 prange) as a two-phase Spark plan:

  1. explode each hot series into `bands` diagonal ranges → one task per
     (series, band) computes a PARTIAL profile in correlation space
     (kernels.mpx.mpx_self_join(diag_range=...));
  2. groupBy series → associative max-by-correlation merge + metric
     finalize (kernels.mpx.merge_partials semantics).

Cold series (below `hot_threshold` points) bypass salting and run the
plain one-task kernel — the plan unions both paths.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matrixprofile_spark.kernels.mpx import (
    finalize_self_join,
    merge_partials,
    mpx_self_join,
)
from matrixprofile_spark.operators.profile import (
    PROFILE_SCHEMA,
    _grouped,
    _kernel_stage,
    _profile_row,
    mpx_profiles,
    pack_series,
)

_PARTIAL_SCHEMA = (
    "conv_id string, metric string, band int, "
    "mp array<double>, pi array<long>"
)


def _band_bounds(pl: int, minlag: int, bands: int) -> list[tuple[int, int]]:
    """Equal-WORK partition of diagonals [minlag+1, pl).

    Diagonal d has pl-d cells, so cumulative work from lo is quadratic;
    split at the quantiles of the triangular area rather than equal
    diagonal counts, so every band carries ~the same flops."""
    lo, hi = minlag + 1, pl
    if hi - lo <= bands:
        return [(lo, hi)]
    total = (hi - lo) * (pl - lo + pl - hi + 1) / 2.0
    bounds = [lo]
    acc = 0.0
    target = total / bands
    d = lo
    while d < hi and len(bounds) < bands:
        acc += pl - d
        if acc >= target * len(bounds):
            bounds.append(d + 1)
        d += 1
    bounds.append(hi)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)
            if bounds[i] < bounds[i + 1]]


def salted_mpx_profiles(
    series: DataFrame,
    w: int,
    hot_threshold: int = 20_000,
    bands: int = 32,
    packed: bool = False,
    checkpoint: bool = True,
    n_groups: int | None = None,
) -> DataFrame:
    """MPX profiles with hot-series salting.

    Result is identical to mpx_profiles (tests assert bit-parity on the
    merged profile) — only the physical plan differs: hot keys fan out
    to `bands` tasks instead of one.

    ``checkpoint=False`` skips the input materialization for callers
    that pass an already-checkpointed/materialized packed input (e.g. a
    memoized bench fixture) — re-checkpointing one would copy its
    blocks on every call.

    ``n_groups`` (optional, an upper bound on the SERIES count) places
    every kernel stage like mpx_profiles' hint (``_grouped``): without it
    the cold path and both salted stages hash into 8×cores explicit
    partitions even when the cold split is empty. Callers that know the
    worklist bound (a chosen fixture, a per-batch hot-key list) should
    pass it; the partial stage scales it by ``bands``."""
    # localCheckpoint (not cache): blocks are reclaimed by the context
    # cleaner once this DataFrame is unreachable, so repeated calls in a
    # long-lived session don't accumulate storage
    src = series if packed else pack_series(series)
    if checkpoint:
        src = src.localCheckpoint()
    cold = src.where(F.col("n") < hot_threshold)
    hot = src.where(F.col("n") >= hot_threshold)

    cold_profiles = mpx_profiles(cold, w, packed=True, n_groups=n_groups)

    minlag = int(math.ceil(w / 4.0))
    band_ids = src.sparkSession.createDataFrame(
        [(i,) for i in range(bands)], "band int"
    )
    hot_banded = hot.join(F.broadcast(band_ids))

    def partial(key, values, pdf):
        band = int(key[2])
        bounds = _band_bounds(len(values) - w + 1, minlag, bands)
        if band >= len(bounds):
            return None
        mp, pi = mpx_self_join(values, w, diag_range=bounds[band])
        return pd.DataFrame([{
            "conv_id": key[0], "metric": key[1], "band": band,
            "mp": mp, "pi": pi,
        }])

    # every band task holds the whole hot series, so it is a kernel stage
    # with the one-task stages' size check; bands are equal-work by
    # construction (_band_bounds), so its count-balanced range placement
    # is work-balanced too
    partials = _kernel_stage(
        hot_banded, ("conv_id", "metric", "band"), _PARTIAL_SCHEMA, partial,
        None if n_groups is None else n_groups * bands)

    def merge_fn(key, pdf):
        pdf = pdf.sort_values("band")  # ascending-diagonal tie order
        parts = [
            (np.asarray(r["mp"], dtype="d"), np.asarray(r["pi"], dtype="int64"))
            for _, r in pdf.iterrows()
        ]
        mp, pi = merge_partials(parts)
        mp, pi = finalize_self_join(mp, pi, w, cross_correlation=False)
        prof = {
            "mp": mp, "pi": pi, "lmp": None, "lpi": None, "rmp": None,
            "rpi": None, "w": w, "ez": 0, "join": False, "sample_pct": 1,
            "algorithm": "mpx",
        }
        return _profile_row(key, prof)

    grouped_merge = _grouped(partials, "conv_id", "metric", n_groups=n_groups)
    hot_profiles = grouped_merge.applyInPandas(merge_fn, PROFILE_SCHEMA)
    return cold_profiles.unionByName(hot_profiles)
