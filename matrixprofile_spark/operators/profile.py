"""Arrow bridge: matrix-profile kernels as grouped pandas UDFs.

Every numeric kernel from matrixprofile_spark.kernels runs here per
(conv_id, metric[, w]) group through applyInPandas — Arrow-batched,
zero per-row Python (BASELINE.json input_hint requirement). Parallelism
comes from Spark partitioning across series and series pairs. It stands
in for both of the reference's parallel plans: the OpenMP prange over
diagonals (cympx.pyx:78) and the multiprocessing pool over STOMP row
batches (stomp.py:311-328). One series' profile runs in one task; a hot
series splits by diagonal bands instead (operators/salted.py).

Every packed-series operator is one `_kernel_stage(src, keys, schema,
kernel)`: it places the rows by the group keys with an explicit count
(`_grouped`: one count-balanced wave when the group count is known),
checks each series against MAX_PACKED_POINTS (read on the driver when
the plan is built), and calls `kernel(key, values, pdf)`; a kernel
returns its output frame, or None to skip the series (e.g. too short
for its window) without computing anything. The two pair operators
(`pairwise_mpdist`, `ab_join_pairs`) are one `_pair_stage(pairs, w,
schema, kernel)` each: it runs per pair row, applies the same check to
both series of every pair and skips a pair with a series shorter
than 2w.

`_kernel_stage` records each stage it plans (weakly, by output
DataFrame). `with_discoveries` over a recorded per-series profile
stage on the same source replaces both stages with one fused stage:
the profile kernel and discovery run in one task, with no join back to
the series and no second exchange. Profiles from anywhere else (salted,
SKIMP worklist, streaming, stored or transformed tables) take the join.

Layout strategy (100 TB scale):
- `pack_series` first collapses each series to ONE row holding a sorted
  value array (shuffle on (conv_id, metric) — the only raw-data shuffle
  in the profile path). All kernel stages then move these packed rows,
  never raw points.
- window sweeps (SKIMP) parallelize by crossing packed rows with a tiny
  broadcast windows DataFrame — each (series, w) pair is an independent
  task, so a 200-window sweep over 10k conversations = 2M balanced tasks.
- single huge series don't fit one task → operators/salted.py splits
  the diagonal space into bands and merges partials with the
  associative max-by-correlation merge (cympx.pyx:104-112 semantics).
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matrixprofile_spark.kernels import discover as D
from matrixprofile_spark.kernels import workflows as W
from matrixprofile_spark.kernels.mpdist import mpdist
from matrixprofile_spark.kernels.scrimp import scrimp_plus_plus
from matrixprofile_spark.kernels.skimp import (
    NoSolutionPossible,
    maximum_subsequence,
    skimp,
)
from matrixprofile_spark.kernels.snippets import snippets as snippets_kernel
from matrixprofile_spark.kernels.stomp import stomp

PACKED_SCHEMA = "conv_id string, metric string, n long, values array<double>"

PROFILE_SCHEMA = (
    "conv_id string, metric string, w int, mp array<double>, pi array<long>, "
    "lmp array<double>, lpi array<long>, rmp array<double>, rpi array<long>, "
    "ez int, join boolean, sample_pct double, algorithm string"
)

DISCOVERY_SCHEMA = (
    "conv_id string, metric string, w int, "
    "discords array<long>, motif_pairs array<array<long>>, "
    "motif_neighbors array<array<long>>, regimes array<long>"
)

SNIPPET_SCHEMA = (
    "conv_id string, metric string, snippet_size int, rank int, "
    "index long, fraction double, neighbor_count long"
)

MPDIST_SCHEMA = (
    "conv_id_a string, conv_id_b string, metric string, w int, mpdist double"
)


def pack_series(series: DataFrame) -> DataFrame:
    """Collapse each (conv_id, metric) series into one row with the
    value array in idx order. NULL values become NaN (the reference's
    missing marker, core.py:141-192 semantics downstream)."""
    return (
        series.groupBy("conv_id", "metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "transform(array_sort(collect_list(struct(idx, value))),"
                " x -> coalesce(x.value, double('nan')))"
            ).alias("values"),
        )
    )


def _profile_row(key, prof: dict) -> pd.DataFrame:
    def arr(x, dtype):
        return None if x is None else np.asarray(x, dtype=dtype)

    return pd.DataFrame(
        [
            {
                "conv_id": key[0],
                "metric": key[1],
                "w": int(prof["w"]),
                "mp": arr(prof["mp"], "d"),
                "pi": arr(prof["pi"], "int64"),
                "lmp": arr(prof.get("lmp"), "d"),
                "lpi": arr(prof.get("lpi"), "int64"),
                "rmp": arr(prof.get("rmp"), "d"),
                "rpi": arr(prof.get("rpi"), "int64"),
                "ez": int(prof["ez"]),
                "join": bool(prof["join"]),
                "sample_pct": float(prof["sample_pct"]),
                "algorithm": prof["algorithm"],
            }
        ]
    )


# one packed series materializes as a single task's array; beyond this
# even the salted diagonal-band path keeps a full copy per band task
MAX_PACKED_POINTS = 200_000_000

# hierarchical_assignments collects the condensed pairwise matrix to the
# driver (mirroring the reference's driver-side scipy step); m series
# mean m(m-1)/2 rows, so an unbounded m would OOM the driver silently.
# 20k series ≈ 2·10⁸ pairs ≈ a few GB collected — the loud-failure
# ceiling, same pattern as MAX_PACKED_POINTS.
MAX_LINKAGE_SERIES = 20_000


def _packed_guard():
    """Size check for one packed series. MAX_PACKED_POINTS is read HERE,
    on the driver while the plan is built, and closed over: a Python
    worker re-imports this module and would only ever see the default."""
    limit = MAX_PACKED_POINTS

    def guard(values: np.ndarray, key) -> None:
        if len(values) > limit:
            raise ValueError(
                f"series {tuple(key)} has {len(values)} points > "
                f"MAX_PACKED_POINTS={limit}; a packed kernel task "
                "would exhaust executor memory — downsample via the rollup "
                "tiers or raise the limit deliberately"
            )

    return guard


def _runs_python(df: DataFrame) -> bool:
    """Whether ``df``'s plan runs a Python UDF before its first
    exchange, i.e. in the map side of any exchange put on top of it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()  # with the exchanges AQE will cut at
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if "Exchange" in name:
            continue
        if any(t in name for t in ("Pandas", "Python", "InArrow")):
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


def _grouped(src: DataFrame, *cols: str, n_groups: int | None = None):
    """Group for a kernel stage with an explicit task count.

    Kernel stages are CPU-bound with O(n²) flops per O(n) bytes, so
    AQE's byte-based coalescing would under-partition them; the rows are
    placed by the group keys with an explicit count instead
    (REPARTITION_BY_NUM — AQE honors it).

    With a known group count they are range-placed into
    ``min(cores, n_groups)`` tasks: one wave, and since every task of a
    Python stage pays a fixed cost that does not shrink with its kernel,
    fewer tasks is the saving. Spark's range exchange samples the keys
    in one small job over the input, up to 300 keys per output task;
    callers pass tens to hundreds of groups, so the sample holds every
    key and the bounds cut count-balanced partitions (hash placement of
    8 keys gave ``[1, 2, 1, 2, 0, 0, 0, 2]`` — 2 waves on 4 cores).
    Range partitioning on the keys satisfies the grouped UDF's
    clustering, so the stage keeps one exchange.

    That sampling job computes the input once more, so an input whose
    last stage runs a Python UDF (a chained kernel stage such as
    salted's merge or ``pmp_discords``) is hash-placed into
    ``max(cores, n_groups)`` tasks, at most 8× cores. So is an unknown
    group count, into 8× cores (thousands of series, where multi-wave
    scheduling evens out uneven sizes)."""
    cores = src.sparkSession.sparkContext.defaultParallelism
    if n_groups is None:
        placed = src.repartition(cores * 8, *cols)
    elif not _runs_python(src):
        placed = src.repartitionByRange(max(1, min(cores, n_groups)), *cols)
    else:
        placed = src.repartition(min(cores * 8, max(cores, n_groups)), *cols)
    return placed.groupBy(*cols)


# output DataFrame -> (src, keys, schema, kernel, n_groups) of every
# _kernel_stage, so with_discoveries can fuse into the stage that made
# its profiles; weak keys keep no DataFrame alive
_STAGES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _kernel_stage(src: DataFrame, keys, schema: str, kernel,
                  n_groups: int | None = None) -> DataFrame:
    """One grouped kernel stage over packed-series rows: ``kernel(key,
    values, pdf)`` runs once per ``keys`` group on the unpacked, guarded
    ``values`` and returns its frame, or None to skip the series — decided
    BEFORE computing, since a series below a kernel's minimum length would
    crash it. None becomes a column-less empty frame (zero rows)."""
    guard = _packed_guard()

    def fn(key, pdf):
        values = np.asarray(pdf["values"].iloc[0], dtype="d")
        guard(values, key)
        out = kernel(key, values, pdf)
        return pd.DataFrame() if out is None else out

    out = _grouped(src, *keys, n_groups=n_groups).applyInPandas(fn, schema)
    _STAGES[out] = (src, keys, schema, kernel, n_groups)
    return out


def _pair_stage(pairs: DataFrame, w: int, schema: str, kernel) -> DataFrame:
    """One pair-row kernel stage: ``kernel(r, va, vb)`` runs once per
    pair row ``r`` (``conv_id_a``, ``conv_id_b``, ``metric``,
    ``values_a``, ``values_b``) on both unpacked series, each checked
    against MAX_PACKED_POINTS, and returns its frame. A pair with a
    series shorter than 2w is skipped without computing anything; a
    batch with no frame yields a column-less empty frame (zero rows)."""
    guard = _packed_guard()

    def fn(pdf):
        frames = []
        for _, r in pdf.iterrows():  # one iteration per PAIR, not per point
            va, vb = (np.asarray(r[f"values_{s}"], dtype="d") for s in "ab")
            guard(va, (r["conv_id_a"], r["metric"]))
            guard(vb, (r["conv_id_b"], r["metric"]))
            if len(va) >= 2 * w and len(vb) >= 2 * w:
                frames.append(kernel(r, va, vb))
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()

    return pairs.mapInPandas(lambda it: (fn(pdf) for pdf in it), schema)


_SERIES = ("conv_id", "metric")


def mpx_profiles(series: DataFrame, w: int, packed: bool = False,
                 n_groups: int | None = None) -> DataFrame:
    """Exact MPX matrix profile per series (mpx.py:20-100 per group).

    Series shorter than 2w are dropped (the reference raises there;
    in a table of thousands of conversations we skip instead and the
    caller can anti-join to find skipped keys)."""
    src = series if packed else pack_series(series)

    def kernel(key, values, pdf):
        if len(values) < 2 * w:
            return None
        return _profile_row(key, W.mpx_profile(values, w))

    return _kernel_stage(src, _SERIES, PROFILE_SCHEMA, kernel, n_groups)


def stomp_profiles(series: DataFrame, w: int, packed: bool = False,
                   n_groups: int | None = None) -> DataFrame:
    """STOMP with left/right profiles per series (stomp.py:196-377)."""
    src = series if packed else pack_series(series)

    def kernel(key, values, pdf):
        if len(values) < 2 * w:
            return None
        return _profile_row(key, stomp(values, w))

    return _kernel_stage(src, _SERIES, PROFILE_SCHEMA, kernel, n_groups)


def scrimp_profiles(
    series: DataFrame, w: int, sample_pct: float = 0.1, seed: int = 0,
    packed: bool = False, n_groups: int | None = None,
) -> DataFrame:
    """SCRIMP++ approximate profile per series; the per-group seed is
    derived from the group key so results are reproducible across
    partitionings (engine requirement; reference is unseeded)."""
    src = series if packed else pack_series(series)

    def kernel(key, values, pdf):
        if len(values) < 2 * w:
            return None
        # zlib.crc32 — stable across processes (Python's hash() is salted)
        import zlib

        gseed = (zlib.crc32(f"{key[0]}|{key[1]}".encode()) ^ seed) & 0x7FFFFFFF
        prof = scrimp_plus_plus(values, w, sample_pct=float(sample_pct),
                                random_state=gseed)
        return _profile_row(key, prof)

    return _kernel_stage(src, _SERIES, PROFILE_SCHEMA, kernel, n_groups)


def skimp_profiles(
    series: DataFrame,
    windows=None,
    threshold: float = 0.98,
    sample_pct: float = 1.0,
    seed: int = 0,
    packed: bool = False,
    n_groups: int | None = None,
) -> DataFrame:
    """Pan-matrix-profile: one profile row per (series, w).

    With an explicit window list the sweep parallelizes as a broadcast
    join of packed series × windows — each pair is its own Spark task
    (skimp.py:97-243 re-expressed as rows instead of a 2-D matrix).
    With windows=None, the per-series doubling search
    (maximum_subsequence, skimp.py:246-384) runs in-kernel and emits
    rows for range(8, upper+1) like compute.py:116-126."""
    src = series if packed else pack_series(series)

    if windows is not None:
        spark = src.sparkSession
        wins = [int(x) for x in windows]
        if sample_pct < 1:
            # anytime semantics (skimp.py:168-191): the BFS split order
            # decides WHICH windows a truncated run has computed —
            # last_index = floor(len(order) * sample_pct). The order is
            # a pure function of the window list, so the pruning happens
            # HERE, before any kernel runs or any exchange: the sampled
            # sweep ships only the surviving (series × window) tasks.
            from matrixprofile_spark.kernels.skimp import binary_split

            order = binary_split(len(wins))
            last = min(int(math.floor(len(order) * sample_pct)), len(order))
            wins = [wins[order[i]] for i in range(last)]
        wdf = spark.createDataFrame([(x,) for x in wins], "w int")
        return skimp_profiles_from_worklist(
            src.join(F.broadcast(wdf)),
            n_groups=None if n_groups is None else n_groups * len(wins),
        )

    def sweep(key, values, pdf):  # windows=None: in-kernel doubling search
        if len(values) < 16:
            return None
        try:
            prof = W.compute(values, windows=None, threshold=threshold,
                             sample_pct=sample_pct, seed=seed)
        except NoSolutionPossible:  # no window under threshold: skip
            return None
        rows = []
        for i, w in enumerate(prof["windows"]):
            mp = prof["pmp"][i]
            pl = len(values) - int(w) + 1
            rows.append({
                "conv_id": key[0], "metric": key[1], "w": int(w),
                "mp": mp[:pl], "pi": prof["pmpi"][i][:pl].astype("int64"),
                "lmp": None, "lpi": None, "rmp": None, "rpi": None,
                "ez": int(np.floor(int(w) / 4)), "join": False,
                "sample_pct": float(sample_pct), "algorithm": "skimp",
            })
        return pd.DataFrame(rows)

    return _kernel_stage(src, _SERIES, PROFILE_SCHEMA, sweep, n_groups)


def skimp_profiles_from_worklist(worklist: DataFrame,
                                 n_groups: int | None = None) -> DataFrame:
    """One profile row per work-list row (conv_id, metric, values, w).

    The explicit work-list form exists so callers can prune it BEFORE
    the kernels run — streaming.incremental.run_skimp_memo anti-joins
    it against a persisted profile store (skimp.py:195-206 reuse
    semantics) and only missing (conv_id, metric, w) keys reach here."""

    def kernel(key, values, pdf):
        w = int(key[2])
        if len(values) < 2 * w:
            return None
        out = _profile_row((key[0], key[1]), W.mpx_profile(values, w))
        out["algorithm"] = "skimp"
        return out

    return _kernel_stage(worklist, (*_SERIES, "w"), PROFILE_SCHEMA, kernel,
                         n_groups)


def with_discoveries(
    profiles: DataFrame,
    series: DataFrame,
    k_motifs: int = 3,
    k_discords: int = 3,
    max_neighbors: int = 10,
    radius: float = 3,
    ez_override: int | None = None,
    packed: bool = False,
    zero_eps: float | None = None,
    n_groups: int | None = None,
) -> DataFrame:
    """Append motifs/discords/regimes per profile row.

    zero_eps: clamp near-zero profile distances to exactly 0 before the
    motif argmin scans (see kernels.discover.top_k_motifs) so picks on
    exact-duplicate windows are fp-noise-independent.

    Engine default ez = ceil(w/4): the reference's own dict reports
    ez=0 for MPX self-joins (mpx.py:91 quirk) which degenerates its
    motif search; pass ez_override=0 for strict parity.

    Fused path: when ``profiles`` is exactly the output of a per-series
    profile stage (mpx/stomp/scrimp_profiles, or skimp_profiles with
    windows=None) over this same source — the same packed DataFrame, or
    ``pack_series`` of the same series (``sameSemantics``) — profile and
    discovery run as ONE kernel stage grouped like the profile stage:
    the profile kernel, then one discovery row per profile row, on the
    values the task already holds (the reference's analyze/compute in
    one call, kernels/workflows.py). No join, no second exchange.

    Join path: any other profile table (salted, SKIMP worklist,
    streaming, stored, filtered or ``localCheckpoint``ed profiles) is
    joined back to the packed series on the series key (motifs re-query
    the raw values via MASS, top_k_motifs.py:251), then one grouped
    kernel per (series, w).

    A query that reads the profile table again after discovery
    (global_top_discords / global_top_motifs) runs the profile kernel in
    both branches, as the join path did (its plan held the mpx stage
    twice); the fused plan is one Python stage shorter. Measured faster
    at sf0.1 and on 8 × 16,384-point series (see global_top_discords).
    ``localCheckpoint`` the profiles first to run the kernel once."""
    src = series if packed else pack_series(series)

    def _discover_row(key, values, prof_row) -> dict:
        mp = np.asarray(prof_row["mp"], dtype="d")
        pi = np.asarray(prof_row["pi"], dtype="int64")
        w = int(prof_row["w"])
        ez = ez_override if ez_override is not None else int(np.ceil(w / 4.0))
        disc = D.top_k_discords(mp, w, ez=ez, k=k_discords)
        mot = D.top_k_motifs(values, mp, pi, w, ez=ez, k=k_motifs,
                             max_neighbors=max_neighbors, radius=radius,
                             zero_eps=zero_eps)
        cac = D.fluss(pi, w)
        reg = D.extract_regimes(cac, w) if len(cac) > 10 * w else np.array([], dtype="int64")
        return {
            "conv_id": key[0], "metric": key[1], "w": w,
            "discords": disc,
            "motif_pairs": [np.asarray(m["motifs"], dtype="int64") for m in mot],
            "motif_neighbors": [np.asarray(m["neighbors"], dtype="int64") for m in mot],
            "regimes": reg,
        }

    stage = _STAGES.get(profiles)
    if stage is not None:
        p_src, p_keys, p_schema, p_kernel, p_groups = stage
        if (p_keys == _SERIES and p_schema == PROFILE_SCHEMA
                and (p_src is src or p_src.sameSemantics(src))):

            def fused(key, values, pdf):
                prof = p_kernel(key, values, pdf)
                if prof is None:
                    return None
                return pd.DataFrame([_discover_row(key, values, r)
                                     for _, r in prof.iterrows()])

            return _kernel_stage(src, _SERIES, DISCOVERY_SCHEMA, fused,
                                 p_groups)

    def kernel(key, values, pdf):
        return pd.DataFrame([_discover_row(key, values, pdf.iloc[0])])

    joined = profiles.join(src, ["conv_id", "metric"])
    return _kernel_stage(joined, (*_SERIES, "w"), DISCOVERY_SCHEMA, kernel,
                         n_groups)


def snippet_profiles(
    series: DataFrame, snippet_size: int, num_snippets: int = 2,
    window_size: int | None = None, packed: bool = False,
    n_groups: int | None = None,
) -> DataFrame:
    """Representative snippets per series (snippets.py:17-126)."""
    src = series if packed else pack_series(series)

    def kernel(key, values, pdf):
        if len(values) < 2 * snippet_size:
            return None
        out = snippets_kernel(values, snippet_size, num_snippets=num_snippets,
                              window_size=window_size)
        return pd.DataFrame([
            {"conv_id": key[0], "metric": key[1],
             "snippet_size": snippet_size, "rank": i,
             "index": int(s["index"]), "fraction": float(s["fraction"]),
             "neighbor_count": len(s["neighbors"])}
            for i, s in enumerate(out)
        ])

    return _kernel_stage(src, _SERIES, SNIPPET_SCHEMA, kernel, n_groups)


def pairwise_mpdist(
    series: DataFrame, w: int, threshold: float = 0.05,
    metric: str = "token_count", packed: bool = False,
    max_pairs: int | None = 1_000_000,
) -> DataFrame:
    """All-pairs MPDist across conversations: the engine's genuine
    theta self-join (pairwise_dist.py:36-101 distributed). Packed rows
    join on conv_id_a < conv_id_b; each pair is one Arrow task.

    The operator IS quadratic by spec (a condensed all-pairs distance
    matrix) and is meant for small chosen sets; ``max_pairs`` refuses a
    plan whose n·(n−1)/2 pair count exceeds the bound (loud, with the
    measured n) instead of silently scheduling billions of Arrow tasks
    — the same audit-over-silence pattern as hot_lsh_buckets. Pass
    ``max_pairs=None`` to waive after sizing the cost."""
    src = (series if packed else pack_series(series)).where(
        F.col("metric") == metric
    )
    if max_pairs is not None:
        n = src.count()  # one cheap count vs an unbounded theta join
        n_pairs = n * (n - 1) // 2
        if n_pairs > max_pairs:
            raise ValueError(
                f"pairwise_mpdist: {n} series -> {n_pairs} pairs exceeds "
                f"max_pairs={max_pairs}; choose a smaller set (length-band "
                "or cluster prefilter), or pass max_pairs=None to force"
            )
    a = src.select(
        F.col("conv_id").alias("conv_id_a"),
        F.col("metric").alias("metric"),
        F.col("values").alias("values_a"),
    )
    b = src.select(
        F.col("conv_id").alias("conv_id_b"),
        F.col("metric").alias("metric_b"),
        F.col("values").alias("values_b"),
    )
    pairs = a.join(b, (F.col("conv_id_a") < F.col("conv_id_b"))
                   & (F.col("metric") == F.col("metric_b")))

    def kernel(r, va, vb):
        d = mpdist(va, vb, w, threshold=threshold) if len(va) >= len(vb) \
            else mpdist(vb, va, w, threshold=threshold)
        return pd.DataFrame([{
            "conv_id_a": r["conv_id_a"], "conv_id_b": r["conv_id_b"],
            "metric": r["metric"], "w": w, "mpdist": float(d),
        }])

    return _pair_stage(pairs, w, MPDIST_SCHEMA, kernel)


AB_SCHEMA = (
    "conv_id_a string, conv_id_b string, metric string, w int, "
    "side string, idx long, dist double"
)

CMP_SCHEMA = "conv_id string, metric string, w int, idx long, cmp double"

MAXW_SCHEMA = "conv_id string, metric string, upper_window int"


def ab_join_pairs(pairs: DataFrame, w: int) -> DataFrame:
    """AB similarity join per (series A, series B) pair — the reference's
    asymmetric theta-join on z-normalized distance (cympx.pyx:125-284).

    `pairs` rows: (conv_id_a, conv_id_b, metric, values_a, values_b).
    Output: one row per profile position and side ('a' = profile of A's
    windows against B, 'b' = B against A); unmatched rows are +inf in
    the reference and are dropped here (cympx.pyx:260-274 sentinel)."""
    from matrixprofile_spark.kernels.mpx import mpx_ab_join

    def kernel(r, va, vb):
        mp, _, mpb, _ = mpx_ab_join(va, vb, w)
        sides = []
        for side, prof in (("a", mp), ("b", mpb)):
            fin = np.isfinite(prof)
            sides.append(pd.DataFrame({
                "conv_id_a": r["conv_id_a"],
                "conv_id_b": r["conv_id_b"],
                "metric": r["metric"], "w": w, "side": side,
                "idx": np.arange(len(prof), dtype="int64")[fin],
                "dist": prof[fin],
            }))
        return pd.concat(sides, ignore_index=True)

    return _pair_stage(pairs, w, AB_SCHEMA, kernel)


def cmp_profiles(
    series: DataFrame, w: int, av: str = "complexity", packed: bool = False,
    n_groups: int | None = None,
) -> DataFrame:
    """Corrected matrix profile: cmp = mp + (1 − av) · max(mp)
    (transform.py:15-87; complexity AV transform.py:131-179)."""
    from matrixprofile_spark.kernels.transform import apply_av

    src = series if packed else pack_series(series)

    def kernel(key, values, pdf):
        if len(values) < 2 * w:
            return None
        prof = apply_av(W.mpx_profile(values, w), av)
        cmp_arr = prof["cmp"]
        return pd.DataFrame({
            "conv_id": key[0], "metric": key[1], "w": w,
            "idx": np.arange(len(cmp_arr), dtype="int64"), "cmp": cmp_arr,
        })

    return _kernel_stage(src, _SERIES, CMP_SCHEMA, kernel, n_groups)


def max_subsequence_windows(
    series: DataFrame, threshold: float = 0.95, packed: bool = False,
    n_groups: int | None = None,
) -> DataFrame:
    """Per-series maximum_subsequence window search (skimp.py:246-384):
    a driver-free variant — the doubling/refine loop runs inside each
    series' kernel task instead of as a driver loop issuing jobs."""
    src = series if packed else pack_series(series)

    def kernel(key, values, pdf):
        if len(values) < 16:
            return None
        try:
            uw = maximum_subsequence(values, threshold=threshold)
        except NoSolutionPossible:
            return None
        return pd.DataFrame([{
            "conv_id": key[0], "metric": key[1], "upper_window": int(uw),
        }])

    return _kernel_stage(src, _SERIES, MAXW_SCHEMA, kernel, n_groups)


def hierarchical_assignments(
    pair_dists: DataFrame, t: float, method: str = "single",
    criterion: str = "distance",
) -> DataFrame:
    """Cluster conversations from the distributed pairwise-MPDist table
    (hierarchical_clustering.py:18-146). The O(m²) linkage itself runs
    on the driver over the (small) collected condensed matrix — m is
    the number of SERIES, not points, so this holds at 100 TB too."""
    from matrixprofile_spark.kernels.cluster import fcluster, linkage

    spark = pair_dists.sparkSession
    n_pairs = pair_dists.count()
    max_pairs = MAX_LINKAGE_SERIES * (MAX_LINKAGE_SERIES - 1) // 2
    if n_pairs > max_pairs:
        raise ValueError(
            f"pair_dists has {n_pairs} pairs > {max_pairs} "
            f"(MAX_LINKAGE_SERIES={MAX_LINKAGE_SERIES}); collecting the "
            "condensed matrix would exhaust driver memory — cluster a "
            "chosen subset (pairwise_mpdist over a bounded series list) "
            "or raise the limit deliberately"
        )
    rows = pair_dists.select("conv_id_a", "conv_id_b", "mpdist").collect()
    ids = sorted({r["conv_id_a"] for r in rows} | {r["conv_id_b"] for r in rows})
    pos = {c: i for i, c in enumerate(ids)}
    m = len(ids)
    if len(rows) != m * (m - 1) // 2:
        raise ValueError(
            f"pair_dists must cover all {m * (m - 1) // 2} pairs of the "
            f"{m} series, got {len(rows)} rows (a missing pair would "
            "otherwise silently link clusters at distance 0)"
        )
    y = np.full(m * (m - 1) // 2, np.inf)
    for r in rows:
        i, j = sorted((pos[r["conv_id_a"]], pos[r["conv_id_b"]]))
        y[m * i + j - ((i + 2) * (i + 1)) // 2] = r["mpdist"]
    # row count alone can't catch a duplicate (a,b) pair masking a
    # missing one — an inf slot would silently corrupt the linkage
    if np.isinf(y).any():
        raise ValueError(
            "pairwise_mpdist output does not cover every (a, b) pair "
            "exactly once — condensed matrix has unfilled slots"
        )
    Z = linkage(y, method=method)
    assign = fcluster(Z, t, criterion=criterion)
    return spark.createDataFrame(
        [(c, int(a)) for c, a in zip(ids, assign)],
        "conv_id string, cluster int",
    )


PMP_DISCORD_SCHEMA = "conv_id string, metric string, rank int, w int, idx long"

PMP_MOTIF_SCHEMA = (
    "conv_id string, metric string, rank int, w int, "
    "first_idx long, second_idx long"
)


def _pmp_rows_to_matrix(pdf: pd.DataFrame):
    """Stack one series' per-window profile rows into the reference's
    2-D PMP shape (skimp.py:232-243): rows in ascending-window order,
    ragged tails padded with +inf (masked by the discovery kernels)."""
    pdf = pdf.sort_values("w")
    windows = pdf["w"].to_numpy(dtype="int64")
    lens = [len(m) for m in pdf["mp"]]
    maxlen = max(lens)
    pmp = np.full((len(pdf), maxlen), np.inf)
    pmpi = np.zeros((len(pdf), maxlen), dtype="int64")
    for r, (m, p) in enumerate(zip(pdf["mp"], pdf["pi"])):
        pmp[r, : len(m)] = np.asarray(m, dtype="d")
        pmpi[r, : len(p)] = np.asarray(p, dtype="int64")
    return windows, pmp, pmpi


def pmp_discords(pmp_profiles: DataFrame, k: int = 3,
                 n_groups: int | None = None) -> DataFrame:
    """Top-k discords over a pan-matrix-profile table — the reference's
    PMP dispatch (top_k_discords.py:16-91, served via :158-201): global
    2-D argmax with per-row exclusion ez = floor(w/2).

    Input: skimp_profiles output (one row per (conv_id, metric, w))."""

    def fn(key, pdf):
        windows, pmp, _ = _pmp_rows_to_matrix(pdf)
        prof = {"pmp": pmp, "windows": windows, "metric": "euclidean"}
        out = D.pmp_top_k_discords(prof, k=k)
        rows = [
            {"conv_id": key[0], "metric": key[1], "rank": i,
             "w": int(windows[rc[0]]), "idx": int(rc[1])}
            for i, rc in enumerate(out["discords"])
        ]
        return pd.DataFrame(
            rows, columns=["conv_id", "metric", "rank", "w", "idx"])

    return _grouped(pmp_profiles, "conv_id", "metric", n_groups=n_groups).applyInPandas(
        fn, PMP_DISCORD_SCHEMA
    )


def pmp_motifs(
    pmp_profiles: DataFrame, series: DataFrame, k: int = 3,
    max_neighbors: int = 10, radius: float = 3, packed: bool = False,
    zero_eps: float | None = None,
    n_groups: int | None = None,
) -> DataFrame:
    """Top-k motifs over a pan-matrix-profile table (top_k_motifs.py:
    16-171, served via :317-393): 2-D argmin pick, MASS re-query of the
    picked row's window against the raw series, neighbor suppression.
    Joins the PMP rows back to the packed series for the re-query."""
    src = series if packed else pack_series(series)
    joined = pmp_profiles.join(src.select("conv_id", "metric", "values"),
                               ["conv_id", "metric"])

    def kernel(key, values, pdf):
        windows, pmp, pmpi = _pmp_rows_to_matrix(pdf)
        prof = {
            "pmp": pmp, "pmpi": pmpi, "windows": windows,
            "metric": "euclidean", "data": {"ts": values},
        }
        out = D.pmp_top_k_motifs(prof, k=k, max_neighbors=max_neighbors,
                                 radius=radius, zero_eps=zero_eps)
        rows = [
            {"conv_id": key[0], "metric": key[1], "rank": i,
             "w": int(windows[m["motifs"][0][0]]),
             "first_idx": int(m["motifs"][0][1]),
             "second_idx": int(m["motifs"][1][1])}
            for i, m in enumerate(out["motifs"])
        ]
        return pd.DataFrame(rows, columns=[
            "conv_id", "metric", "rank", "w", "first_idx", "second_idx"])

    return _kernel_stage(joined, _SERIES, PMP_MOTIF_SCHEMA, kernel, n_groups)


def global_top_motifs(discoveries: DataFrame, profiles: DataFrame,
                      k: int = 10, zero_eps: float | None = None) -> DataFrame:
    """Cross-conversation top-k motif pairs: explode per-series motif
    pairs, look up each pair's distance, one global TakeOrderedAndProject
    — the motif twin of global_top_discords (SURVEY.md §2.6).

    The pair's distance is mp at whichever endpoint was the kernel's
    argmin: the argmin side carries dist(first, second) by definition
    and the other side's mp is ≤ it, so greatest(mp[f], mp[s]) recovers
    it without knowing which endpoint won. ``zero_eps`` mirrors
    with_discoveries' near-zero clamp so ordering matches the kernel's
    motif ranking exactly.

    When ``discoveries`` came from the fused with_discoveries stage, the
    profile kernel runs there and again for ``profiles`` here (the join
    path ran it twice too). bench_extra global_motifs_top10 at sf0.1,
    min of 6 reps, four interleaved runs: 2.07–2.36 s with the join
    path, 1.86–2.28 s fused. ``localCheckpoint`` the profiles first to
    run the kernel once."""
    exploded = discoveries.select(
        "conv_id", "metric", "w", F.explode("motif_pairs").alias("pair")
    ).select(
        "conv_id", "metric", "w",
        F.element_at("pair", 1).alias("first_idx"),
        F.element_at("pair", 2).alias("second_idx"),
    )
    with_mp = exploded.join(profiles.select("conv_id", "metric", "w", "mp"),
                            ["conv_id", "metric", "w"])
    d = F.greatest(
        F.element_at(F.col("mp"), F.col("first_idx").cast("int") + 1),
        F.element_at(F.col("mp"), F.col("second_idx").cast("int") + 1),
    )
    if zero_eps is not None:
        d = F.when(d < zero_eps, F.lit(0.0)).otherwise(d)
    return (
        with_mp.select("conv_id", "metric", "w", "first_idx", "second_idx",
                       d.alias("distance"))
        .orderBy("distance", "conv_id", "first_idx")
        .limit(k)
    )


def global_top_discords(discoveries: DataFrame, profiles: DataFrame, k: int = 10) -> DataFrame:
    """Cross-conversation top-k discords: explode per-series discords,
    look up their distances, TakeOrderedAndProject over the whole table
    (SURVEY.md §2.6 'global top-k' mapping).

    When ``discoveries`` came from the fused with_discoveries stage, the
    profile kernel runs there and again for ``profiles`` here (the join
    path ran it twice too). Min of 6 reps, interleaved runs, 4-core
    host: bench_extra global_discords_top10 at sf0.1 2.29–2.41 s with
    the join path, 2.04–2.15 s fused; 8 × 16,384-point series at w=32,
    collected, 2.27 / 2.63 s joined, 1.92 / 2.10 s fused.
    ``localCheckpoint`` the profiles first to run the kernel once."""
    exploded = discoveries.select(
        "conv_id", "metric", "w", F.explode("discords").alias("idx")
    )
    with_dist = exploded.join(profiles.select("conv_id", "metric", "w", "mp"),
                              ["conv_id", "metric", "w"])
    return (
        with_dist.select(
            "conv_id", "metric", "w", "idx",
            F.element_at(F.col("mp"), F.col("idx").cast("int") + 1).alias("distance"),
        )
        .orderBy(F.desc("distance"), "conv_id", "idx")
        .limit(k)
    )
