"""Seeded input generators for the benchmark workloads.

Every input is made with NumPy from ``numpy.random.default_rng(seed)`` and
staged to parquet with pyarrow before any Spark session starts, so the
engine only ever sees files on disk. The same seed gives byte-identical
inputs.

The transcript shape follows ``matrixprofile_spark.sources.synth`` (16..500
turns per conversation, a hot conversation every 167th, ~3 % of turns
skipped, inter-turn gaps from {1, 2, 5, 30, 300} s, text of 1..120
words), but drawn from a seeded generator instead of a fixed formula.
Every seed gets the same turn counts in its own order, so the input size
stays the same from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_S = 86_400
# a day-aligned engine epoch (2020-09-14T00:00:00Z) so day partitions
# of the ingest workload start on a boundary
EPOCH0 = 18_519 * DAY_S
GAPS_S = np.array([1, 2, 5, 30, 300], dtype=np.int64)
HOT_EVERY = 167
HOT_EXTRA = 2048
N_WORDS = 97
MAX_WORDS = 120

_WORDS = np.array(
    [" ".join([f"w{wd}"] * k) for wd in range(N_WORDS)
     for k in range(1, MAX_WORDS + 1)],
    dtype=object,
)


def _turns(rng: np.random.Generator, n_conv: int, spacing_s: float):
    """Per-turn (conv, turn_idx, ts_epoch, word, n_words) arrays."""
    # the same multiset of turn counts for every seed (the seed picks
    # their order and all content), so the input size, and with it the
    # job time, does not move with the seed
    nt = rng.permutation(16 + np.arange(n_conv) * 485 // n_conv)
    nt[::HOT_EVERY] += HOT_EXTRA
    conv = np.repeat(np.arange(n_conv), nt)
    starts = np.cumsum(nt) - nt
    j = np.arange(len(conv)) - np.repeat(starts, nt)
    keep = (j == 0) | (rng.random(len(conv)) >= 0.03)
    conv, j = conv[keep], j[keep]
    gap = GAPS_S[rng.integers(0, len(GAPS_S), len(conv))]
    gap[j == 0] = 0
    csum = np.cumsum(gap)
    first = np.flatnonzero(j == 0)
    base = np.repeat(csum[first], np.diff(np.append(first, len(conv))))
    t_conv = (np.arange(n_conv) * spacing_s).astype(np.int64)
    jitter = rng.integers(0, max(1, int(spacing_s)), n_conv)
    ts = EPOCH0 + (t_conv + jitter)[conv] + (csum - base)
    word = rng.integers(0, N_WORDS, len(conv))
    n_words = rng.integers(1, MAX_WORDS + 1, len(conv))
    return conv, j, ts, word, n_words


def _conv_ids(conv: np.ndarray, n_conv: int) -> pa.Array:
    names = pa.array([f"conv-{i:05d}" for i in range(n_conv)])
    return names.take(pa.array(conv))


def _write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Stage as ``n_files`` files split on row ranges (a lake table is
    many files, so the scan stage gets one task per file)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def stage_transcripts(seed: int, n_conv: int, path: str,
                      n_files: int = 8) -> dict:
    """Transcripts table (conv_id, turn_idx, role, text, tool, ts_epoch).

    Returns the series point count (every turn gives one latency and one
    token_count point) and, per metric, the exact non-NULL count and
    value sum the rollup tiers must reproduce (a conversation's first
    latency point is NULL)."""
    rng = np.random.default_rng(seed)
    conv, j, ts, word, n_words = _turns(rng, n_conv, spacing_s=977.0)
    is_tool = rng.random(len(conv)) < 0.1
    role = np.where(is_tool, "tool", np.where(j % 2 == 0, "user", "assistant"))
    tool = np.array(["search", "code", "browse"], dtype=object)[
        rng.integers(0, 3, len(conv))]
    text = _WORDS[word * MAX_WORDS + (n_words - 1)]
    table = pa.table({
        "conv_id": _conv_ids(conv, n_conv),
        "turn_idx": pa.array(j.astype(np.int32)),
        "role": pa.array(role.astype(object)),
        "text": pa.array(text),
        "tool": pa.array(np.where(is_tool, tool, None)),
        "ts_epoch": pa.array(ts),
    })
    _write_parts(table, path, n_files)
    # latency sums to each conversation's span, token_count to the
    # text lengths
    first = np.flatnonzero(j == 0)
    last = np.append(first[1:], len(conv)) - 1
    chars = n_words * np.where(word < 10, 2, 3) + n_words - 1
    return {"points": 2 * len(conv), "sums": {
        "latency": (len(conv) - n_conv, int((ts[last] - ts[first]).sum())),
        "token_count": (len(conv), int(chars.sum())),
    }}


def series_table(seed: int, n_conv: int, days: int) -> pa.Table:
    """Long-format series (conv_id, metric, idx, ts_epoch, value) whose
    conversations are spread evenly over ``days`` days; points past the
    last day are cut off, so exactly ``days`` day partitions exist."""
    rng = np.random.default_rng(seed)
    spacing = days * DAY_S / n_conv
    conv, j, ts, word, n_words = _turns(rng, n_conv, spacing_s=spacing)
    inside = ts < EPOCH0 + days * DAY_S
    conv, j, ts, n_words = conv[inside], j[inside], ts[inside], n_words[inside]
    # a text length stands in for the token_count value
    tok = (n_words * 4 - 1).astype(np.float64)
    lat = np.empty(len(ts), dtype=np.float64)
    lat[1:] = ts[1:] - ts[:-1]
    first = np.ones(len(ts), dtype=bool)
    first[1:] = conv[1:] != conv[:-1]
    ids = _conv_ids(conv, n_conv)
    n = len(ts)
    return pa.table({
        "conv_id": pa.concat_arrays([ids, ids]),
        "metric": pa.array(["latency"] * n + ["token_count"] * n),
        "idx": pa.array(np.concatenate([j, j]).astype(np.int64)),
        "ts_epoch": pa.array(np.concatenate([ts, ts])),
        "value": pa.array(np.concatenate([lat, tok]),
                          mask=np.concatenate([first, np.zeros(n, bool)])),
    })


def stage_ingest(seed: int, n_conv: int, days: int, late_share: float,
                 raw_path: str, late_path: str) -> dict:
    """On-time raw source partitioned by ``day`` plus a late batch.

    A seeded ``late_share`` of the points is held back as the late
    batch; the rest is the day-partitioned raw source the incremental
    rollup starts from."""
    table = series_table(seed, n_conv, days)
    rng = np.random.default_rng(seed + 1)
    late = rng.random(table.num_rows) < late_share
    day = (table.column("ts_epoch").to_numpy() // DAY_S).astype(np.int64)
    on_time = table.filter(pa.array(~late)).append_column(
        "day", pa.array(day[~late]))
    days_seen = sorted(set(day[~late].tolist()))
    if len(days_seen) != days:
        raise ValueError(f"generator made {len(days_seen)} on-time days, "
                         f"not {days}; raise n_conv")
    pq.write_to_dataset(on_time, raw_path, partition_cols=["day"])
    _write_parts(table.filter(pa.array(late)), late_path, 4)
    return {"points": table.num_rows, "late_points": int(late.sum()),
            "days": days_seen}


def motif_series(seed: int, n_series: int, n_points: int) -> pa.Table:
    """NULL-free series: a random walk with a planted repeated shape,
    so each series has a real motif pair for discovery to find."""
    rng = np.random.default_rng(seed)
    walk = np.cumsum(rng.standard_normal((n_series, n_points)), axis=1)
    shape = np.sin(np.linspace(0, 6 * np.pi, 64)) * 8
    for s in range(n_series):
        for at in rng.choice(n_points - 64, 3, replace=False):
            walk[s, at:at + 64] += shape
    idx = np.tile(np.arange(n_points, dtype=np.int64), n_series)
    conv = np.repeat(np.arange(n_series), n_points)
    return pa.table({
        "conv_id": _conv_ids(conv, n_series),
        "metric": pa.array(["signal"] * (n_series * n_points)),
        "idx": pa.array(idx),
        "ts_epoch": pa.array(EPOCH0 + idx * 5),
        "value": pa.array(walk.ravel()),
    })


def stage_motif(seed: int, n_series: int, n_points: int, path: str) -> dict:
    _write_parts(motif_series(seed, n_series, n_points), path, 4)
    return {"points": n_series * n_points, "series": n_series}
