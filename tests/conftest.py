from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from matrixprofile_spark.session import get_spark

    sp = get_spark("tests", cores=4, shuffle_partitions=8)
    yield sp


def _parquet_files(path):
    return sorted(os.path.join(root, f) for root, _, files in os.walk(path)
                  for f in files if f.endswith(".parquet"))


@pytest.fixture
def assert_stored_layout():
    """Checks every parquet file under a table path from its footer:
    each column chunk is zstd, each time column is delta-coded, and the
    file's rows are ordered by (conv_id, metric, *time_cols)."""
    import pyarrow.parquet as pq

    def check(path, time_cols=("bucket_epoch",)):
        files = _parquet_files(path)
        assert files, path
        order = ["conv_id", "metric", *time_cols]
        for f in files:
            pf = pq.ParquetFile(f)
            md = pf.metadata
            for g in range(md.num_row_groups):
                for c in range(md.num_columns):
                    chunk = md.row_group(g).column(c)
                    assert chunk.compression == "ZSTD", (f, chunk)
                    if chunk.path_in_schema in time_cols:
                        assert "DELTA_BINARY_PACKED" in chunk.encodings, (
                            f, chunk.path_in_schema, chunk.encodings)
            rows = pf.read(columns=order).to_pylist()
            keys = [tuple(r[k] for k in order) for r in rows]
            assert keys == sorted(keys), f
    return check


@pytest.fixture
def assert_bit_equal():
    """Two DataFrames hold the same rows, doubles compared by bit
    pattern (so -0.0 ≠ 0.0 and NaN payloads count)."""
    def check(got, want, keys):
        assert got.dtypes == want.dtypes
        a = got.toPandas().sort_values(keys).reset_index(drop=True)
        b = want.toPandas().sort_values(keys).reset_index(drop=True)
        assert len(a) == len(b) > 0
        for name, kind in got.dtypes:
            x, y = a[name].to_numpy(), b[name].to_numpy()
            if kind == "double":
                x, y = x.astype("float64").view("int64"), \
                    y.astype("float64").view("int64")
            assert (x == y).all(), name
    return check
