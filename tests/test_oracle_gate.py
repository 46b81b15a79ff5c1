"""The local correctness gate (tools/check_oracle.py) and the oracle text
it checks against."""

from __future__ import annotations

import hashlib
import json

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E
from tools.check_oracle import compare

# sha256 of json.dumps(oracle_sql(), sort_keys=True) and of the sorted
# queries() names joined by newlines
ORACLE_SQL_SHA256 = "bc805528cea17e5166540eca1b7771835fc79b20f72006958acc74c848875cf3"
QUERY_NAMES_SHA256 = "ec24dcb7e11cd98ae599e6b495d0230ee4041b94483d35fa105c8fbc0bacc244"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_every_query_has_an_oracle_and_both_are_pinned():
    names, oracles = E.queries(), E.oracle_sql()
    assert set(names) == set(oracles), (
        "queries() and oracle_sql() must name the same queries: "
        f"{sorted(set(names) ^ set(oracles))}")
    assert _sha256("\n".join(sorted(names))) == QUERY_NAMES_SHA256, (
        "the queries() name set changed; update QUERY_NAMES_SHA256 only "
        "for a deliberate change")
    assert _sha256(json.dumps(oracles, sort_keys=True)) == ORACLE_SQL_SHA256, (
        "oracle_sql() text changed. The correctness gate fingerprints the "
        "oracle text, so a refactor must keep every string byte-identical; "
        "update ORACLE_SQL_SHA256 only for a deliberate oracle change")


@pytest.mark.parametrize("spark_dtype, duck_dtype, flagged", [
    ("int64", "float64", True),
    ("float64", "int64", True),
    ("int64", "int64", False),
    ("float64", "float64", False),
    # width alone is not a mismatch
    ("int32", "int64", False),
])
def test_compare_flags_a_dtype_kind_mismatch_between_equal_values(
        spark_dtype, duck_dtype, flagged):
    sp = pd.DataFrame({"k": ["a", "b"], "v": pd.Series([1, 2], dtype=spark_dtype)})
    dk = pd.DataFrame({"k": ["b", "a"], "v": pd.Series([2, 1], dtype=duck_dtype)})
    errs = compare(sp, dk, "q")
    if flagged:
        assert errs == [f"col v: dtype spark={spark_dtype} duckdb={duck_dtype}"]
    else:
        assert errs == []


def test_gap_report_dtypes_match_its_oracle(spark):
    """The oracle's coalesce(sum(hole), 0) is a DuckDB HUGEINT, which
    fetchdf() returns as float64; an int64 Spark column holding the same
    counts is red on a typed hash."""
    got = E._q_gap_report(spark, "sf0.01").toPandas()
    want = duckdb.connect().execute(E.oracle_sql()["gap_report"]).fetchdf()
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    assert compare(got, want, "gap_report") == []
