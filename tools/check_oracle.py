"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB (views over the sf parquet tables pre-registered), then
compares row count, schema width, per-column pandas dtype kinds (int64
is not float64 even where the values agree) and an order-insensitive
value hash (columns sorted by name, rows sorted, floats bit-compared).

Usage: python tools/check_oracle.py [--json=PATH] [sf_dir] [query ...]

--json=PATH additionally writes the sweep as a CORRECTNESS_r*-shaped
artifact (name -> {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err, spark_sec, duck_sec}) so a full local sweep can be
committed and audited, not just claimed.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spdf: pd.DataFrame, ddf: pd.DataFrame, name: str) -> list[str]:
    """Mismatches between the Spark and DuckDB frames; empty when they agree.

    Dtype-strict: a column whose pandas dtype kinds differ (int64
    against float64, say) is reported before any value is compared,
    because the gate this mimics hashes typed values and goes red on such
    a pair even when the numbers are equal. Width alone (int32 against
    int64) is not reported: that gate has passed such columns
    (asof_tool_context, asof_next_user_turn and rolling_corr_w16 in
    CORRECTNESS_r06-r08.json)."""
    errs = []
    if len(spdf) != len(ddf):
        errs.append(f"rowcount spark={len(spdf)} duckdb={len(ddf)}")
    if sorted(spdf.columns) != sorted(ddf.columns):
        errs.append(f"columns spark={sorted(spdf.columns)} duckdb={sorted(ddf.columns)}")
        return errs
    errs += [f"col {c}: dtype spark={spdf[c].dtype} duckdb={ddf[c].dtype}"
             for c in sorted(spdf.columns)
             if spdf[c].dtype.kind != ddf[c].dtype.kind]
    if errs:
        return errs
    a, b = _canon(spdf), _canon(ddf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = av == bv
        bad = int((~np.asarray(eq)).sum())
        if bad:
            i = int(np.argmax(~np.asarray(eq)))
            errs.append(f"col {c}: {bad} mismatched values, first at row {i}: "
                        f"spark={a[c].iloc[i]!r} duckdb={b[c].iloc[i]!r}")
    return errs


def main():
    args = sys.argv[1:]
    json_path = None
    for a in list(args):
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as E
    from matrixprofile_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, os_ = E.queries(), E.oracle_sql()
    failed = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in os_:
            print(f"{name}: rows={len(spdf)} (no oracle, rows-only) spark={t1-t0:.1f}s")
            report[name] = {
                # None, not a vacuous True: nothing was compared for a
                # no-oracle query, and the artifact must not overstate
                # what was verified (r7 ADVICE)
                "rows_match": None, "schema_match": None,
                "hash_match": None, "oracle": False,
                "spark_rows": len(spdf),
                "oracle_rows": None, "err": None,
                "spark_sec": round(t1 - t0, 2), "duck_sec": None,
            }
            continue
        ddf = con.execute(os_[name]).fetchdf()
        t2 = time.time()
        errs = compare(spdf, ddf, name)
        status = "OK" if not errs else "FAIL"
        print(f"{name}: {status} rows={len(spdf)} spark={t1-t0:.1f}s duck={t2-t1:.1f}s")
        for e in errs:
            print(f"   {e}")
        if errs:
            failed.append(name)
        report[name] = {
            "rows_match": len(spdf) == len(ddf),
            "schema_match": sorted(spdf.columns) == sorted(ddf.columns),
            "hash_match": not errs,
            "spark_rows": len(spdf), "oracle_rows": len(ddf),
            "err": "; ".join(errs) or None,
            "spark_sec": round(t1 - t0, 2), "duck_sec": round(t2 - t1, 2),
        }
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": report}, fh, indent=1)
        print(f"wrote {json_path} ({len(report)} queries)")
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
