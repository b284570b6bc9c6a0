#!/usr/bin/env python
"""Pre-flip driver-boundary sweep: run EVERY driver-visible registry
entry the way the driver does — bare SparkSession (none of the tuned
session confs), cwd outside the repo, sf0.01 — and compare against the
DuckDB oracle (hash-equivalent sorted-tuple comparison; rows-only
entries just execute and report a row count).

Exit code is the number of failures, so CI-style use is possible.

Usage: cd /tmp && python /root/repo/scripts/bare_window_sweep.py [names...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, (decimal.Decimal, np.floating)):
        v = float(v)
    if isinstance(v, float):
        # pandas promotes nullable int columns to float64 (3 -> 3.0):
        # collapse integral floats back to int so they compare equal to
        # Spark's true ints
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        # match the driver's tolerance-free spirit but absorb engine
        # float-repr noise: 12 significant digits
        return f"{v:.12g}"
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat() + " 00:00:00"
    if isinstance(v, (list, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, osql = e.queries(), e.oracle_sql()
    only = set(sys.argv[1:])
    if only:
        # Explicitly-named entries may be RESTED (outside DRIVER_WINDOW):
        # the pre-staging sweep of a rotation plan's promotes runs BEFORE
        # the rotation is applied, so resolve names through the registry.
        # Without this the loop silently skips rested names and reports
        # a vacuous "0 failures of N".
        from hadoop_hive_analysis_spark.plans.registry import QUERIES

        unknown = only - set(QUERIES)
        if unknown:
            raise SystemExit(f"unknown registry entries: {sorted(unknown)}")
        qs = {n: QUERIES[n].fn for n in sorted(only)}
        osql = {n: QUERIES[n].oracle for n in sorted(only) if QUERIES[n].oracle}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            cols = sorted(sdf.columns)
            # multiset compare via Counter: tuples can mix ints with the
            # "NULL" marker, and sorting mixed-type tuples raises
            # depending on collect order (flaky TypeError) — counting
            # needs only hashing
            from collections import Counter

            s = Counter(tuple(_canon(r[c]) for c in cols) for r in srows)
        except Exception as ex:
            failures.append(name)
            print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:140]}")
            continue
        took = time.perf_counter() - t0
        if name not in osql:
            print(f"rows {name}: {sum(s.values())} rows ({took:.1f}s, rows-only)")
            continue
        try:
            odf = con.execute(osql[name]).fetch_df()
            ocols = sorted(odf.columns)
            o = Counter(
                tuple(_canon(v) for v in row)
                for row in odf[ocols].itertuples(index=False, name=None)
            )
        except Exception as ex:
            failures.append(name)
            print(f"ORACLE-ERR {name}: {type(ex).__name__}: {str(ex)[:140]}")
            continue
        ok = s == o and cols == ocols
        if not ok:
            failures.append(name)
            why = (
                "cols"
                if cols != ocols
                else f"values ({sum(s.values())} vs {sum(o.values())} rows)"
            )
            print(f"FAIL {name}: {why}")
        else:
            print(f"ok   {name}: {sum(s.values())} rows ({took:.1f}s)")
    print(f"\n{len(failures)} failures of {len(qs) if not only else len(only)}")
    if failures:
        print("failed:", failures)
    spark.stop()
    return len(failures)


if __name__ == "__main__":
    raise SystemExit(main())
