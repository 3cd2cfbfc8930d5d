"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from kairos_spark import configured_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    # Type-tag numerics so int vs float skew fails here exactly like it
    # fails the driver's value hash (DuckDB HUGEINT sums land in pandas
    # as float64 "123.0" while Spark bigint is "123"; Python's 3 == 3.0
    # would otherwise hide that). Bools are tagged separately because
    # Python bool is Integral but np.bool_ is not.
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, (bool, np.bool_)):
                v = ("b", bool(v))
            elif isinstance(v, float):  # covers np.float64
                v = "NaN" if math.isnan(v) else ("f", round(float(v), 6))
            elif isinstance(v, (int, np.integer)):
                v = ("i", int(v))
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=lambda t: str(t))
    return out


def main():
    only = set(sys.argv[1:])
    spark = (
        configured_builder("kairos_spark-check-correctness", cores=8)
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    passed = failed = rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [rows-only]")
            rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failed += 1
            continue
        ocols = sorted(odf.columns)
        orows = odf.to_dict("records")
        problems = []
        if scols != ocols:
            problems.append(f"cols spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            s_can = canon([r.asDict() for r in srows], scols)
            o_can = canon(orows, ocols)
            if s_can != o_can:
                diff_i = next(
                    (i for i, (a, b) in enumerate(zip(s_can, o_can)) if a != b), None
                )
                problems.append(
                    f"values differ; first diff idx {diff_i}:\n"
                    f"    spark : {s_can[diff_i] if diff_i is not None else None}\n"
                    f"    oracle: {o_can[diff_i] if diff_i is not None else None}"
                )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {rows_only} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
