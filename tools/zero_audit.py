"""Mechanical audit of the signed-zero output invariant.

Engine-probed (round 9): Spark's ``round(x, 6)`` drops the sign of a
zero result (``-1e-9`` and ``-0.0`` both round to ``+0.0``) while
DuckDB's ``round`` keeps it (``-0.0``); DuckDB's ``abs(-0.0)`` is also
``-0.0`` where Java's is ``+0.0``. A ``-0.0`` renders as ``"-0.0"``
in the driver's value hash, so any output cell where the engines
disagree on zero sign is a hash mismatch, and any cell where they
*agree* on ``-0.0`` is one engine-version bump away from becoming
one. Structural producers exist on real query shapes: a zero
numerator over a negative denominator (``(a-b)/c`` with ``a==b``,
``c<0``) is ``-0.0`` on both engines, and a bare round then splits
them.

This tool runs every ``queries()`` entry AND its ``oracle_sql()``
twin at $SPARK_GRAFT_SF_DIR (default sf0.01) and reports any float
output cell that is a negative zero on either side. The invariant is
"no signed zero in any output column, either engine" — normalize
with ``+ 0.0`` (IEEE: ``-0.0 + 0.0 == +0.0``, identity elsewhere) or
route through ``_round6_bridge`` (DECIMAL zeros are unsigned, both
engines emit ``+0.0``).

Usage: python tools/zero_audit.py [name ...]
Exit 1 if any signed zero is found (or a query errors).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

import __spark_entry__ as entry
from kairos_spark import configured_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def neg_zeros(df) -> dict:
    """Per-column count of -0.0 cells in a pandas frame."""
    bad = {}
    for c in df.columns:
        v = df[c]
        if v.dtype.kind != "f":
            continue
        arr = v.to_numpy()
        n = int(((arr == 0.0) & np.signbit(arr)).sum())
        if n:
            bad[c] = n
    return bad


def main():
    only = set(sys.argv[1:])
    spark = (
        configured_builder("kairos_spark-zero-audit", cores=8)
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    dirty = clean = errored = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sbad = neg_zeros(fn(spark, SF_DIR).toPandas())
            obad = neg_zeros(con.execute(oracles[name]).df()) if name in oracles else {}
        except Exception as e:  # noqa: BLE001 — audit must visit every query
            print(f"ERROR {name}: {e}")
            errored += 1
            continue
        if sbad or obad:
            print(
                f"NEGZERO {name}: spark={sbad} oracle={obad} "
                f"({time.time() - t0:.1f}s)"
            )
            dirty += 1
        else:
            clean += 1
    print(f"\n{clean} clean, {dirty} with signed zeros, {errored} errored")
    return 1 if (dirty or errored) else 0


if __name__ == "__main__":
    sys.exit(main())
