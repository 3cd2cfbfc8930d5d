"""Mechanical audit of the no-NULL output invariant (CLAUDE.md):
run every queries() entry at $SPARK_GRAFT_SF_DIR (default sf0.01) and
report any NULL / NaN in any output column. NULLs that happen to match
the oracle today (both engines emit NULL) are still latent hash bombs:
Spark None and DuckDB NaN canonicalize differently the moment the
column's pandas dtype shifts, and the driver's value hash treats them
as distinct. Advisor round 5 found three such latent violations by
hand; this tool finds them mechanically.

Usage: python tools/null_audit.py [name ...]
Exit 1 if any query emits a NULL/NaN anywhere in its output.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entry
from kairos_spark import configured_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main():
    only = set(sys.argv[1:])
    spark = (
        configured_builder("kairos_spark-null-audit", cores=8)
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    dirty = clean = errored = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            # One aggregation job: per-column count of NULL (and NaN for
            # float columns — isnan rejects non-numeric types).
            aggs = []
            for f in sdf.schema.fields:
                c = F.col(f.name)
                cond = c.isNull()
                if f.dataType.typeName() in ("double", "float"):
                    cond = cond | F.isnan(c)
                aggs.append(
                    F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f.name)
                )
            counts = sdf.agg(*aggs).collect()[0].asDict()
        except Exception as e:  # noqa: BLE001 — audit must visit every query
            print(f"ERROR {name}: {e}")
            errored += 1
            continue
        bad = {c: n for c, n in counts.items() if n}
        if bad:
            print(f"NULLS {name}: {bad} ({time.time() - t0:.1f}s)")
            dirty += 1
        else:
            clean += 1
    print(f"\n{clean} clean, {dirty} with NULLs, {errored} errored")
    return 1 if (dirty or errored) else 0


if __name__ == "__main__":
    sys.exit(main())
