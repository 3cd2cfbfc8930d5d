"""Mechanical audit of partition-order determinism.

The driver evaluates queries under ITS parallelism, not the mirror's:
any output cell that depends on float summation order (plain
F.sum(double) merged in partition order) can round differently there
than here and fail the value hash even though both engines are
"right". The library's defense is DECIMAL-routed sums and exact
integer ratios — this tool checks the property mechanically instead
of by convention: every query runs twice, once at
spark.sql.shuffle.partitions=32 and once at 7 (AQE off for the run so
coalescing can't mask the difference), and the ROUND-6 canonical
outputs (exactly what the driver hashes) must be identical.

A diff here is a latent driver-gate failure even when all oracle
mirrors pass. Fix by routing the offending aggregate through
DECIMAL sums (`.cast("decimal(38,12)")` before F.sum) or an exact
integer-ratio helper.

Usage: python tools/determinism_audit.py [name ...]
Exit 1 on any diff or error.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

import __spark_entry__ as entry
from kairos_spark import configured_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, (bool, np.bool_)):
                v = ("b", bool(v))
            elif isinstance(v, float):
                v = "NaN" if math.isnan(v) else ("f", repr(round(float(v), 6)))
            elif isinstance(v, (int, np.integer)):
                v = ("i", int(v))
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=lambda t: str(t))
    return out


def main():
    only = set(sys.argv[1:])
    spark = (
        configured_builder("kairos_spark-determinism-audit", cores=32)
        .master("local[8]")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    diff = clean = errored = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            df = fn(spark, SF_DIR)
            cols = [f.name for f in df.schema.fields]
            a = canon([r.asDict() for r in df.collect()], cols)
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = canon([r.asDict() for r in fn(spark, SF_DIR).collect()], cols)
        except Exception as e:  # noqa: BLE001 — audit must visit every query
            print(f"ERROR {name}: {e}")
            errored += 1
            continue
        if a != b:
            bad = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
            print(f"DIFF {name}: {bad} rows differ across partitionings "
                  f"({time.time() - t0:.1f}s)")
            diff += 1
        else:
            clean += 1
    print(f"\n{clean} deterministic, {diff} partition-sensitive, {errored} errored")
    return 1 if (diff or errored) else 0


if __name__ == "__main__":
    sys.exit(main())
