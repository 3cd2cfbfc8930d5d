"""Time ``Timeseries.insert`` / ``bulk_insert`` appends on a scratch
parquet store.

Each write kind runs once to warm up, then ``--reps`` timed appends.
For each kind it prints the median wall time of one append and the
median number of ``part-*.parquet`` files one append adds to each
``interval=`` partition, so the write path's cost can be re-checked
without the benchmark. The store lives in a temporary directory that is
removed on exit.

Usage:
  python tools/append_probe.py [--reps N] [--points N] [--cores N]
"""

from __future__ import annotations

import argparse
import os
import pathlib
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kairos_spark import Timeseries, configured_builder

INTERVALS = {"minute": {"step": 60}, "hour": {"step": 3600, "resolution": 60}}
BASE = 1_700_000_000  # epoch seconds; no retention, so nothing is dropped


def files(store: pathlib.Path) -> int:
    return sum(1 for _ in store.glob("interval=*/part-*.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=15, help="timed appends per write kind")
    ap.add_argument("--points", type=int, default=500, help="points per bulk_insert")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    spark = (
        configured_builder("kairos_spark-append-probe", cores=args.cores)
        .master(f"local[{args.cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"spark {spark.version}, local[{args.cores}], {args.reps} reps, "
          f"{args.points} points per bulk_insert")

    with tempfile.TemporaryDirectory(prefix="append_probe_") as tmp:
        store = pathlib.Path(tmp) / "store"
        t = Timeseries(spark, type="series", intervals=INTERVALS, path=str(store))
        writes = {
            "insert (3 values)": lambda i: t.insert("x", [1.0, 2.0, 3.0], timestamp=BASE + i),
            f"bulk_insert ({args.points} points)": lambda i: t.bulk_insert(
                {BASE + 10_000 * i + j: {"x": [float(j)]} for j in range(args.points)}
            ),
        }
        for kind, write in writes.items():
            write(-1)
            ms, added = [], []
            for i in range(args.reps):
                before = files(store)
                start = time.perf_counter()
                write(i)
                ms.append((time.perf_counter() - start) * 1000)
                added.append((files(store) - before) / len(INTERVALS))
            print(f"{kind:28s} median {statistics.median(ms):7.1f} ms   "
                  f"files per interval per append {statistics.median(added):g}")
    spark.stop()


if __name__ == "__main__":
    main()
