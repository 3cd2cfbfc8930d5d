"""Optimization-round profiler: per-entry wall timing + formatted-plan
capture for the bench entries (HEADLINE + PIPELINE from bench.py),
using the SAME session configuration as bench.py so numbers are
comparable, plus an optional noop-sink timing (guide §1.4) that times
the computation without collect()'s row-transfer cost.

Usage:
  python tools/opt_profile.py [--plans DIR_SUFFIX] [--noop] [--reps N] [name ...]

With --plans SUFFIX, writes plans/$OPT_PROFILE_ROUND/<entry>_<SUFFIX>.txt
(default round r14) containing
df.explain("formatted") for every DataFrame-returning entry.
Names default to every entry; pass names to restrict.
NOT part of the driver contract — bench.py remains the graded artifact.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from kairos_spark import configured_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans", default=None, help="suffix for plans/<round>/<name>_<suffix>.txt")
    ap.add_argument("--noop", action="store_true", help="also time with the noop sink")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    builder = (
        configured_builder("kairos_spark-opt-profile", cores=int(CPUS))
        .master(f"local[{CPUS}]")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )
    # ad-hoc conf overrides for A/B experiments: OPT_PROFILE_CONF is a
    # semicolon-separated k=v list applied on top of the bench config
    for kv in os.environ.get("OPT_PROFILE_CONF", "").split(";"):
        if "=" in kv:
            key, val = kv.split("=", 1)
            builder = builder.config(key.strip(), val.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    entries = {**bench.HEADLINE, **bench.PIPELINE}
    names = args.names or list(entries)
    # warm-up at sf0.001 exactly like bench.py so JIT placement doesn't
    # pollute the per-entry numbers
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in names:
            try:
                out = entries[name](spark, warm_dir)
                if hasattr(out, "collect"):
                    out.collect()
            except Exception as e:
                print(f"warm-up {name} failed: {e}", file=sys.stderr)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("OPT_PROFILE_ROUND", "r14"),
    )
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)

    for name in names:
        fn = entries[name]
        for rep in range(args.reps):
            # the shared-CC entries have ordering deps; rebuild cold each rep
            if name == "dedup_clusters_lsh":
                bench._SHARED_CC.pop(SF_DIR, None)
            spark.sparkContext.setJobDescription(f"opt:{name}")
            t0 = time.time()
            out = fn(spark, SF_DIR)
            if hasattr(out, "collect"):
                out.collect()
            t_collect = time.time() - t0
            t_noop = None
            if args.noop and hasattr(out, "write"):
                t0 = time.time()
                out.write.format("noop").mode("overwrite").save()
                t_noop = time.time() - t0
            print(
                f"{name:32s} rep{rep} collect={t_collect:7.3f}s"
                + (f" noop={t_noop:7.3f}s" if t_noop is not None else "")
            )
            sys.stdout.flush()
        if args.plans and hasattr(out, "_jdf"):
            buf = io.StringIO()
            with redirect_stdout(buf):
                out.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(buf.getvalue())
    spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
