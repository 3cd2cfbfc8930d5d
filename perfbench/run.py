"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kairos_read --seed 1 --seconds 16 --trace 0

Run from the repository root. The load is one closed-loop client: each
operation starts when the previous one has returned. ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` is a separate run that
installs timing shims and prints the per-layer metrics. The second-to-
last stdout line is a full report (environment, every metric with its
unit and sample count, output checks); the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--record-digests`` runs every read the seeds can draw once and
rewrites ``perfbench/digests.json`` from the current outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MB",
    "stored_bytes_per_event": "bytes",
}
# reported by every run alongside END_TO_END, but not gated: error_rate
# is 0 when the outputs are right, the tail needs >= 100 operations and
# rows_per_s exists only on kairos_write
EXTRA = {
    "op_p90_ms": "ms",
    "error_rate": "ratio",
    "rows_per_s": "1/s",
}
UNITS = {**END_TO_END, **EXTRA}

MAX_CORES = 4
DRIVER_MEMORY = "2g"
# A run lasts about a minute, too short for tiered C2 to settle: with the
# default JIT the driver JVM spent the timed phase compiling (twice the
# CPU per op, passes drifting), and G1 sized the heap from GC timing, so
# peak RSS varied by 40%. C1 alone settles within the warm-up and the
# serial collector sizes the heap from live data. The README lists the
# layer figures this shifts, with a default-JVM comparison. No perf-data
# file, which the JVM would write to /tmp, outside the checkout.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"
PREPARE_REPS = 3
MIN_PASSES = 2


def _peak_rss_mb(pids):
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _session(ctx):
    from kairos_spark import configured_builder

    spark = (
        configured_builder("kairos_spark-perfbench", cores=ctx.cores)
        .master(f"local[{ctx.cores}]")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(ctx.work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={ctx.tmp} {JVM_OPTIONS}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_seconds(pids):
    """User + system CPU seconds consumed so far by ``pids``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick


def _steal_seconds():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop(spark):
    """Stop the session and its JVM, and wait until the JVM has exited
    (it leaves when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _environment(spark, ctx):
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "master": sc.master,
        "cores": ctx.cores,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "physical_memory_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "data_dir": ctx.sf_dir,
        "jvm_options": JVM_OPTIONS,
        "load": "closed loop, 1 client",
    }


def _metric(name, value, samples):
    return {"value": value, "unit": UNITS[name], "samples": samples}


def _run_traced(wl, ctx, spark):
    """Traced, untraced and traced passes of the same ops. The traced
    passes are compared with each other (exact counters) and with the
    untraced one between them (tracing overhead), so JIT warm-up during
    the run favours neither side."""
    from perfbench.core import PassLog, run_pass
    from perfbench.trace import Tracer
    from perfbench.workloads import spec_label

    specs = wl.make_specs(ctx.seed, 0)
    tracer = Tracer(spark)
    untraced, traced = PassLog(), PassLog()

    def traced_pass(k):
        ops = []
        for i, s in enumerate(specs):
            def traced_op(fn=wl.op(s), s=s, i=i):
                with tracer.op(f"p{k}o{i}", spec_label(s), k):
                    return fn()

            ops.append((s, traced_op))
        tracer.install()
        try:
            traced.passes.append(run_pass(ops))
        finally:
            tracer.uninstall()

    traced_pass(0)
    untraced.passes.append(run_pass([(s, wl.op(s)) for s in specs]))
    traced_pass(1)
    return untraced, traced, tracer


def _layer_report(tracer, traced, untraced, wl, ctx, start_s, warmup_s):
    """Per-layer metrics (median of the traced passes) and the exact
    counters that differed between them."""
    from perfbench.trace import EXACT_COUNTERS, LAYER_METRICS, layer_metrics
    from perfbench.workloads import spec_events

    specs = wl.make_specs(ctx.seed, 0)
    events_in = sum(spec_events(s) for s in specs if s[0] == "ingest")
    per_pass = []
    for k in range(len(traced.passes)):
        ops = [o for o in tracer.ops if o["pass"] == k]
        ids = {o["id"] for o in ops}
        spans = [s for s in tracer.spans if s["op"] in ids]
        per_pass.append(layer_metrics(spans, ops, ctx.cores, events_in))
    mismatched = [c for c in EXACT_COUNTERS if len({p[c] for p in per_pass}) > 1]
    # exact counters are equal in every pass (or flagged), so they are
    # reported as the counts themselves
    layers = {name: {"value": per_pass[0][name] if name in EXACT_COUNTERS
                     else statistics.median(p[name] for p in per_pass),
                     "unit": unit, "samples": len(per_pass)}
              for name, unit in LAYER_METRICS.items()}
    layers["session.start_s"].update(value=start_s, samples=1)
    layers["session.warmup_s"].update(value=warmup_s, samples=1)
    layers["trace.overhead_s"]["value"] = (
        statistics.median(traced.walls) - statistics.median(untraced.walls))
    return layers, mismatched


def record_digests(wl, ctx):
    from perfbench.workloads import ANCHORS, NAMES, READ_KINDS, digest, spec_id

    wl.prepare()
    out = {}
    for kind in READ_KINDS:
        for i in range(len(NAMES)):
            for a in range(len(ANCHORS)):
                spec = (kind, i, a)
                out[spec_id(spec)] = digest(wl.op(spec)())
    path = os.path.join(HERE, "digests.json")
    with open(path, "w") as f:
        json.dump({wl.name: out}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {path}", file=sys.stderr)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digests", action="store_true")
    args = p.parse_args(argv)

    missing = [f for f in ("bench.py", "kairos_spark/__init__.py",
                           "tools/check_correctness.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not in a kairos_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import bench
    from perfbench.core import account, percentile, run_passes, tail_percentile
    from perfbench.workloads import WORKLOADS, spec_events

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tempfile.tempdir = os.path.join(work, "tmp")
    # keep Spark's scratch space inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    ctx = SimpleNamespace(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, here=HERE, work=work, tmp=tempfile.tempdir,
        sf_dir=bench.SF_DIR.rstrip("/"),
        cores=min(MAX_CORES, len(os.sched_getaffinity(0))),
    )

    t0 = time.perf_counter()
    spark = _session(ctx)
    try:
        start_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, ctx)
        if args.record_digests:
            record_digests(wl, ctx)
            return 0
        prep = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(prep) + warmup_s

        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        cpu0, steal0 = _cpu_seconds(pids), _steal_seconds()
        if args.trace:
            untraced, traced, tracer = _run_traced(wl, ctx, spark)
            results = untraced.results + traced.results
        else:
            # a fixed pass count, set by --seconds and the workload's
            # nominal pass time, so a faster program measures the same
            # operations (and the same stretch of JIT warm-up) sooner
            passes = max(MIN_PASSES, round(ctx.seconds / wl.pass_seconds))
            untraced = run_passes(
                lambda k: [(s, wl.op(s)) for s in wl.make_specs(ctx.seed, k)], passes)
            results = untraced.results
        timed_cpu_s = _cpu_seconds(pids) - cpu0
        steal_s = _steal_seconds() - steal0
        t = time.perf_counter()
        extra = wl.finish()
        attempted, failed = account(results, wl.check)
        check_s = time.perf_counter() - t

        lat = untraced.latencies_ms()
        n = len(lat)
        walls = untraced.walls
        tail = tail_percentile(lat)
        metrics = {
            "setup_s": _metric("setup_s", setup_s, PREPARE_REPS),
            # the fastest pass: load from other tenants only adds time
            "wall_s": _metric("wall_s", min(walls), len(walls)),
            "ops_per_s": _metric("ops_per_s", n / sum(walls), n),
            "op_p50_ms": _metric("op_p50_ms", statistics.median(lat), n),
            "op_p90_ms": _metric("op_p90_ms", percentile(lat, 90) if tail else None, n),
            "op_cpu_ms": _metric("op_cpu_ms", 1000.0 * timed_cpu_s / len(results),
                                 len(results)),
            "error_rate": _metric("error_rate", len(failed) / attempted, attempted),
            "peak_rss_mb": _metric("peak_rss_mb", _peak_rss_mb(pids), 1),
            "stored_bytes_per_event": _metric(
                "stored_bytes_per_event", wl.bytes_on_disk / wl.events_in, wl.events_in),
        }
        if args.workload == "kairos_write":
            events = sum(spec_events(r.key) for r in untraced.results)
            metrics["rows_per_s"] = _metric("rows_per_s", events / sum(walls), n)

        report = {
            "environment": _environment(spark, ctx),
            "phases": {"session_start_s": start_s, "prepare_s": prep,
                       "warmup_s": warmup_s, "timed_cpu_s": timed_cpu_s,
                       "timed_steal_s": steal_s, "check_s": check_s},
            "pass_walls_s": walls,
            "ops_per_pass": n // len(walls),
            "tail_percentile": tail[0] if tail else None,
            "op_p50_ms_by_kind": {
                kind: statistics.median(r.seconds * 1000.0 for r in untraced.results
                                        if r.key[0] == kind)
                for kind in sorted({r.key[0] for r in untraced.results})},
            "metrics": metrics,
            "failures": sorted({"|".join(map(str, r.key)) for r in failed}),
            **extra,
        }
        correct = not failed
        if args.trace:
            layers, mismatched = _layer_report(
                tracer, traced, untraced, wl, ctx, start_s, warmup_s)
            report["per_layer"] = layers
            report["exact_counters_mismatched"] = mismatched
            correct = correct and not mismatched
            trace_dir = os.path.join(HERE, ".traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
            out = layers
        else:
            out = {k: metrics[k] for k in END_TO_END}
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in out.items()},
        }))
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
