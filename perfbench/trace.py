"""Tracing for the traced run: in-memory spans from timing shims around
the public functions of ``kairos_spark``, a py4j call counter, and
per-operation Spark metrics read from the status store.

Shims are installed from here, never inside the library, and removed
when the traced phase ends. Every span records its wall interval
(epoch seconds, the clock the JVM stamps jobs with) and the py4j call
counter at entry and exit.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import time
import types

from perfbench.core import covered, self_time

# py4j's memory-release command ("m\nd\n<id>\ne\n") follows Python GC
# timing, not the work done, so it is not counted as a call.
_PY4J_RELEASE = "m\n"

# Span names whose self time is a layer's build time.
_BUILD_MS = {
    "queries.build": "queries.build_ms",
    "queries.events_long": "queries.build_ms",
    "timeseries.build": "timeseries.build_ms",
    "types.call": "types.build_ms",
    "ingest.bucketize": "ingest.build_ms",
    "operators.call": "operators.build_ms",
}

# Per-layer metrics, in report order, with their units. Every traced run
# prints all of them; a layer a workload does not run reads 0.
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_ms": "ms",
    "queries.build_py4j_calls": "count",
    "queries.tbl_calls": "count",
    "queries.tbl_ms": "ms",
    "timeseries.build_ms": "ms",
    "timeseries.build_py4j_calls": "count",
    "timeseries.scan_ms": "ms",
    "timeseries.shape_ms": "ms",
    "timeseries.rows_examined_per_result": "ratio",
    "types.build_ms": "ms",
    "types.calls": "count",
    "ingest.build_ms": "ms",
    "ingest.rows_out_per_event": "ratio",
    "timemath.rowgen_ms": "ms",
    "timemath.rows_generated": "count",
    "store.write_ms": "ms",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "operators.build_ms": "ms",
    "operators.calls": "count",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.task_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.slot_busy_ratio": "ratio",
    "spark.scan_bytes": "bytes",
    "spark.scan_rows": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_rows": "count",
    "trace.overhead_s": "s",
}

# Counters that must repeat exactly for the same operations.
EXACT_COUNTERS = (
    "queries.build_py4j_calls",
    "queries.tbl_calls",
    "timeseries.build_py4j_calls",
    "types.calls",
    "operators.calls",
    "ingest.rows_out_per_event",
    "timemath.rows_generated",
    "store.files_written",
    "spark.scan_rows",
    "spark.result_rows",
)

_STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "scan_bytes": "inputBytes",
    "scan_rows": "inputRecords",
    "output_rows": "outputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def _dir_files(path):
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j = 0
        self.active = False
        self._stack: list[dict] = []
        self._restore: list = []
        self._op = None

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name, kind, **attrs):
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op["id"] if self._op else None,
            "name": name,
            "kind": kind,
            "t0": time.time(),
            "py4j0": self.py4j,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            s["py4j1"] = self.py4j
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id, label, traced_pass):
        """Root span of one operation; its Spark jobs are tagged with the
        op id and read from the status store after it ends."""
        self.sc.setJobGroup(op_id, str(label))
        self._op = {"id": op_id, "key": list(label), "pass": traced_pass}
        try:
            with self.span("op", "op", key=list(label)):
                yield
        finally:
            self.sc.setJobGroup("", "")
            self._op["spark"] = self._spark_metrics(op_id)
            self.ops.append(self._op)
            self._op = None

    def _spark_metrics(self, op_id):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs, stages = [], {}
        for jid in self.sc.statusTracker().getJobIdsForGroup(op_id):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            jobs.append(
                {
                    "id": jid,
                    "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "t1": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "tasks": jd.numTasks(),
                    "failed_tasks": jd.numFailedTasks(),
                }
            )
            # a stage listed by several jobs of one query (AQE re-plans
            # reuse finished stages) is counted once
            for sid in str(jd.stageIds().mkString(",")).split(","):
                if sid and int(sid) not in stages:
                    sd = store.lastStageAttempt(int(sid))
                    stages[int(sid)] = {
                        k: int(getattr(sd, f)()) for k, f in _STAGE_FIELDS.items()
                    }
        return {"jobs": jobs, "stages": stages}

    # ------------------------------------------------------------ shims

    def _patch(self, owner, attr, name, kind, hook=None):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        restore = orig if isinstance(owner, (type, types.ModuleType)) else None
        tracer = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name, kind) as s:
                out = orig(*args, **kwargs)
                if hook is not None:
                    hook(s, args, out)
                return out

        setattr(owner, attr, shim)
        self._restore.append((owner, attr, restore))

    def install(self):
        """Install the shims and the py4j counter."""
        import bench

        from kairos_spark import queries, timeseries
        from kairos_spark import types as ktypes
        from kairos_spark.operators import dedup, joins, similarity, text, windows

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(_PY4J_RELEASE):
                self.py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._restore.append((client, "send_command", None))

        for attr, fn in list(vars(queries).items()):
            if attr.startswith("q_") and callable(fn):
                self._patch(queries, attr, "queries.build", "build")
        self._patch(queries, "_tbl", "queries.tbl", "build")
        self._patch(queries, "_events_long", "queries.events_long", "build")
        for mod in (queries, timeseries, bench):
            self._patch(mod, "bucketize", "ingest.bucketize", "build")
        ts = timeseries.Timeseries
        for attr in ("get_df", "series_df"):
            self._patch(ts, attr, "timeseries.build", "build")
        self._patch(ts, "scan", "timeseries.scan", "build")
        for attr in ("get", "series"):
            self._patch(ts, attr, "timeseries.shape", "shape")
        for attr in ("insert", "bulk_insert"):
            self._patch(ts, attr, "timemath.rowgen", "build")

        def rows_hook(s, args, out):
            s["rows"] = len(args[1])

        self._patch(ts, "_append_rows", "store.append_rows", "exec", rows_hook)
        self._patch_append_df(timeseries._ParquetStore)
        for cls in (ktypes.TypeOps, *ktypes.TypeOps.__subclasses__()):
            for attr in ("container_agg", "transform_exprs", "transform_expr",
                         "rate_map", "percentiles"):
                if attr in cls.__dict__:
                    self._patch(cls, attr, "types.call", "build")
        for mod in (dedup, joins, similarity, text, windows):
            for attr, fn in list(vars(mod).items()):
                if (not attr.startswith("_") and callable(fn)
                        and getattr(fn, "__module__", None) == mod.__name__
                        and not isinstance(fn, type)):
                    self._patch(mod, attr, "operators.call", "build")

        def collect_hook(s, args, out):
            s["rows"] = len(out)

        # the session's DataFrame class (pyspark.sql.classic) defines
        # the actions; the public DataFrame is its abstract base
        frame = type(self.spark.range(0))
        for attr, hook in (("collect", collect_hook), ("count", None)):
            owner = next(c for c in frame.__mro__ if attr in c.__dict__)
            self._patch(owner, attr, "spark.action", "exec", hook)
        self.active = True

    def _patch_append_df(self, cls):
        orig = cls.__dict__["append_df"]
        tracer = self

        @functools.wraps(orig)
        def shim(store, df):
            if not tracer.active:
                return orig(store, df)
            before = _dir_files(store.path)
            with tracer.span("store.append_df", "exec") as s:
                out = orig(store, df)
            after = _dir_files(store.path)
            new = [p for p in after if p not in before]
            s["files"] = sum(1 for p in new if p.endswith(".parquet"))
            s["bytes"] = sum(after[p] for p in new)
            return out

        cls.append_df = shim
        self._restore.append((cls, "append_df", orig))

    def uninstall(self):
        self.active = False
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, attr)  # instance attribute shadowing the method
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    def dump(self, path):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def _job_intervals(op):
    return [(j["t0"], j["t1"]) for j in op["spark"]["jobs"]
            if j["t0"] is not None and j["t1"] is not None]


def layer_metrics(spans, ops, cores, events_in=0):
    """Per-layer metrics of one traced pass. ``spans`` and ``ops`` are
    the pass's records; ``events_in`` counts the events its ingest ops
    read. ``*_ms`` build times are self times: a span's duration minus
    what its child spans and the Spark jobs of its op cover."""
    m = dict.fromkeys(LAYER_METRICS, 0)
    by_id = {s["id"]: s for s in spans}
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    jobs = {o["id"]: _job_intervals(o) for o in ops}

    def self_ms(s):
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        kids += jobs.get(s["op"], [])
        return 1000.0 * self_time(s["t0"], s["t1"], kids)

    read_results = 0
    ingest_rows = 0
    for s in spans:
        name = s["name"]
        parent = by_id.get(s["parent"])
        if name in _BUILD_MS:
            m[_BUILD_MS[name]] += self_ms(s)
        if name == "queries.build" and (
                parent is None or parent["name"] != "queries.build"):
            m["queries.build_py4j_calls"] += s["py4j1"] - s["py4j0"]
        elif name == "queries.tbl":
            m["queries.tbl_calls"] += 1
            m["queries.tbl_ms"] += self_ms(s)
        elif name == "timeseries.build" and (
                parent is None or parent["name"] != "timeseries.build"):
            m["timeseries.build_py4j_calls"] += s["py4j1"] - s["py4j0"]
        elif name == "timeseries.scan":
            m["timeseries.scan_ms"] += self_ms(s)
        elif name == "timeseries.shape":
            m["timeseries.shape_ms"] += self_ms(s)
        elif name == "types.call":
            m["types.calls"] += 1
        elif name == "operators.call":
            m["operators.calls"] += 1
        elif name == "timemath.rowgen":
            m["timemath.rowgen_ms"] += self_ms(s)
        elif name == "store.append_rows":
            m["timemath.rows_generated"] += s["rows"]
        elif name == "store.append_df":
            m["store.files_written"] += s["files"]
            m["store.bytes_written"] += s["bytes"]
        elif name == "spark.action":
            m["spark.result_rows"] += s.get("rows", 0)
            if parent is not None and parent["name"] == "timeseries.shape":
                read_results += s.get("rows", 0)
        if name.startswith("store.") and (parent is None or not parent["name"].startswith("store.")):
            m["store.write_ms"] += 1000.0 * (s["t1"] - s["t0"])
        if name in ("spark.action", "store.append_df"):
            m["spark.plan_ms"] += self_ms(s)

    read_ops = {s["op"] for s in spans if s["name"] == "timeseries.shape"}
    read_scan_rows = 0
    for o in ops:
        m["spark.exec_ms"] += 1000.0 * covered(_job_intervals(o), -math.inf, math.inf)
        m["spark.jobs"] += len(o["spark"]["jobs"])
        m["spark.tasks"] += sum(j["tasks"] for j in o["spark"]["jobs"])
        m["spark.task_failures"] += sum(j["failed_tasks"] for j in o["spark"]["jobs"])
        st = o["spark"]["stages"].values()
        m["spark.task_ms"] += sum(x["task_ms"] for x in st)
        m["spark.task_cpu_ms"] += sum(x["task_cpu_ns"] for x in st) / 1e6
        m["spark.gc_ms"] += sum(x["gc_ms"] for x in st)
        m["spark.scan_bytes"] += sum(x["scan_bytes"] for x in st)
        m["spark.scan_rows"] += sum(x["scan_rows"] for x in st)
        m["spark.shuffle_write_bytes"] += sum(x["shuffle_write_bytes"] for x in st)
        m["spark.shuffle_read_bytes"] += sum(x["shuffle_read_bytes"] for x in st)
        m["spark.spill_bytes"] += sum(x["mem_spill_bytes"] + x["disk_spill_bytes"] for x in st)
        if o["id"] in read_ops:
            read_scan_rows += sum(x["scan_rows"] for x in st)
        if o["key"][0] == "ingest":
            ingest_rows += sum(x["output_rows"] for x in st)
    if m["spark.exec_ms"]:
        m["spark.slot_busy_ratio"] = m["spark.task_ms"] / (m["spark.exec_ms"] * cores)
    if read_results:
        m["timeseries.rows_examined_per_result"] = read_scan_rows / read_results
    if events_in:
        m["ingest.rows_out_per_event"] = ingest_rows / events_in
    return m
