"""The benchmark's workloads: seeded operation specs (pure, no Spark)
and their execution and output checks against a Spark session.

A spec is a plain tuple. ``*_pass_specs(seed, k)`` returns pass k's
specs for a seed; the same seed always gives the same sequence, and the
library only ever sees the inputs a spec names.
"""

from __future__ import annotations

import datetime as _dt
import functools
import hashlib
import json
import math
import os
import random
import shutil

import numpy as np
import pandas as pd

# events.parquet: 100,000 events, 2024-01-01 .. 2024-01-30 UTC
NAMES = ("signup", "click", "error", "view", "purchase")
DAY = 86400
JAN1 = 1704067200  # 2024-01-01 00:00:00 UTC
# Read anchors: fixed instants inside the data, so every read returns
# populated buckets and its digest can be recorded once.
ANCHORS = tuple(JAN1 + d * DAY + h * 3600 + 17 * 60 for d, h in
                ((2, 9), (5, 14), (9, 3), (13, 20), (18, 11), (22, 6)))

# minute (coarse), hour/minute (fine), daily (Gregorian)
STORE_INTERVALS = {
    "minute": {"step": 60},
    "hour": {"step": 3600, "resolution": 60},
    "daily": {"step": "daily"},
}
TYPES = ("series", "histogram", "count", "gauge", "set")


def _name(i, k=0):
    return NAMES[(i + k) % len(NAMES)]


# kind -> read against the per-type Timeseries of the shared store
READ_KINDS = {
    "get_fine_count":
        lambda t, i, a: t["count"].get(_name(i), "hour", ANCHORS[a]),
    "get_condense_series":
        lambda t, i, a: t["series"].get(_name(i), "hour", ANCHORS[a], condense=True),
    "get_multi_gauge":
        lambda t, i, a: t["gauge"].get([_name(i), _name(i, 2)], "hour", ANCHORS[a]),
    "get_coarse_transforms":
        lambda t, i, a: t["series"].get(
            _name(i), "minute", ANCHORS[a], transform=["mean", "count", "min", "max", "sum"]),
    "get_condense_set":
        lambda t, i, a: t["set"].get(_name(i), "hour", ANCHORS[a], condense=True),
    "series_fine_count":
        lambda t, i, a: t["count"].series(_name(i), "hour", start=ANCHORS[a], steps=3),
    "series_condense_histogram":
        lambda t, i, a: t["histogram"].series(
            _name(i), "hour", start=ANCHORS[a], steps=6, condense=True),
    "series_collapse_series":
        lambda t, i, a: t["series"].series(
            _name(i), "minute", start=ANCHORS[a], steps=60, collapse=True),
    "series_multi_count":
        lambda t, i, a: t["count"].series(
            [_name(i), _name(i, 1), _name(i, 3)], "minute", start=ANCHORS[a], steps=30),
    "series_transform_set":
        lambda t, i, a: t["set"].series(
            _name(i), "daily", start=ANCHORS[a], steps=3, transform="count"),
    "series_weekly_count":
        lambda t, i, a: t["count"].series(_name(i), "daily", start=ANCHORS[a], steps=7),
    "series_weekly_gauge_collapse":
        lambda t, i, a: t["gauge"].series(
            _name(i), "daily", start=ANCHORS[a], steps=7, collapse=True),
}

# (events read, fan-out) per ingest op of a write pass
INGEST_SLICES = ((20000, 0), (10000, 1), (10000, -2))
# (points, fan-out) per bulk_insert op of a write pass
BULK_BATCHES = ((500, 0), (250, 1))
# (values per point, fan-out) per insert op of a write pass
INSERTS = ((1, 0), (3, 0), (1, -1))

# Frozen headline entries (bench.HEADLINE) run in every read pass: the
# queries layer (q_* builders, _tbl, _events_long), the types layer and
# an operators.dedup call, checked against their DuckDB oracle twins.
QUERY_KINDS = ("count_series_hour", "dedup_exact_keep")


def _rng(seed, k):
    return random.Random(seed * 1_000_003 + k)


def read_pass_specs(seed, k):
    """One of each read kind with seeded names/anchors and each headline
    query, in seeded order."""
    rng = _rng(seed, k)
    specs = [(kind, rng.randrange(len(NAMES)), rng.randrange(len(ANCHORS)))
             for kind in READ_KINDS]
    specs += [(kind,) for kind in QUERY_KINDS]
    rng.shuffle(specs)
    return specs


def _points(rng, n):
    return [(JAN1 + rng.randrange(30 * DAY) + rng.randrange(1000) / 1000.0,
             rng.choice(NAMES), round(rng.uniform(-50.0, 150.0), 2)) for _ in range(n)]


def write_pass_specs(seed, k):
    """Ingest slices, bulk batches and single inserts with seeded
    payloads, in seeded order."""
    rng = _rng(seed, k)
    specs = [("ingest", rng.randrange(100_000 - n), n, fan) for n, fan in INGEST_SLICES]
    specs += [("bulk_insert", tuple(_points(rng, n)), fan) for n, fan in BULK_BATCHES]
    specs += [("insert", _points(rng, 1)[0], nv, fan) for nv, fan in INSERTS]
    rng.shuffle(specs)
    return specs


def spec_label(spec):
    """Short form of a spec for trace records (payloads left out)."""
    if spec[0] == "bulk_insert":
        return (spec[0], len(spec[1]), spec[2])
    if spec[0] == "insert":
        return (spec[0], spec[2], spec[3])
    return spec


def spec_events(spec):
    """Input events one write spec hands to the library."""
    kind = spec[0]
    if kind == "ingest":
        return spec[2]
    if kind == "bulk_insert":
        return len(spec[1])
    return spec[2]


def spec_rows_per_interval(spec):
    """Long rows one write spec must add to each interval."""
    return spec_events(spec) * (abs(spec[-1]) + 1)


def _offsets(fan):
    return range(fan, 1) if fan < 0 else range(0, fan + 1)


@functools.lru_cache(maxsize=None)
def _day_key(day):
    """yyyymmdd of the UTC day ``day`` days after 1970-01-01."""
    return int((_dt.date(1970, 1, 1) + _dt.timedelta(days=day)).strftime("%Y%m%d"))


def _keys(interval, secs, off):
    """(i_time, r_time) arrays of the store's long rows for events at
    epoch seconds ``secs`` shifted ``off`` buckets, computed here in
    plain integer/calendar math: an offset row snaps to the shifted
    bucket's start; minute and daily are coarse (r_time -1); daily keys
    are yyyymmdd in UTC."""
    coarse = np.full(len(secs), -1, dtype=np.int64)
    if interval == "daily":
        days, inv = np.unique(secs // DAY + off, return_inverse=True)
        return np.array([_day_key(int(d)) for d in days], dtype=np.int64)[inv], coarse
    step = STORE_INTERVALS[interval]["step"]
    eff = secs if off == 0 else (secs // step + off) * step
    i_time = eff // step * step
    return i_time, coarse if interval == "minute" else eff // 60 * 60


CELL = ["interval", "name", "i_time", "r_time"]


def expected_rows(names, secs, values, fan):
    """The long rows (CELL columns and value) that events written with
    fan-out ``fan`` must add to a store of STORE_INTERVALS."""
    names = np.asarray(names, dtype=object)
    secs = np.asarray(secs, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    frames = []
    for interval in STORE_INTERVALS:
        for off in _offsets(fan):
            i_time, r_time = _keys(interval, secs, off)
            frames.append(pd.DataFrame({"interval": interval, "name": names, "i_time": i_time,
                                        "r_time": r_time, "value": values}))
    return pd.concat(frames, ignore_index=True)


def content(rows):
    """Row count ``n`` and value sum ``v`` per CELL."""
    return rows.groupby(CELL).agg(n=("value", "size"), v=("value", "sum"))


def content_diff(got, want):
    """Cells whose count differs, or whose value sums are not close,
    between two ``content`` frames (a cell missing on one side differs)."""
    j = got.join(want, how="outer", lsuffix="_got", rsuffix="_want")
    ok = (j["n_got"] == j["n_want"]) & np.isclose(
        j["v_got"], j["v_want"], rtol=1e-9, atol=1e-6)
    return list(j.index[~ok])


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def canonical(value):
    """JSON-able form of a read result: sets sorted, floats to 6 places."""
    if isinstance(value, dict):
        return [[canonical(k), canonical(v)] for k, v in value.items()]
    if isinstance(value, (set, frozenset)):
        return sorted(canonical(v) for v in value)
    if isinstance(value, (list, tuple)):
        return [canonical(v) for v in value]
    if isinstance(value, float):
        return "nan" if math.isnan(value) else round(value, 6) + 0.0
    return value


def digest(value):
    text = json.dumps(canonical(value), sort_keys=True, default=str)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def spec_id(spec):
    return "|".join(str(x) for x in spec)


# ---------------------------------------------------------------- Spark side


class ReadWorkload:
    """Seeded get/series calls against parquet stores of all five types
    over one long table built from the events by ``ingest_df``, plus the
    QUERY_KINDS headline entries."""

    name = "kairos_read"
    pass_seconds = 5.0  # nominal pass time on 4 cores: 3 passes in a 16 s run
    make_specs = staticmethod(read_pass_specs)

    def __init__(self, spark, ctx):
        import bench
        from kairos_spark import Timeseries, queries

        self.spark, self.ctx = spark, ctx
        self.path = os.path.join(ctx.work, "read_store")
        self.ts = {t: Timeseries(spark, type=t, intervals=STORE_INTERVALS, path=self.path)
                   for t in TYPES}
        # q_* builders are looked up on the module when an op runs, so
        # the traced run's shims see them
        self.builders = {n: bench.HEADLINE[n].__name__ for n in QUERY_KINDS}
        by_fn = {fn.__name__: qn for qn, fn in queries.QUERIES.items()}
        self.oracle_sql = {n: queries.ORACLES[by_fn[fn]] for n, fn in self.builders.items()}
        self._expected = {}
        path = os.path.join(ctx.here, "digests.json")
        self.digests = {}
        if os.path.exists(path):  # absent only while recording it
            with open(path) as f:
                self.digests = json.load(f)[self.name]

    def prepare(self):
        """(Re)build the store: every event into every interval."""
        from kairos_spark import queries

        shutil.rmtree(self.path, ignore_errors=True)
        events = queries._tbl(self.spark, self.ctx.sf_dir, "events")
        self.ts["series"].ingest_df(events, name_col="event_type", ts_col="ts",
                                    value_col="value")

    def warmup(self):
        for spec in read_pass_specs(self.ctx.seed, -1):
            self.op(spec)()

    def op(self, spec):
        from kairos_spark import queries

        kind = spec[0]
        if kind in QUERY_KINDS:
            name = self.builders[kind]
            return lambda: getattr(queries, name)(self.spark, self.ctx.sf_dir).collect()
        _, i, a = spec
        fn = READ_KINDS[kind]
        return lambda: fn(self.ts, i, a)

    def _oracle(self, kind):
        """Canonical DuckDB oracle rows of a headline entry."""
        if kind not in self._expected:
            import duckdb
            from tools.check_correctness import TABLES, canon

            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx.sf_dir}/{t}.parquet'")
            odf = con.execute(self.oracle_sql[kind]).df()
            con.close()
            cols = sorted(odf.columns)
            self._expected[kind] = (cols, canon(odf.to_dict("records"), cols))
        return self._expected[kind]

    def check(self, result):
        kind = result.key[0]
        if kind in QUERY_KINDS:
            from tools.check_correctness import canon

            want = self._oracle(kind)
            cols = want[0]
            rows = [r.asDict() for r in result.value]
            return bool(rows) and sorted(rows[0]) == cols and canon(rows, cols) == want[1]
        return self.digests.get(spec_id(result.key)) == digest(result.value)

    def finish(self):
        from kairos_spark import queries

        self.events_in = queries._tbl(self.spark, self.ctx.sf_dir, "events").count()
        self.bytes_on_disk = dir_bytes(self.path)
        return {"store_long_rows": self.spark.read.parquet(self.path).count()}


class WriteWorkload:
    """Seeded ``ingest_df`` slices and driver-side ``bulk_insert`` /
    ``insert`` batches appended to fresh parquet stores."""

    name = "kairos_write"
    pass_seconds = 5.0  # nominal pass time on 4 cores: 3 passes in a 16 s run
    make_specs = staticmethod(write_pass_specs)

    def __init__(self, spark, ctx):
        from kairos_spark import queries

        self.spark, self.ctx = spark, ctx
        self.events = queries._tbl(spark, ctx.sf_dir, "events")
        self.stores = {}
        self.written = {}  # store label -> specs written to it
        self.events_in = 0

    def _store(self, label, type_):
        from kairos_spark import Timeseries

        if label not in self.stores:
            path = os.path.join(self.ctx.work, f"write_{label}")
            shutil.rmtree(path, ignore_errors=True)
            self.stores[label] = Timeseries(
                self.spark, type=type_, intervals=STORE_INTERVALS, path=path)
            self.written[label] = []
        return self.stores[label]

    def prepare(self):
        pass

    def warmup(self):
        for spec in write_pass_specs(self.ctx.seed, -1):
            self.op(spec, prefix="warm_")()

    def op(self, spec, prefix=""):
        from pyspark.sql import functions as F

        kind = spec[0]
        if kind == "ingest":
            _, start, n, fan = spec
            label = prefix + "ingest"
            ts = self._store(label, "series")
            df = self.events.where(F.col("event_id").between(start, start + n - 1))
            call = lambda: ts.ingest_df(df, name_col="event_type", ts_col="ts",
                                        value_col="value", fanout=fan)
        elif kind == "bulk_insert":
            _, points, fan = spec
            label = prefix + "driver"
            ts = self._store(label, "count")
            payload = {}
            for t, name, v in points:
                payload.setdefault(t, {}).setdefault(name, []).append(v)
            call = lambda: ts.bulk_insert(payload, intervals=fan)
        else:
            _, (t, name, v), nv, fan = spec
            label = prefix + "driver"
            ts = self._store(label, "count")
            value = v if nv == 1 else [v] * nv
            call = lambda: ts.insert(name, value, timestamp=t, intervals=fan)

        def run():
            call()
            if not prefix:
                self.written[label].append(spec)
                self.events_in += spec_events(spec)

        return run

    def _spec_rows(self, spec, events):
        """Long rows one write spec must add (``expected_rows``)."""
        if spec[0] == "ingest":
            _, start, n, fan = spec
            ev = events.loc[start:start + n - 1]
            return expected_rows(ev["name"], ev["secs"], ev["value"], fan)
        if spec[0] == "bulk_insert":
            _, points, fan = spec
        else:
            _, point, nv, fan = spec
            points = [point] * nv
        return expected_rows([p[1] for p in points], [int(p[0]) for p in points],
                             [p[2] for p in points], fan)

    def finish(self):
        """Read back each store's row count and value sum per (interval,
        name, i_time, r_time) and compare them with what its ops' inputs
        must give (``expected_rows``)."""
        from pyspark.sql import functions as F

        events = self.events.select(
            "event_id", F.col("event_type").cast("string").alias("name"),
            F.unix_timestamp("ts").alias("secs"), "value",
        ).toPandas().set_index("event_id").sort_index()
        self.mismatched = {}
        rows_per_interval = {}
        for label, ts in self.stores.items():
            if label.startswith("warm_"):
                continue
            got = ts.scan().groupBy(*CELL).agg(
                F.count("*").alias("n"), F.sum("value").alias("v")).toPandas().set_index(CELL)
            want = content(pd.concat([self._spec_rows(s, events) for s in self.written[label]]))
            self.mismatched[label] = content_diff(got, want)
            per_interval = rows_per_interval[label] = {
                k: int(n) for k, n in got.groupby(level="interval")["n"].sum().items()}
            # every interval holds events x (|fan-out| + 1) rows per op
            want_rows = sum(spec_rows_per_interval(s) for s in self.written[label])
            if per_interval != dict.fromkeys(STORE_INTERVALS, want_rows):
                self.mismatched[label].append(("rows_per_interval", want_rows))
        self.bytes_on_disk = sum(dir_bytes(ts._store.path) for label, ts in self.stores.items()
                                 if not label.startswith("warm_"))
        return {"readback_rows_per_interval": rows_per_interval,
                "content_mismatches": {k: len(v) for k, v in self.mismatched.items()}}

    def check(self, result):
        label = "ingest" if result.key[0] == "ingest" else "driver"
        return label in self.mismatched and not self.mismatched[label]


WORKLOADS = {w.name: w for w in (ReadWorkload, WriteWorkload)}
