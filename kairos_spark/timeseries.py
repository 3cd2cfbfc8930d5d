"""Timeseries facade — the kairos API surface compiled to DataFrame plans.

API parity (kairos/timeseries.py:266-760): ``insert / bulk_insert / get /
series / iterate / list / properties / delete / delete_all / expire``,
five series types, condense / collapse / transforms, multi-name merge,
±N insert fan-out, retention.

Two read paths; ``get`` and ``series`` pick one per call:
- The engine path: ``get_df`` / ``series_df`` return DataFrames (the
  scale path — nothing collects, plans stay inside Catalyst; aggregation
  output is ~buckets×names rows regardless of input size, populated
  buckets only), and ``get`` / ``series`` collect that small aggregated
  result and shape it into the reference's ``OrderedDict`` forms.
  Shaping gap-fills a coarse result over the bucket list the driver
  already holds, so empty buckets cost no Spark job. Callable
  transforms run on the collected containers.
- The driver-side pipeline (``_get_hooked`` / ``_series_hooked``): the
  reference's sequence acquire (``fetch`` → ``process_row``) → join per
  time slot → condense (fine intervals only) → collapse → transform,
  over Python containers.

The rule (``_hooked``): a read takes the driver-side pipeline iff it
passes ``fetch``, ``process_row``, ``join_rows`` over several names, or
a callable ``condense`` / ``collapse``. Only ``fetch``, ``process_row``
and ``join_rows`` need each name's containers apart; otherwise the
pipeline acquires its data with one engine read (native multi-name
join). Unless ``fetch`` takes over, the cluster does all scanning and
aggregation on both paths.

The facade is type-blind: every per-type decision (aggregation, gauge
condense/join, transforms on either path, empty buckets, Python shapes,
insert defaults) is a method of ``self.ops``, the series type's class in
``kairos_spark.types``.

Storage is raw-append long format (see kairos_spark.ingest), with the
stored-key encoding owned by the ``timemath`` calculators. A memory
store backs unit tests; a parquet store (partitioned by ``interval``)
backs persistence. Both offer ``append_rows`` / ``append_df`` /
``scan`` / ``rewrite(predicate)``. At cluster scale the parquet store's
delete/expire rewrites correspond to Delta ``DELETE WHERE`` / partition
drops (SURVEY.md §4).
"""

from __future__ import annotations

import datetime as _dt
import functools
import inspect
import itertools
import operator
import shutil
import time as _time
from collections import OrderedDict

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from kairos_spark.config import IntervalConfig, parse_intervals, require_interval
from kairos_spark.functions.buckets import step_size_expr
from kairos_spark.ingest import COARSE_SENTINEL, bucketize
from kairos_spark.timemath import is_gregorian
from kairos_spark.types import type_ops

# Parity with the reference's SQL TYPE_MAP (sql_backend.py:29-65).
VALUE_TYPES = {
    "str": T.StringType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "clob": T.StringType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "int": T.LongType(),
    "long": T.LongType(),
    "int64": T.LongType(),
    "bool": T.BooleanType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "decimal": T.DecimalType(24, 6),
    "blob": T.BinaryType(),
    # reference TYPE_MAP includes sa.Time (sql_backend.py:29-65). Spark
    # 4.1 has a TIME type but rejects it in every aggregate
    # (UNSUPPORTED_TIME_TYPE from max_by/max/collect), so 'time' is
    # stored as LongType microseconds-since-midnight and converted back
    # to datetime.time when results are shaped driver-side.
    "time": T.LongType(),
}


def long_schema(value_type: str = "double") -> T.StructType:
    return T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("interval", T.StringType()),
            T.StructField("i_time", T.LongType()),
            T.StructField("r_time", T.LongType()),
            T.StructField("insert_seq", T.LongType()),
            T.StructField("value", VALUE_TYPES[value_type]),
        ]
    )


class _MemoryStore:
    """Driver-held rows; DataFrame materialized per read. Unit-test scale."""

    def __init__(self, spark: SparkSession, schema: T.StructType):
        self.spark, self.schema = spark, schema
        self.rows: list[tuple] = []

    def append_rows(self, rows):
        self.rows.extend(rows)

    def append_df(self, df: DataFrame):
        self.rows.extend(tuple(r) for r in df.collect())

    def scan(self) -> DataFrame:
        return self.spark.createDataFrame(self.rows, schema=self.schema)

    def rewrite(self, predicate):
        """Keep the rows matching ``predicate`` (one small Spark job)."""
        self.rows = [tuple(r) for r in self.scan().where(predicate).collect()]


class _ParquetStore:
    """Append-only parquet partitioned by interval. delete/expire rewrite;
    on a real deployment this store is a Delta table and those become
    ``DELETE WHERE`` + ``OPTIMIZE ZORDER BY (name, i_time)``."""

    def __init__(self, spark: SparkSession, schema: T.StructType, path: str):
        self.spark, self.schema, self.path = spark, schema, path

    def append_rows(self, rows):
        self.append_df(self.spark.createDataFrame(rows, schema=self.schema))

    def append_df(self, df: DataFrame):
        df.write.mode("append").partitionBy("interval").parquet(self.path)

    def scan(self) -> DataFrame:
        """The stored rows; a store never written to reads empty. Any
        other failure (an unknown filesystem scheme, a permission
        error) raises rather than reading as an empty store."""
        try:
            return self.spark.read.schema(self.schema).parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], schema=self.schema)

    def rewrite(self, predicate):
        """Keep the rows matching ``predicate``: write them aside, then
        swap the directory in."""
        df = self.scan().where(predicate)
        tmp = self.path.rstrip("/") + ".__rewrite__"
        df.write.mode("overwrite").partitionBy("interval").parquet(tmp)
        shutil.rmtree(self.path, ignore_errors=True)
        shutil.move(tmp, self.path)


class Timeseries:
    def __init__(
        self,
        spark: SparkSession,
        type: str = "series",
        intervals: dict | None = None,
        path: str | None = None,
        read_func=None,
        write_func=None,
        value_type: str = "double",
    ):
        self.spark = spark
        self.ops = type_ops(type)
        self.intervals: dict[str, IntervalConfig] = parse_intervals(intervals)
        self.read_func = read_func
        self.write_func = write_func
        self.value_type = value_type
        self.schema = long_schema(value_type)
        if path and "://" in path:
            # kairos 0.9.2 parity: construct from a store URL
            # (CHANGELOG; factory dispatch timeseries.py:288-297) —
            # here the URL picks the physical store layer
            from kairos_spark.sources.tables import open_store

            handle = open_store(path)
            if handle.scheme == "memory":
                path = None
            elif handle.scheme == "delta":
                raise NotImplementedError(
                    "delta:// store requires delta-spark at runtime; "
                    "use parquet:// (same long-table layout)"
                )
            else:
                path = handle.path
        self._store = (
            _ParquetStore(spark, self.schema, path) if path
            else _MemoryStore(spark, self.schema)
        )
        self._seq = itertools.count()

    # ------------------------------------------------------------------ write

    _PY_COERCE = {
        T.DoubleType: float,
        T.LongType: int,
        T.StringType: str,
        T.BooleanType: bool,
    }

    def _coerce(self, value):
        """Storage-type coercion (the reference's physical value typing,
        sql_backend.py:29-65 TYPE_MAP applied at write)."""
        if value is None:
            return None
        if self.value_type == "time":
            if isinstance(value, _dt.time):
                return (
                    (value.hour * 60 + value.minute) * 60 + value.second
                ) * 1_000_000 + value.microsecond
            return int(value)
        fn = self._PY_COERCE.get(type(VALUE_TYPES[self.value_type]))
        return fn(value) if fn else value

    def _value_py(self):
        """Storage value → python value mapper applied when shaping
        untransformed containers (None = identity)."""
        if self.value_type == "time":
            def to_time(v):
                if v is None or isinstance(v, _dt.time):
                    return v
                micros = int(v)
                sec, us = divmod(micros, 1_000_000)
                return _dt.time(sec // 3600, sec % 3600 // 60, sec % 60, us)

            return to_time
        return None

    def _rows_for(self, name, value, timestamp, fanout) -> list[tuple]:
        value = self._coerce(value)
        rows = []
        for iname, cfg in self.intervals.items():
            tstamps = [timestamp]
            offsets = range(fanout, 0) if fanout < 0 else range(1, fanout + 1)
            tstamps += [cfg.i_calc.normalize(timestamp, off) for off in offsets]
            for ts in tstamps:
                # write-time drop of data already past retention
                # (parity: redis_backend.py:146-148)
                if cfg.steps and cfg.i_calc.ttl(cfg.steps, ts) == 0:
                    continue
                r_time = COARSE_SENTINEL if cfg.coarse else cfg.r_calc.key(ts)
                rows.append((str(name), iname, cfg.i_calc.key(ts), r_time, next(self._seq), value))
        return rows

    _UNSET = object()

    def insert(self, name, value=_UNSET, timestamp=None, intervals: int = 0):
        """Point write (kairos/timeseries.py:439-472). List values expand
        to one row each; ``intervals=±N`` fans into neighbor buckets.
        For count series the value defaults to 1 (``Count.insert``,
        kairos/timeseries.py:925-926); other types require it."""
        if value is self._UNSET:
            value = self.ops.default_value()
        if timestamp is None:
            timestamp = _time.time()
        values = value if isinstance(value, (list, tuple, set)) else [value]
        rows = []
        for v in values:
            if self.write_func:
                v = self.write_func(v)
            rows.extend(self._rows_for(name, v, timestamp, intervals))
        self._append_rows(rows)

    def bulk_insert(self, inserts: dict, intervals: int = 0):
        """Batch write ``{ts: {name: [values]}}``; None ts → now
        (kairos/timeseries.py:413-437)."""
        rows = []
        for timestamp, names in inserts.items():
            if timestamp is None:
                timestamp = _time.time()
            for name, values in names.items():
                for v in values:
                    if self.write_func:
                        v = self.write_func(v)
                    rows.extend(self._rows_for(name, v, timestamp, intervals))
        self._append_rows(rows)

    def _append_rows(self, rows):
        self._store.append_rows(rows)

    def ingest_df(self, df: DataFrame, name_col="name", ts_col="ts", value_col="value", fanout=0):
        """Scale-path bulk ingest: bucketize an event DataFrame (map-only,
        no driver loop) and append."""
        self._store.append_df(bucketize(df, self.intervals, name_col, ts_col, value_col, fanout))

    # ------------------------------------------------------------------- scan

    def scan(self) -> DataFrame:
        return self._store.scan()

    def _read_cast(self, col):
        return self.read_func(col) if self.read_func else col

    def _filtered(self, names, interval) -> DataFrame:
        df = self.scan().where(F.col("interval") == interval)
        if self.read_func:
            # read-side cast applied at scan, before any aggregation —
            # the reference applies read_func per row read in every
            # _process_row (kairos/timeseries.py:365, 823-826)
            df = df.withColumn("value", self._read_cast(F.col("value")))
        if _is_multi(names):
            names = list(names)
            df = df.where(F.col("name").isin(names))
            # name-argument order drives join precedence for order-
            # sensitive types (gauge last-name-wins, series concat order;
            # kairos/timeseries.py:836-843, 981-988)
            prio = F.array_position(F.array(*[F.lit(n) for n in names]), F.col("name"))
            df = df.withColumn("__prio", prio)
        else:
            df = df.where(F.col("name") == str(names)).withColumn("__prio", F.lit(1))
        return df

    # ------------------------------------------------------- aggregation core

    def _aggregate(self, df, keys, order, condense=False, transform=None, step_size=None, join=False):
        """Aggregate raw rows at the requested grain, returning either the
        per-type container column or transform columns. ``condense``:
        the rows span several resolution slots per key group; ``join``:
        they carry several names."""
        if transform is None:
            return self.ops.aggregate(df, keys, order, self.value_type, condense, join)
        names = transform if isinstance(transform, (list, tuple)) else [transform]
        if not all(isinstance(t, str) for t in names):
            raise TypeError(
                "DataFrame-level transforms must be named; use the "
                "dict-level API (get/series) for Python callables"
            )
        return self.ops.transform_agg(df, keys, names, step_size)

    # -------------------------------------------------------------- get

    def _step_size_col(self, cfg, grain: str):
        """step_size as a column over the grain's time key (variable for
        Gregorian buckets)."""
        calc_step = cfg.step if grain == "i" else cfg.resolution
        key = "i_time" if grain == "i" else "r_time"
        return step_size_expr(F.col(key), calc_step)

    def get_df(self, name, interval, timestamp=None, condense=False, transform=None) -> DataFrame:
        """One interval bucket as a DataFrame keyed by i_time or r_time.
        (kairos/timeseries.py:547-611; gap-filling of the empty coarse
        bucket happens in ``get``'s shaping, not here)."""
        cfg = require_interval(self.intervals, interval)
        if timestamp is None:
            timestamp = _time.time()
        df = self._filtered(name, interval).where(F.col("i_time") == cfg.i_calc.key(timestamp))
        multi = _is_multi(name)

        if cfg.coarse:
            return self._aggregate(
                df, ["i_time"], ["__prio", "insert_seq"], join=multi,
                transform=transform, step_size=self._step_size_col(cfg, "i"),
            )
        if condense:
            return self._aggregate(
                df, ["i_time"], ["r_time", "__prio", "insert_seq"], condense=True,
                transform=transform, step_size=self._step_size_col(cfg, "i"),
            )
        return self._aggregate(
            df, ["r_time"], ["__prio", "insert_seq"], join=multi,
            transform=transform, step_size=self._step_size_col(cfg, "r"),
        )

    def get(
        self, name, interval, timestamp=None, condense=False, transform=None,
        join_rows=None, condensed=None, fetch=None, process_row=None,
    ) -> OrderedDict:
        """Reference-shaped read: OrderedDict keyed by bucket timestamps
        (kairos/timeseries.py:547-611).

        Customized-read hooks (parity: README.rst:623-749): ``condense``
        may be a callable receiving the r-keyed OrderedDict of
        containers (fine intervals only); ``join_rows`` a callable
        merging the per-name containers of one time slot (applied in
        name-argument order, before condense);
        ``fetch(df, name, interval, i_bucket)`` replaces the engine's
        scan+aggregate for the bucket (df = the raw long-format scan),
        returning ``{r_bucket: data}`` (fine) or ``{None: data}``
        (coarse); ``process_row(data)`` replaces the native cast +
        read_func per container (sql_backend.py:189-212 threading).
        Hooks run driver-side over already-aggregated containers — the
        cluster still does all scanning/aggregation unless ``fetch``
        takes over."""
        cfg = require_interval(self.intervals, interval)
        if condensed is not None:  # deprecated alias (kairos timeseries.py:583)
            condense = condensed
        if timestamp is None:
            timestamp = _time.time()
        if _hooked(name, join_rows, fetch, process_row, condense):
            return self._get_hooked(
                name, cfg, interval, timestamp, condense, transform,
                join_rows, fetch, process_row,
            )
        callables = _has_callables(transform)
        df_transform = None if callables else transform
        df = self.get_df(name, interval, timestamp, condense, df_transform)
        rows = df.collect()

        coarse_like = cfg.coarse or condense
        key_col = "i_time" if coarse_like else "r_time"
        calc = cfg.i_calc if coarse_like else cfg.r_calc
        step = calc.step_size(timestamp)
        shaped = OrderedDict()
        for row in sorted(rows, key=lambda r: r[key_col]):
            shaped[calc.key_time(row[key_col])] = _row_payload(row, self.ops, df_transform, self._value_py())
        if coarse_like and not shaped:
            shaped[cfg.i_calc.normalize(timestamp)] = _empty_payload(
                self.ops, df_transform, step, multi=_is_multi(name)
            )
        if callables:
            shaped = _transformed(self.ops, shaped, transform, lambda _k: step)
        return shaped

    # ------------------------------------------ driver-side read pipeline

    def _get_hooked(
        self, name, cfg, interval, timestamp, condense, transform,
        join_rows, fetch, process_row,
    ) -> OrderedDict:
        """The driver-side `get` pipeline, in the reference's order
        (timeseries.py:576-611): acquire (fetch + process_row), join
        names per slot, condense fine data, transform."""
        if _per_name(name, join_rows, fetch, process_row):
            per = [
                self._get_base_hooked(n, cfg, interval, timestamp, fetch, process_row)
                for n in name
            ]
            # get results are flat even for fine data (timeseries.py:591-593)
            rval = _join_results(per, True, join_rows or self.ops.py_join)
        else:
            rval = self._get_base_hooked(name, cfg, interval, timestamp, fetch, process_row)
        calc = cfg.i_calc if cfg.coarse else cfg.r_calc
        if condense and not cfg.coarse:
            fold = condense if callable(condense) else self.ops.py_condense
            rval = OrderedDict([(cfg.i_calc.normalize(timestamp), fold(rval))])
            calc = cfg.i_calc
        if transform:
            step = calc.step_size(timestamp)
            rval = _transformed(self.ops, rval, transform, lambda _k: step)
        return rval

    def _engine_read(self, process_row, read, *args):
        """Engine acquisition under hooks: ``read(*args)`` with the
        scan-side read_func suppressed when a custom process_row takes
        over that role. This port's ``read_func`` is a Column→Column
        cast applied at scan, so the engine's containers already carry
        the native cast + read_func, and without a custom process_row
        they pass through as they are.

        NOTE: the suppression temporarily mutates ``self.read_func``
        (restored in finally) — hooked reads on a shared Timeseries are
        not reentrant/thread-safe, matching the reference library's
        single-threaded facade contract."""
        saved = self.read_func
        if process_row is not None:
            self.read_func = None
        try:
            return read(*args)
        finally:
            self.read_func = saved

    def _fetch_proc(self, process_row):
        """Per-container processing of fetched data: a custom
        process_row, else the native ``py_process_row`` without
        read_func (fetched data never passed through the engine, so
        casting is the fetch callable's responsibility)."""
        return process_row or (lambda d: self.ops.py_process_row(d, None))

    def _get_base_hooked(self, name, cfg, interval, timestamp, fetch, process_row):
        """Bucket acquisition under hooks (sql_backend.py:189-212): a
        custom fetch replaces the read entirely for one name; otherwise
        one engine read aggregates natively (several names joined by the
        engine when no per-name hook needs them apart)."""
        if fetch is not None:
            proc = self._fetch_proc(process_row)
            i_bucket = cfg.i_calc.to_bucket(timestamp)
            raw = fetch(self.scan(), str(name), interval, i_bucket)
            if cfg.coarse:
                data = next(iter(raw.values())) if raw else None
                payload = proc(data) if data else self.ops.empty_container()
                return OrderedDict([(cfg.i_calc.from_bucket(i_bucket), payload)])
            out = OrderedDict()
            for r_bucket in sorted(raw or {}):
                out[cfg.r_calc.from_bucket(r_bucket)] = proc(raw[r_bucket])
            return out
        base = self._engine_read(process_row, self.get, name, interval, timestamp)
        if process_row is None:
            return base
        # gap-filled empties skip process_row (reference _get applies it
        # only to rows that exist, sql_backend.py:203-210)
        return OrderedDict((k, process_row(v) if v else v) for k, v in base.items())

    def _series_hooked(
        self, name, cfg, interval, start, end, steps, condense, collapse,
        transform, join_rows, fetch, process_row,
    ) -> OrderedDict:
        """The driver-side `series` pipeline, in the reference's order
        (timeseries.py:640-722): acquire → join → per-interval condense
        → collapse → transform. Collapse implies condense, is keyed by
        the range's first bucket and spans the whole range, as in
        ``series_df``."""
        buckets = self._bucket_range(cfg, start, end, steps)
        if collapse:
            condense = condense or True
        if _per_name(name, join_rows, fetch, process_row):
            per = [
                self._series_base_hooked(n, cfg, interval, start, end, steps, buckets, fetch, process_row)
                for n in name
            ]
            rval = _join_results(per, cfg.coarse, join_rows or self.ops.py_join)
        else:
            rval = self._series_base_hooked(
                name, cfg, interval, start, end, steps, buckets, fetch, process_row
            )
        if condense and not cfg.coarse:
            fold = condense if callable(condense) else self.ops.py_condense
            rval = OrderedDict((k, fold(v)) for k, v in rval.items())
        if collapse:
            fold = (
                collapse if callable(collapse)
                else condense if callable(condense)
                else self.ops.py_condense
            )
            rval = OrderedDict([(cfg.i_calc.from_bucket(buckets[0]), fold(rval))])
        if transform:
            rval = self._transform_series(
                cfg, rval, transform, buckets, collapse, nested=not (cfg.coarse or condense)
            )
        return rval

    def _series_base_hooked(
        self, name, cfg, interval, start, end, steps, buckets, fetch, process_row
    ) -> OrderedDict:
        """Range acquisition under hooks (sql_backend.py:214-246):
        ``fetch(df, name, interval, start_bucket, end_bucket)`` returns
        ``{i_bucket: data}`` (coarse) or ``{i_bucket: {r_bucket: data}}``
        (fine); coarse results gap-fill every bucket. See
        ``_get_base_hooked`` / ``_engine_read`` for the engine read."""
        if fetch is not None:
            proc = self._fetch_proc(process_row)
            raw = fetch(self.scan(), str(name), interval, buckets[0], buckets[-1]) or {}
            rval = OrderedDict()
            if cfg.coarse:
                for b in buckets:
                    data = raw.get(b)
                    rval[cfg.i_calc.from_bucket(b)] = proc(data) if data else self.ops.empty_container()
            else:
                for b in sorted(raw):
                    inner = OrderedDict()
                    for rb in sorted(raw[b] or {}):
                        inner[cfg.r_calc.from_bucket(rb)] = proc(raw[b][rb])
                    rval[cfg.i_calc.from_bucket(b)] = inner
            return rval
        base = self._engine_read(process_row, self.series, name, interval, start, end, steps)
        if process_row is None:
            return base
        if cfg.coarse:
            return OrderedDict((k, process_row(v) if v else v) for k, v in base.items())
        return OrderedDict(
            (i_ts, OrderedDict((r_ts, process_row(v)) for r_ts, v in inner.items()))
            for i_ts, inner in base.items()
        )

    # ------------------------------------------------------------- series

    def _bucket_range(self, cfg, start, end, steps):
        """The reference's 4-way start/end/steps resolution
        (kairos/timeseries.py:654-677)."""
        steps = steps or cfg.steps or 1
        if end is None:
            if start is None:
                end = _time.time()
                end_b = cfg.i_calc.to_bucket(end)
                start_b = cfg.i_calc.to_bucket(end, -steps + 1)
            else:
                start_b = cfg.i_calc.to_bucket(start)
                end_b = cfg.i_calc.to_bucket(start, steps - 1)
        else:
            end_b = cfg.i_calc.to_bucket(end)
            if start is None:
                start_b = cfg.i_calc.to_bucket(end, -steps + 1)
            else:
                start_b = cfg.i_calc.to_bucket(start)
        start_ts = cfg.i_calc.from_bucket(start_b)
        end_ts = cfg.i_calc.from_bucket(end_b)
        if start_ts > end_ts:
            end_ts = start_ts
        return cfg.i_calc.buckets(start_ts, end_ts)

    def series_df(
        self, name, interval, start=None, end=None, steps=None,
        condense=False, collapse=False, transform=None,
    ) -> DataFrame:
        """Range read (kairos/timeseries.py:619-719). Like ``get_df``,
        the result carries populated buckets only; ``series`` gap-fills
        coarse results while it shapes them (fine results stay sparse,
        reference parity, sql_backend.py:228-246)."""
        cfg = require_interval(self.intervals, interval)
        if collapse:
            condense = True
        buckets = self._bucket_range(cfg, start, end, steps)
        i_values = [cfg.i_calc.key_of(b) for b in buckets]
        # weekly %Y%U codes are not contiguous across a year end, so
        # Gregorian ranges filter on the listed keys
        df = self._filtered(name, interval).where(
            F.col("i_time").between(min(i_values), max(i_values))
            if not is_gregorian(cfg.step)
            else F.col("i_time").isin(i_values)
        )

        if collapse:
            # one output row keyed by the first bucket; step_size spans the
            # whole range (kairos/timeseries.py:706-713)
            keyed = df.withColumn("__collapse", F.lit(i_values[0]))
            out = self._aggregate(
                keyed, ["__collapse"], ["i_time", "r_time", "__prio", "insert_seq"],
                condense=not cfg.coarse,
                transform=transform, step_size=F.lit(_range_span(cfg, buckets)),
            )
            return out.withColumnRenamed("__collapse", "i_time")

        if cfg.coarse or condense:
            return self._aggregate(
                df, ["i_time"], ["r_time", "__prio", "insert_seq"],
                condense=condense and not cfg.coarse,
                join=cfg.coarse and _is_multi(name),
                transform=transform, step_size=self._step_size_col(cfg, "i"),
            )
        return self._aggregate(
            df, ["i_time", "r_time"], ["__prio", "insert_seq"], join=_is_multi(name),
            transform=transform, step_size=self._step_size_col(cfg, "r"),
        )

    def series(
        self, name, interval, start=None, end=None, steps=None,
        condense=False, collapse=False, transform=None, condensed=None,
        join_rows=None, fetch=None, process_row=None,
    ) -> OrderedDict:
        """Reference-shaped range read: ``{i_ts: data}`` or nested
        ``{i_ts: {r_ts: data}}`` (kairos/timeseries.py:619-719).

        ``condense`` / ``collapse`` may be callables (customized-read
        hooks, README.rst:623-749): condense maps one interval's
        r-keyed dict to a single container; collapse maps the i-keyed
        dict of condensed containers to one container keyed by the
        range's first bucket. ``join_rows``,
        ``fetch(df, name, interval, start_bucket, end_bucket)`` and
        ``process_row(data)`` follow the same contracts as in ``get``."""
        cfg = require_interval(self.intervals, interval)
        if condensed is not None:  # deprecated alias (kairos timeseries.py:648)
            condense = condensed
        if _hooked(name, join_rows, fetch, process_row, condense, collapse):
            return self._series_hooked(
                name, cfg, interval, start, end, steps, condense, collapse,
                transform, join_rows, fetch, process_row,
            )
        callables = _has_callables(transform)
        df_transform = None if callables else transform
        if collapse:
            condense = True
        buckets = self._bucket_range(cfg, start, end, steps)
        df = self.series_df(name, interval, start, end, steps, condense, collapse, df_transform)
        rows = df.collect()
        shaped = OrderedDict()
        nested = not (cfg.coarse or condense)
        if nested:
            for row in sorted(rows, key=lambda r: (r["i_time"], r["r_time"])):
                i_ts = cfg.i_calc.key_time(row["i_time"])
                r_ts = cfg.r_calc.key_time(row["r_time"])
                shaped.setdefault(i_ts, OrderedDict())[r_ts] = _row_payload(row, self.ops, df_transform, self._value_py())
        elif cfg.coarse and not collapse:
            # gap-fill over the bucket list: every bucket gets its row's
            # payload, or the type's empty default when the bucket has no
            # row, a null container or an all-null transform row
            by_key = {row["i_time"]: row for row in rows}
            for b in buckets:
                row = by_key.get(cfg.i_calc.key_of(b))
                v = None if row is None else _row_payload(row, self.ops, df_transform, self._value_py())
                i_ts = cfg.i_calc.from_bucket(b)
                if v is None or (isinstance(v, dict) and v and all(x is None for x in v.values())):
                    v = _empty_payload(self.ops, df_transform, cfg.i_calc.step_size(i_ts), multi=_is_multi(name))
                shaped[i_ts] = v
        else:
            for row in sorted(rows, key=lambda r: r["i_time"]):
                shaped[cfg.i_calc.key_time(row["i_time"])] = _row_payload(row, self.ops, df_transform, self._value_py())
        if callables:
            shaped = self._transform_series(cfg, shaped, transform, buckets, collapse, nested)
        return shaped

    def _transform_series(self, cfg, shaped, transform, buckets, collapse, nested):
        """Transforms over a shaped series result with the reference's
        step sizes (kairos/timeseries.py:706-719): the r-bucket for
        nested data, the i-bucket per interval, the whole range for a
        collapsed row."""
        if nested:
            return OrderedDict(
                (i_ts, _transformed(self.ops, inner, transform, cfg.r_calc.step_size))
                for i_ts, inner in shaped.items()
            )
        if collapse:
            span = _range_span(cfg, buckets)
            return _transformed(self.ops, shaped, transform, lambda _k: span)
        return _transformed(self.ops, shaped, transform, cfg.i_calc.step_size)

    # ----------------------------------------------------- metadata/lifecycle

    def iterate(self, name, interval, **kwargs):
        """Generator over every bucket between a stat's first and last
        data point (kairos/timeseries.py:521-545)."""
        cfg = require_interval(self.intervals, interval)
        props = self.properties(name)[interval]
        for bucket in cfg.i_calc.buckets(props["first"], props["last"]):
            data = self.get(name, interval, timestamp=cfg.i_calc.from_bucket(bucket), **kwargs)
            for ts, row in data.items():
                yield (ts, row)

    def list(self) -> list[str]:
        return [r["name"] for r in self.scan().select("name").distinct().collect()]

    def properties(self, name) -> dict:
        """{interval: {'first': ts, 'last': ts}} (kairos/timeseries.py:401-405)."""
        rows = (
            self.scan()
            .where(F.col("name") == str(name))
            .groupBy("interval")
            .agg(F.min("i_time").alias("first"), F.max("i_time").alias("last"))
            .collect()
        )
        out = {}
        for r in rows:
            calc = self.intervals[r["interval"]].i_calc
            out[r["interval"]] = {"first": calc.key_time(r["first"]), "last": calc.key_time(r["last"])}
        return out

    def delete(self, name):
        self._store.rewrite(F.col("name") != str(name))

    def delete_all(self):
        self._store.rewrite(F.lit(False))

    def expire(self, name=None):
        """Drop rows past each interval's ``steps`` retention
        (kairos/sql_backend.py:161-178)."""
        now = _time.time()
        expired = [
            (F.col("interval") == iname) & (F.col("i_time") <= cfg.i_calc.key(now, -cfg.steps))
            for iname, cfg in self.intervals.items()
            if cfg.steps
        ]
        if not expired:
            return
        keep = ~functools.reduce(operator.or_, expired)
        if name is not None:
            keep = (F.col("name") != str(name)) | keep
        self._store.rewrite(keep)


# --------------------------------------------------------------- read-path rule


def _is_multi(name) -> bool:
    return isinstance(name, (list, tuple, set))


def _per_name(name, join_rows, fetch, process_row) -> bool:
    """Whether a hooked read acquires each name on its own: only
    ``join_rows``, ``fetch`` and ``process_row`` act on per-name
    containers. Without them several names come from one engine read
    with the native join."""
    return _is_multi(name) and (
        join_rows is not None or fetch is not None or process_row is not None
    )


def _hooked(name, join_rows, fetch, process_row, *folds) -> bool:
    """The read-path rule: any Python hook except a callable transform
    (``fetch``, ``process_row``, ``join_rows`` over several names, a
    callable ``condense``/``collapse``) sends the read to the
    driver-side pipeline; everything else runs on the engine path."""
    return (
        fetch is not None or process_row is not None
        or _per_name(name, join_rows, fetch, process_row)
        or any(callable(f) for f in folds)
    )


# --------------------------------------------------------------- shaping utils


def _join_results(results, coarse, join):
    """Join per-name result dicts (kairos/timeseries.py:726-744): union
    of keys in sorted order; nested r-key join when not coarse."""
    rval = OrderedDict()
    i_keys = sorted({k for res in results for k in res})
    for i_key in i_keys:
        if coarse:
            rval[i_key] = join([res.get(i_key) for res in results])
        else:
            inner = OrderedDict()
            r_keys = sorted({rk for res in results for rk in res.get(i_key, {})})
            for r_key in r_keys:
                inner[r_key] = join([res.get(i_key, {}).get(r_key) for res in results])
            rval[i_key] = inner
    return rval


def _range_span(cfg, buckets) -> int:
    """step_size of a collapsed range: first bucket start to the end of
    the last bucket (kairos/timeseries.py:706-713)."""
    return cfg.i_calc.step_size(cfg.i_calc.from_bucket(buckets[0]), cfg.i_calc.from_bucket(buckets[-1]))


def _transformed(ops, shaped, transform, step_of) -> OrderedDict:
    """``transform`` over each container of a shaped ``{key: data}``
    result; ``step_of(key)`` gives that bucket's step size."""
    fn = _transformer(ops, transform)
    return OrderedDict((k, fn(v, step_of(k))) for k, v in shaped.items())


def _has_callables(transform) -> bool:
    if transform is None:
        return False
    if callable(transform) and not isinstance(transform, str):
        return True
    if isinstance(transform, (list, tuple, set)):
        return any(callable(t) and not isinstance(t, str) for t in transform)
    if isinstance(transform, dict):
        return True
    return False


def _row_payload(row, ops, transform, value_py=None):
    """Extract the result payload from an aggregated row, converting the
    container to the reference's python shape (``ops.py_value``)."""
    d = row.asDict()
    d.pop("i_time", None)
    d.pop("r_time", None)
    d.pop("__prio", None)
    if transform is None:
        v = d.get("value")
        return v if v is None else ops.py_value(v, value_py)
    if isinstance(transform, str):
        # a map-valued transform (``rate_map``) keeps the container column
        return d[transform] if transform in d else d.get("value")
    return {t: d[t] for t in transform}


def _empty_payload(ops, transform, step_size, multi=False):
    """A bucket without rows: the type's empty container, or each named
    transform of it."""
    empty = ops.empty_container(multi)
    return empty if transform is None else _transformer(ops, transform)(empty, step_size)


def _transformer(ops, transform):
    """``transform`` as one ``fn(data, step_size)`` over a collected
    container (parity: kairos/timeseries.py:747-755). A name is the
    type's own ``py_transform``, checked here as the engine checks it; a
    callable takes ``(data, step_size)``, or ``(data)`` alone when its
    signature says so (the reference's set transforms,
    timeseries.py:1017-1018). A list or dict maps each entry."""
    def one(t):
        if not callable(t) or isinstance(t, str):
            ops.require_transform(t)
            return lambda data, step: ops.py_transform(data, t, step)
        return t if _takes_step(t) else lambda data, step: t(data)

    if isinstance(transform, dict):
        fns = {k: one(t) for k, t in transform.items()}
    elif isinstance(transform, (list, tuple, set)):
        fns = {t: one(t) for t in transform}
    else:
        return one(transform)
    return lambda data, step: {k: fn(data, step) for k, fn in fns.items()}


def _takes_step(fn) -> bool:
    """Whether a transform callable accepts ``(data, step_size)``,
    decided from its signature before it runs (one without an
    introspectable signature gets ``(data)``)."""
    try:
        inspect.signature(fn).bind(None, None)
    except (TypeError, ValueError):
        return False
    return True
