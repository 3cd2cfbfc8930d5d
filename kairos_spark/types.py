"""Per-series-type semantics; the ``Timeseries`` facade never branches
on the type, it calls these classes.

The reference implements five series types, each with three merge
operators (`_condense`, `_join`, `_process_row`) and a `_transform`
dispatcher (kairos/timeseries.py:757-1041). Because this engine stores
RAW appends (one row per inserted value) rather than materialized
containers, *condense*, *join* and interval-grain reads are all the same
operation — re-aggregating raw rows at a coarser grain. Each type owns:

- engine expressions: ``container_agg`` / ``aggregate`` (rows → one
  container per key group) and ``transform_exprs`` / ``transform_expr``
  / ``transform_agg`` (named transforms over raw rows);
- ``named_transforms``, the one list both transform paths check;
- the ``py_*`` folds, driver-side ports of the reference's operators
  and of its ``_transform`` (``py_transform``, the driver-side path);
- empties: ``empty_container(multi)``; a named transform of an empty
  bucket is ``py_transform`` of it;
- gauge truthiness (``_nonfalsy``) under the store's value type.

Everything engine-side is builtin-function Spark (JVM, whole-stage
codegen); no Python UDFs in any hot path.
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame, functions as F

VALUE = "value"
SEQ = "insert_seq"


def _sorted_values(order_cols: list[str]):
    """collect_list with deterministic order: collect structs of
    (order..., value), array_sort (struct sort = lexicographic on
    fields), then project the value back out."""
    struct = F.struct(*[F.col(c) for c in order_cols], F.col(VALUE).alias("__v"))
    return F.transform(F.array_sort(F.collect_list(struct)), lambda s: s["__v"])


class TypeOps:
    """Base: shared transform names mean/count/min/max/sum/rate, and
    their driver-side form over a sequence of values (series, set).

    The ``py_*`` methods are driver-side ports of the reference's
    native container operators (``_process_row`` / ``_condense`` /
    ``_join`` / ``_transform``, kairos/timeseries.py:757-1041). They
    serve the customized-read hooks (README.rst:623-749) and callable
    transforms: once a custom callable enters the read path the
    containers live driver-side, so the native fallbacks must too."""

    name: str = ""
    empty = None
    named_transforms = ("mean", "count", "min", "max", "sum", "rate")

    def empty_container(self, multi: bool = False):
        """A new container for a bucket without rows."""
        return copy.copy(self.empty)

    def default_value(self):
        """The value ``insert`` writes when given none."""
        raise TypeError(f"insert() requires a value for type {self.name!r}")

    def require_transform(self, name):
        if name not in self.named_transforms:
            raise ValueError(f"transform {name!r} not supported for type {self.name!r}")

    def container_agg(self, df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
        raise NotImplementedError

    def aggregate(self, df, keys, order, value_type, condense=False, join=False) -> DataFrame:
        """Rows → one container per key group, where the rows may span
        several resolution slots per group (``condense``) or several
        names (``join``). For every type but gauge both are
        ``container_agg`` over the rows in ``order``."""
        return self.container_agg(df, keys, order)

    def transform_exprs(self, step_size) -> dict:
        raise NotImplementedError

    def transform_expr(self, name: str, step_size):
        """One named transform as an aggregate Column (histogram 'rate'
        is map-valued and has none; see ``HistogramOps.transform_agg``)."""
        self.require_transform(name)
        return self.transform_exprs(step_size)[name]

    def transform_agg(self, df, keys, names, step_size) -> DataFrame:
        """Named transforms → one row per key group, a column per name."""
        return df.groupBy(*keys).agg(*[self.transform_expr(t, step_size).alias(t) for t in names])

    def py_value(self, data, fn=None):
        """A collected engine container in the reference's Python shape,
        with the storage → Python mapper ``fn`` applied to its values."""
        return fn(data) if fn else data

    def py_transform(self, data, name, step_size):
        """A named transform of one container, the reference's
        ``_transform`` (kairos/timeseries.py:805-821); empty-bucket
        values match ``transform_exprs``: mean 0.0, min/max/sum 0."""
        self.require_transform(name)
        if name == "mean":
            return sum(data) / len(data) if data else 0.0
        if name == "count":
            return len(data)
        if name == "min":
            return min(data, default=0)
        if name == "max":
            return max(data, default=0)
        if name == "sum":
            return sum(data)
        return len(data) / step_size

    def py_process_row(self, data, read_func):
        """Native cast + read_func application for one container."""
        raise NotImplementedError

    def py_condense(self, data: dict):
        """Collapse one interval's {r_ts: container} into one container.
        Each type's ``_condense`` folds the slots as its ``_join`` folds
        names (kairos/timeseries.py:828-1041), so this is that join."""
        return self.py_join(list(data.values()))

    def py_join(self, rows: list):
        """Join per-name containers of one time slot."""
        raise NotImplementedError


class SeriesOps(TypeOps):
    """Ordered list of raw values per bucket (kairos/timeseries.py:792-843).

    Transform quirks preserved: min/max of an empty bucket are 0, mean of
    empty is 0 (timeseries.py:805-814) — expressed with coalesce so
    gap-filled buckets match the reference."""

    name = "series"
    empty: list = []

    def container_agg(self, df, keys, order):
        return df.groupBy(*keys).agg(_sorted_values(order).alias(VALUE))

    def transform_exprs(self, step_size):
        return {
            "mean": F.coalesce(F.avg(VALUE), F.lit(0.0)),
            "count": F.count(VALUE),
            "min": F.coalesce(F.min(VALUE), F.lit(0)),
            "max": F.coalesce(F.max(VALUE), F.lit(0)),
            "sum": F.coalesce(F.sum(VALUE), F.lit(0)),
            "rate": F.count(VALUE) / step_size,
        }

    def py_value(self, data, fn=None):
        return [fn(v) for v in data] if fn else data

    def py_process_row(self, data, read_func):
        # kairos/timeseries.py:823-826
        return [read_func(v) for v in data] if read_func else data

    def py_join(self, rows):
        # kairos/timeseries.py:836-843
        out = []
        for row in rows:
            if row:
                out.extend(row)
        return out


class HistogramOps(TypeOps):
    """{value: occurrence-count} per bucket (kairos/timeseries.py:845-904).

    From raw rows the weighted transforms collapse to plain aggregates
    (e.g. weighted mean Σk·v/Σv == avg over raw occurrences).
    'rate' is map-valued ({k: count/step}, timeseries.py:872-873) and
    needs the two-phase ``rate_map`` path instead of a single expression;
    an empty bucket's rate is ``{}``.
    """

    name = "histogram"
    empty: dict = {}

    def container_agg(self, df, keys, order):
        counted = df.groupBy(*keys, VALUE).agg(F.count("*").alias("__n"))
        return counted.groupBy(*keys).agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col(VALUE), F.col("__n"))))
            ).alias(VALUE)
        )

    def transform_exprs(self, step_size):
        return {
            "mean": F.coalesce(F.avg(VALUE), F.lit(0.0)),
            "count": F.count(VALUE),
            "min": F.coalesce(F.min(VALUE), F.lit(0)),
            "max": F.coalesce(F.max(VALUE), F.lit(0)),
            "sum": F.coalesce(F.sum(VALUE), F.lit(0)),
        }

    def transform_agg(self, df, keys, names, step_size):
        if "rate" not in names:
            return super().transform_agg(df, keys, names, step_size)
        if any(t != "rate" for t in names):
            raise ValueError("histogram rate cannot combine with other transforms in one plan")
        return self.rate_map(df, keys, step_size)

    def rate_map(self, df, keys, step_size):
        """Map-valued rate: {value: count/step_size} per key group."""
        counted = df.groupBy(*keys, VALUE).agg((F.count("*") / step_size).alias("__r"))
        return counted.groupBy(*keys).agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col(VALUE), F.col("__r"))))
            ).alias(VALUE)
        )

    def percentiles(self, df, keys, ps):
        """Exact weighted percentiles over the histogram (inverse CDF /
        type-1 quantile): the smallest key whose cumulative occurrence
        count reaches ceil(p × total). Integer-only arithmetic, so the
        result is engine-exact — no interpolation ambiguity.

        Scale shape: occurrences collapse to one row per (keys, value)
        FIRST (partial agg before the shuffle); the cumulative window
        then runs over distinct values per group — bounded by histogram
        cardinality, never raw row count."""
        from pyspark.sql.window import Window

        counted = df.groupBy(*keys, VALUE).agg(F.count("*").alias("__n"))
        w = Window.partitionBy(*keys).orderBy(VALUE)
        cum = counted.withColumn("__cum", F.sum("__n").over(w)).withColumn(
            "__tot", F.sum("__n").over(Window.partitionBy(*keys))
        )
        aggs = [
            F.min(
                F.when(
                    F.col("__cum") >= F.ceil(F.lit(p) * F.col("__tot")), F.col(VALUE)
                )
            ).alias(f"p{int(round(p * 100)):02d}")
            for p in ps
        ]
        return cum.groupBy(*keys).agg(*aggs)

    def py_value(self, data, fn=None):
        # the counted values are the keys; counts stay as they are
        return {fn(k): n for k, n in data.items()} if fn else data

    def py_transform(self, data, name, step_size):
        # kairos/timeseries.py:859-876, weighted by occurrence count
        self.require_transform(name)
        total = sum(data.values())
        if name == "mean":
            return sum(k * n for k, n in data.items()) / total if total else 0.0
        if name == "count":
            return total
        if name == "min":
            return min(data, default=0)
        if name == "max":
            return max(data, default=0)
        if name == "sum":
            return sum(k * n for k, n in data.items())
        return {k: n / step_size for k, n in data.items()}

    def py_process_row(self, data, read_func):
        # kairos/timeseries.py:878-883 (keys through read_func, counts int)
        return {
            (read_func(k) if read_func else k): int(v) for k, v in data.items()
        }

    def py_join(self, rows):
        # kairos/timeseries.py:895-904
        out: dict = {}
        for row in rows:
            if row:
                for k, v in row.items():
                    out[k] = v + out.get(k, 0)
        return out


class CountOps(TypeOps):
    """Running counter per bucket; insert defaults to +1, negatives
    decrement (kairos/timeseries.py:906-946). Only named transform is
    'rate' (timeseries.py:917-920)."""

    name = "count"
    empty = 0
    named_transforms = ("rate",)

    def default_value(self):
        # Count.insert (kairos/timeseries.py:925-926)
        return 1

    def container_agg(self, df, keys, order):
        return df.groupBy(*keys).agg(F.coalesce(F.sum(VALUE), F.lit(0)).alias(VALUE))

    def transform_exprs(self, step_size):
        return {"rate": F.coalesce(F.sum(VALUE), F.lit(0)) / step_size}

    def py_transform(self, data, name, step_size):
        # kairos/timeseries.py:917-920
        self.require_transform(name)
        return data / step_size

    def py_process_row(self, data, read_func):
        # kairos/timeseries.py:928-929 (read_func not applied to counts)
        return int(data) if data else 0

    def py_join(self, rows):
        # kairos/timeseries.py:939-946
        return sum(row for row in rows if row)


class GaugeOps(TypeOps):
    """Last written value wins (kairos/timeseries.py:948-988). The
    reference's named transforms are no-ops (timeseries.py:957-964);
    here every name raises, on the engine and the driver path alike.

    Join/condense order sensitivity: the winner is the last value by the
    caller-provided ``order`` columns (insert order; for multi-name
    reads, name-argument order — timeseries.py:981-988). The reference's
    gauge ``_condense`` and ``_join`` drop falsy values (``filter(None,
    ...)``, timeseries.py:976; ``if row``, :981-988) — reproduced by
    ``aggregate`` so a 0 written late in an interval does not shadow an
    earlier real reading."""

    name = "gauge"
    # reference _type_no_value is 0, not None (kairos/timeseries.py:953-955
    # — "TODO: resolve this disconnect with redis backend" notwithstanding,
    # the functional suite asserts 0 for an empty single-name get)
    empty = 0
    named_transforms = ()

    def empty_container(self, multi=False):
        # a multi-name empty slot is None: _join skips falsy rows and
        # returns its None initial (timeseries.py:981-988)
        return None if multi else self.empty

    def container_agg(self, df, keys, order):
        order_expr = F.struct(*[F.col(c) for c in order])
        return df.groupBy(*keys).agg(F.max_by(VALUE, order_expr).alias(VALUE))

    def aggregate(self, df, keys, order, value_type, condense=False, join=False):
        """Condense is two-stage: the last write per (resolution slot,
        name), falsy-filtered, then the last slot wins
        (kairos/timeseries.py:971-979). The reference joins names per
        SLOT before condensing (:588-605), so slot time dominates name
        priority: the last populated ``r_time`` wins, ties broken by
        name-argument order (``__prio``). A join without condense takes
        the last non-falsy name's value per slot (:981-988): the last
        write per name, falsy-filtered, then name-argument order."""
        if not (condense or join):
            return self.container_agg(df, keys, order)
        slot = ["r_time", "__prio"] if condense else ["__prio"]
        fine = self.container_agg(df, keys + slot, [SEQ])
        kept = fine.where(_nonfalsy(F.col(VALUE), value_type))
        last = F.struct(*slot) if condense else F.col("__prio")
        return kept.groupBy(*keys).agg(F.max_by(VALUE, last).alias(VALUE))

    def transform_exprs(self, step_size):
        return {}

    def py_process_row(self, data, read_func):
        # kairos/timeseries.py:966-969 (read_func sees '' for falsy)
        if read_func:
            return read_func(data or "")
        return data

    def py_join(self, rows):
        # kairos/timeseries.py:981-988: last truthy row wins
        out = None
        for row in rows:
            if row:
                out = row
        return out


class SetOps(TypeOps):
    """Distinct values per bucket (kairos/timeseries.py:990-1041).
    Numeric transforms run over DISTINCT members; count is exact
    cardinality (timeseries.py:998-1016)."""

    name = "set"
    empty: set = set()

    def container_agg(self, df, keys, order):
        # Two-phase distinct, not a direct collect_set: a direct
        # groupBy(keys).collect_set ships EVERY duplicate occurrence of a
        # hot bucket to one task. Phase 1 groups by (keys, value) — the
        # value component spreads a hot bucket across partitions and
        # map-side partial aggregation drops duplicates before the
        # shuffle; phase 2 collects only the distinct members.
        distinct = df.groupBy(*keys, VALUE).agg(F.lit(1).alias("__d")).drop("__d")
        return distinct.groupBy(*keys).agg(F.array_sort(F.collect_list(VALUE)).alias(VALUE))

    def transform_exprs(self, step_size):
        distinct_sum = F.sum_distinct(F.col(VALUE))
        distinct_n = F.count_distinct(F.col(VALUE))
        return {
            "mean": F.coalesce(distinct_sum / distinct_n, F.lit(0.0)),
            "count": distinct_n,
            "min": F.coalesce(F.min(VALUE), F.lit(0)),
            "max": F.coalesce(F.max(VALUE), F.lit(0)),
            "sum": F.coalesce(distinct_sum, F.lit(0)),
            "rate": distinct_n / step_size,
        }

    def py_value(self, data, fn=None):
        return {fn(v) for v in data} if fn else set(data)

    def py_transform(self, data, name, step_size):
        # kairos/timeseries.py:998-1016; sorted so float sums do not
        # depend on set iteration order
        return super().py_transform(sorted(data), name, step_size)

    def py_process_row(self, data, read_func):
        # kairos/timeseries.py:1021-1024
        if read_func:
            return {read_func(d) for d in data}
        return set(data)

    def py_join(self, rows):
        # kairos/timeseries.py:1034-1041
        out: set = set()
        for row in rows:
            if row:
                out |= row
        return out


def _nonfalsy(col, value_type: str):
    """Python truthiness of a stored gauge value under the store's
    ``value_type`` (the reference drops falsy values: 0, 0.0, '', False,
    None — kairos/timeseries.py:976). ``time`` is stored as microseconds
    since midnight, but ``datetime.time(0, 0)`` is truthy (Python 3.5+),
    so like dates, datetimes and blobs only null is falsy."""
    base = col.isNotNull()
    if value_type in ("float", "double", "int", "long", "int64", "decimal"):
        return base & (col != 0)
    if value_type in ("str", "string", "text", "clob"):
        return base & (col != "")
    return base & col if value_type == "bool" else base


TYPES: dict[str, TypeOps] = {
    ops.name: ops for ops in (SeriesOps(), HistogramOps(), CountOps(), GaugeOps(), SetOps())
}


def type_ops(name: str) -> TypeOps:
    if name not in TYPES:
        raise ValueError(f"unknown series type {name!r}; one of {sorted(TYPES)}")
    return TYPES[name]
