"""Functional tests for the Timeseries facade — golden values follow the
reference's functional helper suites (/root/reference/test/functional/
{series,histogram,count,gauge,set}_helper.py): exact bucket contents,
condense/collapse, transforms, multi-name joins, fan-out, retention.

Fixture timestamps anchor at _time(0) = 500000*3600 like the reference
(helper_helper.py:11-12), and the clock the library reads is pinned
there (``fixture_clock``), so retention never drops a fixture write.
"""

import pytest

from kairos_spark import Timeseries, UnknownInterval

pytestmark = pytest.mark.usefixtures("fixture_clock")

HOUR = 3600


def _time(t: float = 0) -> float:
    return 500000 * HOUR + t


INTERVALS = {
    "minute": {"step": 60, "steps": 5},
    "hour": {"step": HOUR, "resolution": 60},
}
DAY = 86400
DAILY = {"day": {"step": "daily"}}


def make_ts(spark, type_, value_type="double", intervals=None):
    return Timeseries(
        spark, type=type_, intervals=intervals or INTERVALS, value_type=value_type
    )


def jobs(spark, tag, read) -> int:
    """Number of Spark jobs ``read()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        read()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def tasks(spark, tag) -> int:
    """Number of tasks the jobs of group ``tag`` (see ``jobs``) ran."""
    tracker = spark.sparkContext.statusTracker()
    return sum(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(tag)
        for stage in tracker.getJobInfo(job).stageIds
    )


# ----------------------------------------------------------------- series


def test_series_get_coarse(spark):
    t = make_ts(spark, "series")
    t.insert("test", 32, timestamp=_time(0))
    t.insert("test", 42, timestamp=_time(30))
    t.insert("test", 11, timestamp=_time(70))
    got = t.get("test", "minute", timestamp=_time(0))
    assert got == {_time(0): [32.0, 42.0]}
    got = t.get("test", "minute", timestamp=_time(70))
    assert got == {_time(60): [11.0]}


def test_series_get_fine_and_condense(spark):
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 2, timestamp=_time(60))
    t.insert("test", 3, timestamp=_time(3599))
    got = t.get("test", "hour", timestamp=_time(0))
    assert got == {
        _time(0): [1.0],
        _time(60): [2.0],
        _time(3540): [3.0],
    }
    got = t.get("test", "hour", timestamp=_time(0), condense=True)
    assert got == {_time(0): [1.0, 2.0, 3.0]}


def test_series_get_empty(spark):
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    assert t.get("test", "minute", timestamp=_time(600)) == {_time(600): []}
    # fine grain: no rows at all
    assert t.get("test", "hour", timestamp=_time(2 * HOUR)) == {}


def test_series_transforms(spark):
    t = make_ts(spark, "series")
    for v in (5, 7, 9):
        t.insert("test", v, timestamp=_time(10))
    got = t.get("test", "minute", timestamp=_time(0), transform="mean")
    assert got == {_time(0): 7.0}
    got = t.get("test", "minute", timestamp=_time(0), transform=["count", "sum", "min", "max", "rate"])
    assert got == {_time(0): {"count": 3, "sum": 21.0, "min": 5.0, "max": 9.0, "rate": 3 / 60}}


def test_series_callable_transform(spark):
    t = make_ts(spark, "series")
    for v in (5, 7, 9):
        t.insert("test", v, timestamp=_time(10))
    got = t.get(
        "test", "minute", timestamp=_time(0),
        transform=lambda data, step: sorted(data)[len(data) // 2],
    )
    assert got == {_time(0): 7.0}


def test_series_range_and_collapse(spark):
    t = make_ts(spark, "series")
    for m in range(5):
        t.insert("test", m, timestamp=_time(60 * m))
    got = t.series("test", "minute", start=_time(0), end=_time(240))
    assert got == {_time(60 * m): [float(m)] for m in range(5)}
    got = t.series("test", "minute", start=_time(0), end=_time(240), collapse=True)
    assert got == {_time(0): [0.0, 1.0, 2.0, 3.0, 4.0]}
    got = t.series(
        "test", "minute", start=_time(0), end=_time(240), collapse=True, transform="sum"
    )
    assert got == {_time(0): 10.0}


def test_series_gap_fill(spark):
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 5, timestamp=_time(120))
    got = t.series("test", "minute", start=_time(0), end=_time(120))
    assert got == {_time(0): [1.0], _time(60): [], _time(120): [5.0]}


def test_series_fine_nested(spark):
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 2, timestamp=_time(90))
    got = t.series("test", "hour", start=_time(0), end=_time(0))
    assert got == {_time(0): {_time(0): [1.0], _time(60): [2.0]}}


def test_multi_name_join(spark):
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("b", 2, timestamp=_time(10))
    t.insert("a", 3, timestamp=_time(20))
    got = t.get(["a", "b"], "minute", timestamp=_time(0))
    # name-argument order: all of a's values, then b's
    assert got == {_time(0): [1.0, 3.0, 2.0]}


def test_insert_fanout(spark):
    t = make_ts(spark, "count")
    t.insert("test", 1, timestamp=_time(60), intervals=2)
    got = t.series("test", "minute", start=_time(60), end=_time(180))
    assert got == {_time(60): 1.0, _time(120): 1.0, _time(180): 1.0}
    t2 = make_ts(spark, "count")
    t2.insert("test", 1, timestamp=_time(120), intervals=-1)
    got = t2.series("test", "minute", start=_time(60), end=_time(120))
    assert got == {_time(60): 1.0, _time(120): 1.0}


def test_unknown_interval(spark):
    t = make_ts(spark, "series")
    with pytest.raises(UnknownInterval):
        t.get("test", "century")


# ----------------------------------------------------------------- histogram


def test_histogram_get(spark):
    t = make_ts(spark, "histogram", value_type="long")
    for v in (1, 1, 2, 3, 3, 3):
        t.insert("test", v, timestamp=_time(5))
    got = t.get("test", "minute", timestamp=_time(0))
    assert got == {_time(0): {1: 2, 2: 1, 3: 3}}


def test_histogram_transforms(spark):
    t = make_ts(spark, "histogram", value_type="long")
    for v in (1, 1, 2, 3, 3, 3):
        t.insert("test", v, timestamp=_time(5))
    got = t.get("test", "minute", timestamp=_time(0), transform=["mean", "count", "sum", "min", "max"])
    # weighted: mean = (2*1+1*2+3*3)/6
    assert got == {
        _time(0): {"mean": 13 / 6, "count": 6, "sum": 13, "min": 1, "max": 3}
    }


def test_histogram_condense(spark):
    t = make_ts(spark, "histogram", value_type="long")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 1, timestamp=_time(60))
    t.insert("test", 2, timestamp=_time(60))
    got = t.get("test", "hour", timestamp=_time(0), condense=True)
    assert got == {_time(0): {1: 2, 2: 1}}


# ----------------------------------------------------------------- count


def test_count_get_and_rate(spark):
    t = make_ts(spark, "count")
    t.insert("test", 1, timestamp=_time(5))
    t.insert("test", 1, timestamp=_time(10))
    t.insert("test", 3, timestamp=_time(20))
    t.insert("test", -1, timestamp=_time(30))
    got = t.get("test", "minute", timestamp=_time(0))
    assert got == {_time(0): 4.0}
    got = t.get("test", "minute", timestamp=_time(0), transform="rate")
    assert got == {_time(0): 4.0 / 60}


def test_count_empty_bucket(spark):
    t = make_ts(spark, "count")
    t.insert("test", 1, timestamp=_time(0))
    assert t.get("test", "minute", timestamp=_time(300)) == {_time(300): 0}


# ----------------------------------------------------------------- gauge


def test_gauge_last_write_wins(spark):
    t = make_ts(spark, "gauge")
    t.insert("test", 1, timestamp=_time(1))
    t.insert("test", 9, timestamp=_time(2))
    t.insert("test", 5, timestamp=_time(3))
    got = t.get("test", "minute", timestamp=_time(0))
    assert got == {_time(0): 5.0}


def test_gauge_condense_skips_falsy(spark):
    t = make_ts(spark, "gauge")
    t.insert("test", 7, timestamp=_time(0))      # r bucket 0
    t.insert("test", 0, timestamp=_time(70))     # r bucket 1 → falsy, skipped
    got = t.get("test", "hour", timestamp=_time(0), condense=True)
    assert got == {_time(0): 7.0}


def test_gauge_multi_name_last_name_wins(spark):
    t = make_ts(spark, "gauge")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("b", 2, timestamp=_time(0))
    got = t.get(["a", "b"], "minute", timestamp=_time(0))
    assert got == {_time(0): 2.0}
    got = t.get(["b", "a"], "minute", timestamp=_time(0))
    assert got == {_time(0): 1.0}


# ----------------------------------------------------------------- set


def test_set_get(spark):
    t = make_ts(spark, "set", value_type="long")
    for v in (1, 2, 2, 3, 3, 3):
        t.insert("test", v, timestamp=_time(5))
    got = t.get("test", "minute", timestamp=_time(0))
    assert got == {_time(0): {1, 2, 3}}


def test_set_transforms(spark):
    t = make_ts(spark, "set", value_type="long")
    for v in (1, 2, 2, 3, 3, 3):
        t.insert("test", v, timestamp=_time(5))
    got = t.get("test", "minute", timestamp=_time(0), transform=["count", "sum", "mean"])
    assert got == {_time(0): {"count": 3, "sum": 6, "mean": 2.0}}


def test_set_condense_union(spark):
    t = make_ts(spark, "set", value_type="long")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 2, timestamp=_time(70))
    t.insert("test", 1, timestamp=_time(70))
    got = t.get("test", "hour", timestamp=_time(0), condense=True)
    assert got == {_time(0): {1, 2}}


# ------------------------------------------------------------ lifecycle/meta


def test_list_properties_delete(spark):
    t = make_ts(spark, "count")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("b", 1, timestamp=_time(120))
    assert sorted(t.list()) == ["a", "b"]
    props = t.properties("b")
    assert props["minute"] == {"first": _time(120), "last": _time(120)}
    t.delete("a")
    assert t.list() == ["b"]
    t.delete_all()
    assert t.list() == []


def test_iterate(spark):
    t = make_ts(spark, "count")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 2, timestamp=_time(120))
    got = list(t.iterate("test", "minute"))
    assert got == [(_time(0), 1.0), (_time(60), 0), (_time(120), 2.0)]


def test_bulk_insert(spark):
    t = make_ts(spark, "count")
    t.bulk_insert({_time(0): {"a": [1, 1], "b": [2]}, _time(60): {"a": [3]}})
    assert t.get("a", "minute", timestamp=_time(0)) == {_time(0): 2.0}
    assert t.get("a", "minute", timestamp=_time(60)) == {_time(60): 3.0}
    assert t.get("b", "minute", timestamp=_time(0)) == {_time(0): 2.0}


def test_ingest_df_scale_path(spark):
    t = make_ts(spark, "count")
    events = spark.createDataFrame(
        [("a", float(_time(i)), 1.0) for i in range(0, 180, 10)],
        "name string, ts_sec double, value double",
    )
    from pyspark.sql import functions as F

    t.ingest_df(events.withColumn("ts", F.timestamp_seconds("ts_sec")))
    got = t.series("a", "minute", start=_time(0), end=_time(120))
    assert got == {_time(0): 6.0, _time(60): 6.0, _time(120): 6.0}


def test_ingest_df_drops_past_retention_like_insert(spark):
    """A point already past an interval's retention is not stored,
    whichever path writes it: one hour old is past the minute
    interval's 5 steps but inside the daily interval's 2."""
    from pyspark.sql import functions as F

    intervals = {"minute": {"step": 60, "steps": 5}, "daily": {"step": "daily", "steps": 2}}
    ts = _time(-HOUR)  # the clock reads _time(0)
    by_insert = make_ts(spark, "count", intervals=intervals)
    by_insert.insert("a", timestamp=ts)
    by_ingest = make_ts(spark, "count", intervals=intervals)
    by_ingest.ingest_df(
        spark.createDataFrame([("a", float(ts), 1.0)], "name string, ts_sec double, value double")
        .withColumn("ts", F.timestamp_seconds("ts_sec"))
    )

    def stored(t):
        cols = ["name", "interval", "i_time", "r_time", "value"]
        return sorted(tuple(r) for r in t.scan().select(*cols).collect())

    assert [r[1] for r in stored(by_insert)] == ["daily"]
    assert stored(by_ingest) == stored(by_insert)
    assert by_ingest.get("a", "minute", timestamp=ts) == {_time(-HOUR): 0}


@pytest.mark.xfail(
    strict=True,
    reason="insert_seq is a per-object counter (ingest_df uses "
    "monotonically_increasing_id), so writes through two Timeseries on one "
    "store have no common order; see ROADMAP, Carried",
)
@pytest.mark.parametrize(
    "type_, writes, expected",
    [
        ("gauge", [("a", 5, 0), ("a", 7, 0), ("b", 3, 1)], 3.0),
        ("series", [("a", 1, 0), ("a", 2, 0), ("b", 3, 1)], [1.0, 2.0, 3.0]),
    ],
)
def test_write_order_across_objects_on_one_store(spark, tmp_path, type_, writes, expected):
    """Two Timeseries objects on one parquet path: the store's read order
    is the order the writes happened in, as the reference's last-write-
    wins gauge and append-order series read it."""
    path = str(tmp_path / "store")
    ts = {k: Timeseries(spark, type=type_, intervals=DAILY, path=path) for k in "ab"}
    for who, value, dt in writes:
        ts[who].insert("x", value, timestamp=_time(dt))
    assert ts["a"].get("x", "day", timestamp=_time(0)) == {_time(0) // DAY * DAY: expected}


def test_gregorian_daily(spark):
    t = make_ts(spark, "count", intervals={"daily": {"step": "daily"}})
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 1, timestamp=_time(0) + 86400)
    day0 = (_time(0) // 86400) * 86400
    got = t.series("test", "daily", start=_time(0), end=_time(0) + 86400)
    assert got == {day0: 1.0, day0 + 86400: 1.0}


# ------------------------------------------------- customized-read hooks


def test_callable_condense_get(spark):
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 2, timestamp=_time(70))
    # custom condense: count of resolution buckets with data
    got = t.get(
        "test", "hour", timestamp=_time(0),
        condense=lambda fine: len(fine),
    )
    assert got == {_time(0): 2}


def test_callable_join_rows(spark):
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("b", 2, timestamp=_time(0))
    # custom join: elementwise sum of the per-name lists
    got = t.get(
        ["a", "b"], "minute", timestamp=_time(0),
        join_rows=lambda rows: sum(sum(r or []) for r in rows),
    )
    assert got == {_time(0): 3.0}


def test_callable_collapse_series(spark):
    t = make_ts(spark, "series")
    for m in range(3):
        t.insert("test", m + 1, timestamp=_time(60 * m))
    got = t.series(
        "test", "minute", start=_time(0), end=_time(120),
        collapse=lambda rv: max(max(v) for v in rv.values() if v),
    )
    assert got == {_time(0): 3.0}


def test_histogram_percentiles(spark):
    # histogram {1:1, 2:2, 10:1}: total 4 → p50 at cum≥2 ⇒ 2; p75 at
    # cum≥3 ⇒ 2; p99 at cum≥4 ⇒ 10 (inverse CDF, type-1)
    from pyspark.sql import Row, functions as F
    from kairos_spark.types import type_ops

    rows = [Row(g=1, value=v) for v in [1, 2, 2, 10]]
    df = spark.createDataFrame(rows)
    out = type_ops("histogram").percentiles(df, ["g"], [0.5, 0.75, 0.99]).collect()[0]
    assert (out["p50"], out["p75"], out["p99"]) == (2, 2, 10)


# ---------------------------------------------- value typing (SURVEY §1.3)
# The reference types values in three layers: write_func → physical
# storage type (sql TYPE_MAP) → read_func. All three have Spark twins.


def test_value_type_str_gauge(spark):
    t = make_ts(spark, "gauge", value_type="str")
    t.insert("s", "hello", timestamp=_time(0))
    t.insert("s", "world", timestamp=_time(10))
    assert t.get("s", "minute", timestamp=_time(0)) == {_time(0): "world"}


def test_value_type_decimal_gauge(spark):
    from decimal import Decimal

    t = make_ts(spark, "gauge", value_type="decimal")
    t.insert("d", Decimal("1.5"), timestamp=_time(0))
    got = t.get("d", "minute", timestamp=_time(0))
    assert got == {_time(0): Decimal("1.500000")}


def test_write_func_applied_before_storage(spark):
    # reference: write_func runs on every value before the physical
    # write (timeseries.py:366, 458-464)
    t = Timeseries(
        spark, type="series", intervals=INTERVALS, value_type="long",
        write_func=lambda v: v * 2,
    )
    t.insert("w", 21, timestamp=_time(0))
    t.bulk_insert({_time(1): {"w": [5]}})
    assert t.get("w", "minute", timestamp=_time(0)) == {_time(0): [42, 10]}


def test_read_func_cast_on_read(spark):
    # read_func is a Column→Column cast applied at scan (reference
    # applies it per _process_row, timeseries.py:365)
    from pyspark.sql import functions as F

    t = Timeseries(
        spark, type="series", intervals=INTERVALS, value_type="str",
        read_func=lambda c: c.cast("long"),
    )
    t.insert("r", "32", timestamp=_time(0))
    t.insert("r", "42", timestamp=_time(5))
    assert t.get("r", "minute", timestamp=_time(0)) == {_time(0): [32, 42]}


def test_dict_transforms_mixed_named_and_callable(spark):
    # reference _process_transform dict form (timeseries.py:747-755):
    # result per bucket is {dict_key: transform_result}, mixing named
    # transforms with callables taking (data, step_size)
    t = make_ts(spark, "series", value_type="long")
    for i, v in enumerate([1, 2, 3]):
        t.insert("d", v, timestamp=_time(i))
    got = t.get(
        "d", "minute", timestamp=_time(0),
        transform={"lo": "min", "per_sec": lambda data, step: sum(data) / step},
    )
    assert got == {_time(0): {"lo": 1, "per_sec": 6 / 60}}


def test_set_callable_transform_single_arg(spark):
    # reference quirk: set custom transforms are called transform(data)
    # with NO step_size (timeseries.py:1017-1018), unlike every other
    # type's transform(data, step_size) — both signatures accepted here
    t = make_ts(spark, "set", value_type="long")
    for v in (3, 3, 5, 7):
        t.insert("s", v, timestamp=_time(0))
    got = t.get("s", "minute", timestamp=_time(0), transform=lambda data: len(data))
    assert got == {_time(0): 3}


@pytest.mark.parametrize("default_step", [False, True], ids=["two_args", "step_default"])
def test_callable_transform_type_error_runs_once(spark, default_step):
    # the arity is read from the signature: a TypeError the callable
    # raises is its own, not a cue to retry it with one argument
    t = make_ts(spark, "series")
    t.insert("x", 1, timestamp=_time(0))
    calls = []

    def fails(data, step):
        calls.append(data)
        raise TypeError("boom")

    fn = (lambda data, step=None: fails(data, step)) if default_step else fails
    with pytest.raises(TypeError, match="^boom$"):
        t.get("x", "minute", timestamp=_time(0), transform=fn)
    assert calls == [[1.0]]


def test_mixed_named_and_callable_transforms_count_and_gauge(spark):
    t = make_ts(spark, "count")
    for ts in (5, 10, 20):
        t.insert("x", timestamp=_time(ts))
    f = lambda data, step: data
    assert t.get("x", "minute", timestamp=_time(0), transform=["rate", f]) == {
        _time(0): {"rate": 3 / 60, f: 3.0}
    }
    assert t.series("x", "minute", start=_time(0), end=_time(60), transform=["rate", f]) == {
        _time(0): {"rate": 3 / 60, f: 3.0}, _time(60): {"rate": 0.0, f: 0},
    }
    g = make_ts(spark, "gauge")
    g.insert("x", 4, timestamp=_time(5))
    unsupported = "transform 'mean' not supported for type 'gauge'"
    for transform in ("mean", ["mean", f]):
        with pytest.raises(ValueError, match=unsupported):
            g.get("x", "minute", timestamp=_time(0), transform=transform)
        with pytest.raises(ValueError, match=unsupported):
            g.series("x", "minute", start=_time(0), end=_time(60), transform=transform)


def test_histogram_empty_bucket_rate_is_empty_map(spark):
    t = make_ts(spark, "histogram", value_type="long")
    for v in (1, 1, 2):
        t.insert("x", v, timestamp=_time(0))
    t.insert("x", 3, timestamp=_time(120))
    assert t.series("x", "minute", start=_time(0), end=_time(120), transform="rate") == {
        _time(0): {1: 2 / 60, 2: 1 / 60}, _time(60): {}, _time(120): {3: 1 / 60},
    }
    assert t.get("x", "minute", timestamp=_time(60), transform="rate") == {_time(60): {}}


NAMED_TRANSFORMS = ("mean", "count", "min", "max", "sum", "rate")
SUPPORTED_TRANSFORMS = {
    "series": NAMED_TRANSFORMS,
    "histogram": NAMED_TRANSFORMS,
    "count": ("rate",),
    "gauge": (),
    "set": NAMED_TRANSFORMS,
}


@pytest.mark.parametrize("type_", sorted(SUPPORTED_TRANSFORMS))
@pytest.mark.parametrize("name", NAMED_TRANSFORMS)
def test_named_transform_engine_matches_driver(spark, type_, name):
    # transform=name runs on the engine, [name, callable] on the driver;
    # both give the same value (and Python type) on a populated and an
    # empty coarse bucket, or the same ValueError for a name the type
    # does not define
    t = make_ts(spark, type_)
    for v in (2, 2, 5):
        t.insert("x", v, timestamp=_time(5))
    cb = lambda data, step: None

    def engine_and_driver(read):
        out = []
        for transform, pick in ((name, dict), ([name, cb], lambda r: {k: v[name] for k, v in r.items()})):
            try:
                out.append(repr(pick(read(transform))))
            except ValueError as e:
                out.append(f"ValueError: {e}")
        return out

    reads = [
        lambda tr: t.get("x", "minute", timestamp=_time(0), transform=tr),
        lambda tr: t.get("x", "minute", timestamp=_time(60), transform=tr),
        lambda tr: t.series("x", "minute", start=_time(0), end=_time(60), transform=tr),
    ]
    for read in reads:
        engine, driver = engine_and_driver(read)
        assert engine == driver
        assert engine.startswith("ValueError") == (name not in SUPPORTED_TRANSFORMS[type_])


# --------------------------------- customized reads: fetch / process_row
# (README.rst:623-749; threading parity with sql_backend.py:189-246)


def test_count_insert_default_value(spark):
    # Count.insert(name) defaults value to 1 (kairos/timeseries.py:925-926)
    t = make_ts(spark, "count")
    t.insert("c", timestamp=_time(0))
    t.insert("c", timestamp=_time(10))
    assert t.get("c", "minute", timestamp=_time(0)) == {_time(0): 2}
    # other types keep requiring an explicit value
    with pytest.raises(TypeError):
        make_ts(spark, "series").insert("s")


def test_process_row_override_get(spark):
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 2, timestamp=_time(5))
    got = t.get(
        "test", "minute", timestamp=_time(0),
        process_row=lambda row: [int(v) + 100 for v in row],
    )
    assert got == {_time(0): [101, 102]}


def test_process_row_replaces_read_func(spark):
    # reference: a custom process_row takes over cast + read_func
    # application entirely (timeseries.py:577, 770-775)
    t = Timeseries(
        spark, type="series", intervals=INTERVALS,
        read_func=lambda c: c.cast("long"),
    )
    t.insert("test", 1.7, timestamp=_time(0))
    assert t.get("test", "minute", timestamp=_time(0)) == {_time(0): [1]}
    got = t.get("test", "minute", timestamp=_time(0), process_row=lambda row: row)
    assert got == {_time(0): [1.7]}


def test_fetch_override_get_fine(spark):
    # fetch(df, name, interval, i_bucket) -> {r_bucket: data}; the engine
    # maps r_buckets to timestamps and runs process_row per container
    t = make_ts(spark, "series")
    rb = int(_time(0)) // 60

    def fetch(df, name, interval, i_bucket):
        assert name == "test" and interval == "hour"
        assert i_bucket == int(_time(0)) // HOUR
        return {rb: [5.0], rb + 1: [7.0]}

    got = t.get("test", "hour", timestamp=_time(0), fetch=fetch)
    assert got == {_time(0): [5.0], _time(60): [7.0]}
    # condense runs after fetch + process_row, native py_condense
    got = t.get("test", "hour", timestamp=_time(0), fetch=fetch, condense=True)
    assert got == {_time(0): [5.0, 7.0]}


def test_fetch_override_series_coarse_gapfill(spark):
    # coarse series fetch: {i_bucket: data}; missing buckets gap-fill
    # with the type's empty value (sql_backend.py:228-237)
    t = make_ts(spark, "series")
    b0 = int(_time(0)) // 60

    def fetch(df, name, interval, start_bucket, end_bucket):
        assert (start_bucket, end_bucket) == (b0, b0 + 2)
        return {b0: [1.0], b0 + 2: [3.0]}

    got = t.series("test", "minute", start=_time(0), end=_time(120), fetch=fetch)
    assert got == {_time(0): [1.0], _time(60): [], _time(120): [3.0]}


def test_hooked_multi_name_native_join(spark):
    # multi-name under hooks falls back to the native per-type join
    # (series extend in name-argument order, timeseries.py:836-843)
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("b", 2, timestamp=_time(0))
    got = t.get(["a", "b"], "minute", timestamp=_time(0), process_row=lambda r: r)
    assert got == {_time(0): [1.0, 2.0]}


def test_series_join_rows_callable(spark):
    # series() supports join_rows like get() (README.rst:700-718)
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("b", 2, timestamp=_time(60))
    got = t.series(
        ["a", "b"], "minute", start=_time(0), end=_time(60),
        join_rows=lambda rows: [v for r in rows if r for v in r],
    )
    assert got == {_time(0): [1.0], _time(60): [2.0]}


def test_value_type_time_roundtrip(spark):
    # reference TYPE_MAP maps 'time' to sa.Time (sql_backend.py:29-65);
    # Spark 4.1 TIME type round-trips datetime.time
    import datetime

    t = make_ts(spark, "gauge", value_type="time")
    t.insert("g", datetime.time(12, 30, 15), timestamp=_time(0))
    got = t.get("g", "minute", timestamp=_time(0))
    assert got == {_time(0): datetime.time(12, 30, 15)}


def test_iterate_passes_hooks_through(spark):
    # iterate(**kwargs) threads fetch/process_row to get (reference
    # iterate docs, README.rst:612-620)
    t = make_ts(spark, "series")
    t.insert("it", 1, timestamp=_time(0))
    t.insert("it", 2, timestamp=_time(90))
    got = dict(t.iterate("it", "minute", process_row=lambda row: [v * 10 for v in row]))
    assert got == {_time(0): [10.0], _time(60): [20.0]}


def test_fetch_with_column_read_func_does_not_crash(spark):
    # read_func in this port is Column->Column and runs at scan; the
    # hooked py_process_row fallback must never call it on python values
    t = Timeseries(
        spark, type="series", intervals=INTERVALS,
        read_func=lambda c: c.cast("long"),
    )
    rb = int(_time(0)) // 60
    got = t.get(
        "x", "hour", timestamp=_time(0),
        fetch=lambda df, n, i, b: {rb: [5.0]},
    )
    assert got == {_time(0): [5.0]}
    # native acquisition WITHOUT process_row keeps the scan-side cast
    t.insert("y", 1.7, timestamp=_time(0))
    got = t.get(["y"], "minute", timestamp=_time(0), join_rows=lambda rows: rows[0])
    assert got == {_time(0): [1]}


def test_gauge_time_midnight_not_falsy(spark):
    # datetime.time(0,0) is truthy in python, so the reference's
    # filter(None, ...) KEEPS a midnight gauge reading even though our
    # storage encodes it as 0L
    import datetime

    t = make_ts(spark, "gauge", value_type="time")
    t.insert("g", datetime.time(6, 0), timestamp=_time(0))
    t.insert("g", datetime.time(0, 0), timestamp=_time(70))
    got = t.get("g", "hour", timestamp=_time(0), condense=True)
    assert got == {_time(0): datetime.time(0, 0)}


# ------------------------------- one read pipeline: engine vs driver-side
# A read with fetch / process_row / join_rows over several names / a
# callable condense or collapse runs the driver-side pipeline; the rest
# runs on the engine. Both must agree wherever both apply.

def test_callable_condense_ignored_on_coarse_get(spark):
    # condense only folds fine intervals; a coarse bucket is already one
    # container (series and the hooked get never applied it there)
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    got = t.get("a", "minute", timestamp=_time(0), condense=lambda fine: len(fine))
    assert got == {_time(0): [1.0]}
    assert got == t.get(
        "a", "minute", timestamp=_time(0), condense=lambda fine: len(fine),
        process_row=lambda row: row,
    )
    assert got == t.series(
        "a", "minute", start=_time(0), end=_time(0), condense=lambda fine: len(fine)
    )


def test_join_rows_then_condense_get(spark):
    # names join per slot BEFORE the interval condenses, like the engine
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("a", 2, timestamp=_time(60))
    t.insert("b", 10, timestamp=_time(0))
    t.insert("b", 20, timestamp=_time(60))
    got = t.get(
        ["a", "b"], "hour", timestamp=_time(0), condense=True,
        join_rows=lambda rows: [v for r in rows if r for v in r],
    )
    assert got == {_time(0): [1.0, 10.0, 2.0, 20.0]}
    assert got == t.get(["a", "b"], "hour", timestamp=_time(0), condense=True)


def test_callable_collapse_receives_condensed_data(spark):
    # collapse implies condense: the callable sees {i_ts: container}
    t = make_ts(spark, "series")
    t.insert("a", 1, timestamp=_time(0))
    t.insert("a", 2, timestamp=_time(60))
    t.insert("a", 3, timestamp=_time(HOUR))
    got = t.series(
        "a", "hour", start=_time(0), end=_time(HOUR), collapse=lambda rv: dict(rv)
    )
    assert got == {_time(0): {_time(0): [1.0, 2.0], _time(HOUR): [3.0]}}


def test_hooked_collapse_keyed_by_range_start(spark):
    # the collapsed row is keyed by the range's first bucket and its
    # transform step spans the whole range, populated or not
    t = make_ts(spark, "series")
    t.insert("a", 5, timestamp=_time(HOUR))
    kw = dict(start=_time(0), end=_time(HOUR), collapse=True)
    engine = t.series("a", "hour", **kw)
    assert engine == {_time(0): [5.0]}
    assert t.series("a", "hour", process_row=lambda row: row, **kw) == engine
    step = lambda data, step_size: step_size
    engine = t.series("a", "hour", transform=step, **kw)
    assert engine == {_time(0): 2 * HOUR}
    assert t.series("a", "hour", transform=step, process_row=lambda row: row, **kw) == engine


def test_multi_name_callable_fold_is_one_engine_read(spark):
    # a callable condense/collapse needs no per-name containers, so
    # several names still come from one natively joined engine read
    t = make_ts(spark, "series")
    names = ["a", "b", "c", "d"]
    for n in names:
        t.insert(n, 1, timestamp=_time(0))

    # one engine read costs the same jobs for one name or several
    one = jobs(spark, "one_get", lambda: t.get("a", "hour", timestamp=_time(0)))
    assert one > 0
    assert jobs(spark, "plain_get", lambda: t.get(names, "hour", timestamp=_time(0))) == one
    assert jobs(spark, "fold_get", lambda: t.get(
        names, "hour", timestamp=_time(0), condense=lambda fine: len(fine)
    )) == one
    one = jobs(spark, "one_series", lambda: t.series("a", "hour", start=_time(0), end=_time(HOUR)))
    assert one > 0
    assert jobs(spark, "plain_series", lambda: t.series(
        names, "hour", start=_time(0), end=_time(HOUR)
    )) == one
    assert jobs(spark, "fold_series", lambda: t.series(
        names, "hour", start=_time(0), end=_time(HOUR), collapse=lambda rv: len(rv)
    )) == one


def test_coarse_series_gap_fill_runs_no_spine_job(spark):
    # gap-filling happens while the result is shaped, so a coarse range
    # read with an empty bucket costs no more jobs than one coarse bucket
    t = make_ts(spark, "count")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 1, timestamp=_time(180))
    one = jobs(spark, "coarse_get", lambda: t.get("test", "minute", timestamp=_time(0)))
    assert one > 0
    got = {}
    assert jobs(spark, "coarse_series", lambda: got.update(
        t.series("test", "minute", start=_time(0), end=_time(180))
    )) <= one
    assert got == {_time(0): 1.0, _time(60): 0, _time(120): 0, _time(180): 1.0}


def test_parquet_append_runs_one_task_and_one_file_per_interval(spark, tmp_path):
    # driver-held rows reach a parquet store as one Arrow local relation
    # written in one task, so each append adds one file per interval
    path = tmp_path / "store"
    t = Timeseries(spark, type="series", intervals=INTERVALS, path=str(path))

    def files():
        return {iv: len(list(path.glob(f"interval={iv}/part-*.parquet"))) for iv in INTERVALS}

    writes = {
        "append_insert": lambda: t.insert("x", [1, 2, 3], timestamp=_time(0)),
        "append_bulk_insert": lambda: t.bulk_insert({_time(i): {"x": [float(i)]} for i in range(500)}),
    }
    for tag, write in writes.items():
        before = files()
        assert jobs(spark, tag, write) == 1
        assert tasks(spark, tag) == 1
        assert {iv: n - before[iv] for iv, n in files().items()} == {iv: 1 for iv in INTERVALS}
    assert len(t.get("x", "hour", timestamp=_time(0), condense=True)[_time(0)]) == 503


def test_series_df_coarse_carries_populated_buckets_only(spark):
    # like get_df: the engine result has no rows for empty buckets
    t = make_ts(spark, "series")
    t.insert("test", 1, timestamp=_time(0))
    t.insert("test", 5, timestamp=_time(120))
    df = t.series_df("test", "minute", start=_time(0), end=_time(120))
    assert sorted(r["i_time"] for r in df.collect()) == [_time(0), _time(120)]


def test_series_gap_fill_gregorian_named_transform(spark):
    # an empty day under a named transform reads as that transform's default
    t = make_ts(spark, "series", intervals=DAILY)
    t.insert("test", 2, timestamp=_time(0))
    t.insert("test", 4, timestamp=_time(0))
    t.insert("test", 6, timestamp=_time(0) + 2 * DAY)
    day0 = (_time(0) // DAY) * DAY
    kw = dict(start=_time(0), end=_time(0) + 2 * DAY)
    assert t.series("test", "day", transform="mean", **kw) == {
        day0: 3.0, day0 + DAY: 0.0, day0 + 2 * DAY: 6.0,
    }
    assert t.series("test", "day", transform=["count", "max"], **kw) == {
        day0: {"count": 2, "max": 4.0},
        day0 + DAY: {"count": 0, "max": 0},
        day0 + 2 * DAY: {"count": 1, "max": 6.0},
    }


def test_series_gap_fill_gregorian_multi_name_gauge(spark):
    # an empty slot of a multi-name gauge reads None, of one name 0
    t = make_ts(spark, "gauge", intervals=DAILY)
    t.insert("a", 3, timestamp=_time(0))
    t.insert("b", 4, timestamp=_time(0) + 2 * DAY)
    day0 = (_time(0) // DAY) * DAY
    kw = dict(start=_time(0), end=_time(0) + 2 * DAY)
    assert t.series(["a", "b"], "day", **kw) == {
        day0: 3.0, day0 + DAY: None, day0 + 2 * DAY: 4.0,
    }
    assert t.series("a", "day", **kw) == {day0: 3.0, day0 + DAY: 0, day0 + 2 * DAY: 0}


EMPTY_COLLAPSE_CASES = [(type_, None) for type_ in sorted(SUPPORTED_TRANSFORMS)] + [
    (type_, names[0]) for type_, names in sorted(SUPPORTED_TRANSFORMS.items()) if names
]


@pytest.mark.parametrize("interval", ["minute", "hour"])
@pytest.mark.parametrize("type_,transform", EMPTY_COLLAPSE_CASES)
def test_empty_collapsed_series_keyed_by_range_start(spark, type_, transform, interval):
    # a collapsed range without rows reads as one row keyed by the
    # range's first bucket, as on the driver-side pipeline, holding what
    # get(condense=True) gap-fills into an empty bucket
    t = make_ts(spark, type_)
    t.insert("x", 1, timestamp=_time(10 * HOUR))
    kw = dict(start=_time(0), end=_time(HOUR), collapse=True, transform=transform)
    engine = t.series("x", interval, **kw)
    driver = t.series("x", interval, process_row=lambda row: row, **kw)
    assert list(engine) == list(driver) == [_time(0)]
    empty = t.get("x", interval, timestamp=_time(0), condense=True, transform=transform)
    assert engine == {_time(0): empty[_time(0)]}


@pytest.mark.parametrize("type_", ["series", "histogram", "set"])
def test_set_of_named_transforms_reads_like_a_list(spark, type_):
    t = make_ts(spark, type_)
    for v in (2, 2, 5):
        t.insert("x", v, timestamp=_time(5))
    t.insert("x", 7, timestamp=_time(HOUR))
    for interval in ("minute", "hour"):
        get = lambda tr: t.get("x", interval, timestamp=_time(0), transform=tr)
        assert get({"mean", "max"}) == get(["mean", "max"])
        series = lambda tr: t.series("x", interval, start=_time(0), end=_time(HOUR), transform=tr)
        assert series({"mean", "max"}) == series(["mean", "max"])


@pytest.mark.parametrize("type_", sorted(SUPPORTED_TRANSFORMS))
def test_empty_fold_reads_alike_on_both_paths(spark, type_):
    # a driver-side fold in which no slot survives reads the type's
    # empty value (gauge: 0, or None over several names), as the engine
    # path's gap-fill does
    t = make_ts(spark, type_)
    t.insert("x", 1, timestamp=_time(10 * HOUR))
    same = lambda row: row
    get = dict(timestamp=_time(0), condense=True)
    collapse = dict(start=_time(0), end=_time(HOUR), collapse=True)
    for name in ("x", ["x", "y"]):
        assert t.get(name, "hour", process_row=same, **get) == t.get(name, "hour", **get)
        for interval in ("minute", "hour"):
            driver = t.series(name, interval, process_row=same, **collapse)
            assert driver == t.series(name, interval, **collapse)


def test_library_clock_pinned_to_fixture_anchor():
    # fixtures write at _time(0) into intervals with a retention; the
    # clock insert checks retention against is the anchor, not the wall
    from kairos_spark import timemath, timeseries

    assert timemath._time.time() == timeseries._time.time() == _time(0)


def test_fine_get_transform_steps_by_slot(spark):
    # a transform over a fine get sees each resolution slot's own step,
    # named or callable, on either read path: a monthly slot of March
    # spans 31 days though the read names a February timestamp
    t = make_ts(spark, "series", intervals={"year": {"step": "yearly", "resolution": "monthly"}})
    jan, feb, mar = 1735689600, 1738368000, 1740787200  # 2025-01-01, 02-01, 03-01 UTC
    t.insert("x", 1, timestamp=feb + DAY)
    t.insert("x", 2, timestamp=mar + DAY)
    want = {feb: 1 / (28 * DAY), mar: 1 / (31 * DAY)}
    rate = lambda data, step: len(data) / step
    for hooks in ({}, {"process_row": lambda row: row}):
        for transform in ("rate", rate):
            assert t.get("x", "year", timestamp=feb, transform=transform, **hooks) == want
            got = t.series("x", "year", start=feb, steps=1, transform=transform, **hooks)
            assert got == {jan: want}


# ------------------------------- get is a one-bucket series (read parity)

GRID_INTERVALS = {
    "minute": {"step": 60},
    "hour": {"step": HOUR, "resolution": 60},
    "day": {"step": "daily"},
}
INTRADAY = (_time(0), _time(HOUR), _time(5 * HOUR))
# mode -> [(interval, get kwargs, series kwargs, read timestamps)]; a
# one-bucket collapse reads as a condensed get
GRID_MODES = {
    "coarse": [("minute", {}, {}, INTRADAY)],
    "fine": [("hour", {}, {}, INTRADAY)],
    "fine_condense": [("hour", {"condense": True}, {"condense": True}, INTRADAY)],
    "collapse": [(iv, {"condense": True}, {"collapse": True}, INTRADAY) for iv in ("minute", "hour")],
    "gregorian_daily": [("day", {}, {}, (_time(0), _time(2 * DAY)))],
}
# (name, value, seconds after _time(0)) in insert order; the gauge's
# first minute also ends on a None write of "a"
GRID_WRITES = [
    ("a", 1, 0), ("b", 2, 10), ("b", 0, 30), ("a", 0, 70), ("b", 4, 75),
    ("a", 5, 130), ("a", 0, HOUR), ("b", 3, HOUR + 5),
]


@pytest.fixture(scope="module")
def grid(spark):
    stores = {}
    for type_ in sorted(SUPPORTED_TRANSFORMS):
        t = make_ts(spark, type_, intervals=GRID_INTERVALS)
        for name, value, at in GRID_WRITES + ([("a", None, 20)] if type_ == "gauge" else []):
            t.insert(name, value, timestamp=_time(at))
        stores[type_] = t
    return stores


@pytest.mark.parametrize("type_,mode,names", [
    pytest.param(type_, mode, names, id=f"{type_}-{mode}-{tag}")
    for type_ in sorted(SUPPORTED_TRANSFORMS)
    for mode in sorted(GRID_MODES)
    for tag, names in (("one_name", "a"), ("two_names", ["a", "b"]))
])
def test_get_is_a_one_bucket_series(grid, type_, mode, names):
    # (a) get(ts) is the bucket of series(start=ts, steps=1), flattened
    # for a fine read and gap-filled like a one-bucket collapse; (b)
    # each read with an identity process_row (the driver-side pipeline)
    # reads as the engine does. A coarse gauge bucket whose last write
    # is None reads the type's empty value, as an empty bucket does.
    t = grid[type_]
    same = lambda row: row
    for interval, get_kw, series_kw, stamps in GRID_MODES[mode]:
        for ts in stamps:
            got = t.get(names, interval, timestamp=ts, **get_kw)
            series = t.series(names, interval, start=ts, steps=1, **series_kw)
            assert t.get(names, interval, timestamp=ts, process_row=same, **get_kw) == got
            assert t.series(names, interval, start=ts, steps=1, process_row=same, **series_kw) == series
            if interval == "hour" and not get_kw:
                assert got == next(iter(series.values()), {})
            else:
                assert got == (series or t.series(names, interval, start=ts, steps=1, collapse=True))


def test_coarse_gauge_collapse_keeps_the_last_real_value(spark):
    # a collapsed coarse range folds its buckets as condense folds slots:
    # the last write per bucket and name, falsy ones dropped, then the
    # last bucket wins; the range's last write (0) does not shadow 3
    t = make_ts(spark, "gauge")
    t.insert("a", 3, timestamp=_time(0))
    t.insert("a", 0, timestamp=_time(60))
    same = lambda row: row
    for names in ("a", ["a", "b"]):
        got = t.series(names, "minute", start=_time(0), steps=2, collapse=True)
        assert got == {_time(0): 3.0}
        assert t.series(names, "minute", start=_time(0), steps=2, collapse=True, process_row=same) == got


# -------------------------------------- parquet reads: held relations


def _explained(df) -> str:
    """``df``'s physical plan as ``explain()`` prints it."""
    import contextlib
    import io

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain()
    return out.getvalue()


# one bulk_insert: one append, so one file per interval
SPLIT_WRITES = {
    _time(at): {"a": [float(v)], "b": [float(v + 1)]}
    for at, v in ((0, 1), (30, 0), (70, 3), (130, 4), (HOUR + 5, 2))
}
# a read of each aggregate form: fine, condensed, coarse, collapsed
SPLIT_READS = {
    "fine": lambda t: t.get(["a", "b"], "hour", timestamp=_time(0)),
    "condense": lambda t: t.series(["a", "b"], "hour", start=_time(0), steps=2, condense=True),
    "coarse": lambda t: t.series("a", "minute", start=_time(0), steps=3),
    "collapse": lambda t: t.series(["a", "b"], "minute", start=_time(0), steps=3, collapse=True),
}


@pytest.mark.parametrize("type_", sorted(SUPPORTED_TRANSFORMS))
def test_one_split_parquet_read_is_one_task(spark, tmp_path, type_):
    # an interval stored as one file is one input split: the scan is
    # coalesced to one partition, so every aggregate form of every type
    # (the two-stage set, histogram and gauge ones too) needs no exchange
    # and a read is one job of one task, reading as the memory store does
    disk = Timeseries(spark, type=type_, intervals=INTERVALS, path=str(tmp_path / "store"))
    mem = make_ts(spark, type_)
    for t in (disk, mem):
        t.bulk_insert(SPLIT_WRITES)
    for shape, read in SPLIT_READS.items():
        tag, got = f"one_split_{type_}_{shape}", []
        assert jobs(spark, tag, lambda: got.append(read(disk))) == 1
        assert tasks(spark, tag) == 1
        assert got == [read(mem)]
    df = disk.series_df(["a", "b"], "hour", start=_time(0), steps=2, condense=True)
    assert "Exchange" not in _explained(df)


def test_interval_of_two_files_keeps_the_exchange(spark, tmp_path):
    # two inserts store two files in the interval, two input splits: the
    # read keeps its shuffle; compacting the store to one file per
    # interval makes the next read one task
    from kairos_spark.sources.tables import compact_long_table

    path = tmp_path / "store"
    disk = Timeseries(spark, type="histogram", intervals=INTERVALS, path=str(path))
    mem = make_ts(spark, "histogram")
    for t in (disk, mem):
        t.insert("a", 1, timestamp=_time(0))
        t.insert("a", 2, timestamp=_time(30))
    assert len(list(path.glob("interval=hour/*.parquet"))) == 2
    read = lambda t: t.series("a", "hour", start=_time(0), steps=1, condense=True)
    df = disk.series_df("a", "hour", start=_time(0), steps=1, condense=True)
    assert "Exchange" in _explained(df)
    got = []
    jobs(spark, "two_files", lambda: got.append(read(disk)))
    assert tasks(spark, "two_files") > 1
    assert got == [read(mem)] == [{_time(0): {1.0: 1, 2.0: 1}}]

    compact_long_table(spark, str(path))
    assert len(list(path.glob("interval=hour/*.parquet"))) == 1
    got = []
    assert jobs(spark, "compacted", lambda: got.append(read(disk))) == 1
    assert tasks(spark, "compacted") == 1
    assert got == [read(mem)]


def test_held_relations_follow_every_write(spark, tmp_path):
    # a read holds its relation per path; whatever writes the path next
    # (another store object, a writer outside the library, a delete),
    # the next read through any store object on it sees the new rows
    import shutil

    from kairos_spark.ingest import COARSE_SENTINEL
    from kairos_spark.timeseries import long_schema

    path = str(tmp_path / "store")
    a, b = (Timeseries(spark, type="count", intervals=INTERVALS, path=path) for _ in "ab")
    read = lambda t: t.get("x", "minute", timestamp=_time(0))
    a.insert("x", 1, timestamp=_time(0))
    assert read(a) == read(b) == {_time(0): 1.0}
    assert a.scan("minute") is b.scan("minute")

    shutil.rmtree(path)
    b.insert("x", 5, timestamp=_time(0))
    assert read(a) == {_time(0): 5.0}

    row = ("x", "minute", int(_time(0)), COARSE_SENTINEL, 0, 2.0)
    outside = spark.createDataFrame([row], long_schema())
    outside.write.mode("append").partitionBy("interval").parquet(path)
    assert read(a) == read(b) == {_time(0): 7.0}

    b.delete("x")
    assert read(a) == {_time(0): 0}
