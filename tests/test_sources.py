"""Sources/sinks + parquet-backed Timeseries store: round trip, partition
pruning and predicate pushdown reaching the scan."""

import datetime as _dt
import time
from decimal import Decimal

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import functions as F

from kairos_spark import Timeseries
from kairos_spark.sources import open_store, read_table, write_long_table
from kairos_spark.timeseries import VALUE_TYPES

BASE = 500000 * 3600


def test_open_store_urls():
    h = open_store("parquet:///data/ts")
    assert h.scheme == "parquet" and h.path == "/data/ts"
    # a relative path keeps its first segment (the URL's netloc)
    assert open_store("parquet://data/ts").path == "data/ts"
    assert open_store("memory://").scheme == "memory"
    with pytest.raises(ValueError):
        open_store("redis://localhost")


def test_read_write_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "minute", BASE, -1, 0, 1.5), ("b", "minute", BASE + 60, -1, 1, 2.5)],
        "name string, interval string, i_time long, r_time long, insert_seq long, value double",
    )
    path = str(tmp_path / "t")
    write_long_table(df, path)
    # partition column moves to the end on read-back; reorder explicitly
    back = read_table(spark, path).select(*df.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    csv_path = str(tmp_path / "c")
    df.write.option("header", "true").csv(csv_path)
    back_csv = read_table(spark, csv_path, fmt="csv", schema=df.schema)
    assert back_csv.count() == 2


def test_parquet_backed_timeseries(spark, tmp_path):
    t = Timeseries(
        spark,
        type="count",
        intervals={"minute": {"step": 60}},
        path=str(tmp_path / "store"),
    )
    t.insert("web", 1, timestamp=BASE)
    t.insert("web", 2, timestamp=BASE)
    t.insert("web", 5, timestamp=BASE + 60)
    assert t.get("web", "minute", timestamp=BASE) == {BASE: 3.0}
    assert t.series("web", "minute", start=BASE, end=BASE + 60) == {
        BASE: 3.0,
        BASE + 60: 5.0,
    }
    t.delete("web")
    assert t.list() == []


def test_parquet_rewrite_failed_swap_keeps_rows(spark, tmp_path, monkeypatch):
    """A failure while moving the rewritten rows into place raises and
    leaves the stored rows as they were, with no staging or backup
    directory left behind."""
    import shutil

    store = str(tmp_path / "store")
    t = Timeseries(
        spark,
        type="count",
        intervals={"minute": {"step": 60}},
        path=store,
    )
    t.insert("web", 3, timestamp=BASE)
    t.insert("api", 4, timestamp=BASE)
    real_move = shutil.move
    failed = []

    def move(src, dst, *args, **kwargs):
        # fail the first move INTO the store path: the rewritten rows
        if str(dst) == store and not failed:
            failed.append(src)
            raise OSError("disk full")
        return real_move(src, dst, *args, **kwargs)

    monkeypatch.setattr(shutil, "move", move)
    with pytest.raises(OSError, match="disk full"):
        t.delete("web")
    monkeypatch.undo()
    assert t.get("web", "minute", timestamp=BASE) == {BASE: 3.0}
    assert t.get("api", "minute", timestamp=BASE) == {BASE: 4.0}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["store"]


def test_parquet_scan_pushdown(spark, tmp_path):
    t = Timeseries(
        spark,
        type="count",
        intervals={"minute": {"step": 60}, "hour": {"step": 3600}},
        path=str(tmp_path / "store"),
    )
    t.bulk_insert({BASE + i * 60: {"web": [1]} for i in range(10)})
    df = t.get_df("web", "minute", timestamp=BASE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # interval partition pruning + name/i_time pushdown must reach the scan
    assert "PushedFilters" in plan
    assert "i_time" in plan and "name" in plan
    got = df.collect()
    assert len(got) == 1 and got[0]["value"] == 1.0


@pytest.mark.parametrize("store", ["memory", "parquet"])
def test_parquet_expire(spark, tmp_path, store, monkeypatch):
    # delete / delete_all / expire behave the same on both stores, for
    # relative and Gregorian (strftime-keyed) intervals
    t = Timeseries(
        spark,
        type="count",
        intervals={
            "minute": {"step": 60, "steps": 5},
            "daily": {"step": "daily", "steps": 2},
        },
        path=str(tmp_path / "store") if store == "parquet" else None,
    )
    import time as _time

    def stored():
        """{(name, interval): stored row count}."""
        return {
            (r["name"], r["interval"]): r["n"]
            for r in t.scan().groupBy("name", "interval").count()
            .withColumnRenamed("count", "n").collect()
        }

    # written while the library's clock reads the oldest row's time, every
    # row is inside retention (ingest_df, like insert, drops the rest);
    # back at `now` expire has something to drop: the minute interval
    # keeps only `now`, the daily one `now` and `now - 1h`
    from types import SimpleNamespace

    from kairos_spark import timemath, timeseries

    now = _time.time()
    then = SimpleNamespace(time=lambda: now - 5 * 86400)
    monkeypatch.setattr(timemath, "_time", then)
    monkeypatch.setattr(timeseries, "_time", then)
    t.ingest_df(
        spark.createDataFrame(
            [(n, float(ts), 1.0) for n in ("web", "api")
             for ts in (now, now - 3600, now - 5 * 86400)],
            "name string, ts_sec double, value double",
        ).withColumn("ts", F.timestamp_seconds("ts_sec"))
    )
    monkeypatch.undo()
    assert stored() == {("web", "minute"): 3, ("web", "daily"): 3,
                        ("api", "minute"): 3, ("api", "daily"): 3}
    t.expire("web")
    assert stored() == {("web", "minute"): 1, ("web", "daily"): 2,
                        ("api", "minute"): 3, ("api", "daily"): 3}
    t.expire()
    assert stored() == {("web", "minute"): 1, ("web", "daily"): 2,
                        ("api", "minute"): 1, ("api", "daily"): 2}
    t.delete("web")
    assert stored() == {("api", "minute"): 1, ("api", "daily"): 2}
    t.delete_all()
    assert stored() == {}


def test_configured_builder_defaults():
    from kairos_spark import configured_builder, default_shuffle_partitions

    b = configured_builder("t", cores=8)
    opts = b._options
    assert opts["spark.sql.session.timeZone"] == "UTC"
    assert opts["spark.sql.adaptive.enabled"] == "true"
    assert opts["spark.sql.shuffle.partitions"] == "8"
    # 1 TB shuffle at 160 MB/partition ≈ 13k partitions (2x headroom)
    assert default_shuffle_partitions(1 << 40) == 2 * ((1 << 40) // (160 << 20) + 1)
    assert default_shuffle_partitions(0) == 8


def test_bucketed_long_table_eliminates_shuffles(spark, tmp_path):
    from pyspark.sql import functions as F

    from kairos_spark.sources.tables import write_bucketed_long_table

    df = spark.range(2000).select(
        (F.col("id") % 7).cast("string").alias("name"),
        (F.col("id") * 60).alias("i_time"),
        F.lit(-1).alias("r_time"),
        F.col("id").alias("insert_seq"),
        F.rand(1).alias("value"),
    )
    write_bucketed_long_table(df, "tb_a", str(tmp_path / "a"), buckets=4)
    write_bucketed_long_table(df, "tb_b", str(tmp_path / "b"), buckets=4)
    try:
        # aggregation on the bucket key: bucket files replace the shuffle
        agg = spark.table("tb_a").groupBy("name").agg(F.sum("value").alias("v"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert agg.count() == 7

        # co-bucketed join: no exchange on either side (forbid broadcast
        # so the shuffle would otherwise be mandatory)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = (
                spark.table("tb_a").groupBy("name").agg(F.sum("value").alias("va"))
                .join(
                    spark.table("tb_b").groupBy("name").agg(F.sum("value").alias("vb")),
                    "name",
                )
            )
            jplan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in jplan
            assert j.count() == 7
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_a")
        spark.sql("DROP TABLE IF EXISTS tb_b")


def test_compact_long_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from kairos_spark.sources.tables import compact_long_table

    path = str(tmp_path / "store")
    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("name"),
        F.lit("minute").alias("interval"),
        (F.col("id") * 60).alias("i_time"),
        F.lit(-1).alias("r_time"),
        F.col("id").alias("insert_seq"),
        (F.col("id") * 1.0).alias("value"),
    )
    # simulate micro-batch appends: many small file sets
    for i in range(5):
        df.where(F.col("insert_seq") % 5 == i).repartition(4).write.mode(
            "append"
        ).partitionBy("interval").parquet(path)

    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    stats = compact_long_table(spark, path, target_partitions=1)
    after_rows = sorted(map(tuple, spark.read.parquet(path).collect()))

    assert after_rows == before_rows
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2


def test_timeseries_from_store_url(spark, tmp_path):
    import pytest as _pytest

    from kairos_spark import Timeseries

    t = Timeseries(
        spark, type="count", value_type="long",
        intervals={"minute": {"step": 60}},
        path=f"parquet://{tmp_path}/store",
    )
    t.insert("c", 1, timestamp=1800000000)
    t.insert("c", 1, timestamp=1800000001)
    assert t.get("c", "minute", timestamp=1800000000) == {1800000000: 2}

    m = Timeseries(spark, type="count", value_type="long",
                   intervals={"minute": {"step": 60}}, path="memory://")
    m.insert("c", 5, timestamp=1800000000)
    assert m.get("c", "minute", timestamp=1800000000) == {1800000000: 5}

    with _pytest.raises(NotImplementedError):
        Timeseries(spark, intervals={"minute": {"step": 60}},
                   path="delta:///x")


def test_parquet_store_missing_vs_broken_path(spark, tmp_path):
    # a store never written to reads empty; a path Spark cannot read at
    # all raises instead of passing for an empty store
    intervals = {"minute": {"step": 60}}
    fresh = Timeseries(spark, type="count", intervals=intervals, path=str(tmp_path / "never"))
    assert fresh.get("web", "minute", timestamp=BASE) == {BASE: 0}
    assert fresh.list() == []
    broken = Timeseries(spark, type="count", intervals=intervals, path="nosuchfs:/bucket/store")
    with pytest.raises(Exception, match="UnsupportedFileSystemException"):
        broken.get("web", "minute", timestamp=BASE)


# value_type -> (value written, value read back)
VALUE_SAMPLES = {
    "str": ("a é", "a é"),
    "string": ("", ""),
    "text": ("x\ny", "x\ny"),
    "clob": ("c", "c"),
    "float": (1.25, 1.25),
    "double": (-0.5, -0.5),
    "int": (7, 7),
    "long": (2**62, 2**62),
    "int64": (-3, -3),
    "bool": (True, True),
    "date": (_dt.date(2020, 1, 2), _dt.date(2020, 1, 2)),
    # naive: process-local time on write and on read
    "datetime": (_dt.datetime(2020, 1, 2, 3, 4, 5, 678901), _dt.datetime(2020, 1, 2, 3, 4, 5, 678901)),
    "decimal": (Decimal("1.2345675"), Decimal("1.234568")),
    "blob": (b"\x00ab", b"\x00ab"),
    "time": (_dt.time(13, 14, 15, 16), _dt.time(13, 14, 15, 16)),
}


@pytest.fixture
def new_york(monkeypatch):
    """The process time zone set to a non-UTC zone for one test."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _value_store(spark, tmp_path, store, value_type):
    return Timeseries(
        spark, type="series", value_type=value_type,
        intervals={"minute": {"step": 60}},
        path=str(tmp_path / "store") if store == "parquet" else None,
    )


def test_value_samples_cover_every_value_type():
    assert set(VALUE_SAMPLES) == set(VALUE_TYPES)


@pytest.mark.parametrize("value_type", sorted(VALUE_TYPES))
@pytest.mark.parametrize("store", ["memory", "parquet"])
def test_value_type_round_trip(spark, tmp_path, new_york, store, value_type):
    # insert and bulk_insert store a value of every value type as
    # Spark's row path stores it, and read it back unchanged
    written, read = VALUE_SAMPLES[value_type]
    t = _value_store(spark, tmp_path, store, value_type)
    t.insert("x", written, timestamp=BASE)
    t.bulk_insert({BASE + 1: {"x": [written]}})
    got = t.get("x", "minute", timestamp=BASE)[BASE]
    if value_type == "blob":
        got = [bytes(v) for v in got]
    assert got == [read, read]
    assert all(type(v) is type(read) for v in got)


@pytest.mark.parametrize("bad", [1.5, 3])
@pytest.mark.parametrize("bulk", [False, True])
@pytest.mark.parametrize("store", ["memory", "parquet"])
def test_decimal_rejects_float_and_int(spark, tmp_path, store, bulk, bad):
    # a decimal store takes Decimal values only, as Spark's row verifier
    # rules (a memory store keeps the rows until a read builds them)
    t = _value_store(spark, tmp_path, store, "decimal")
    with pytest.raises(PySparkTypeError):
        if bulk:
            t.bulk_insert({BASE: {"x": [bad]}})
        else:
            t.insert("x", bad, timestamp=BASE)
        t.get("x", "minute", timestamp=BASE)


@pytest.mark.parametrize("store", ["memory", "parquet"])
def test_non_str_interval_name_is_stored_as_text(spark, tmp_path, store):
    # an interval named by an int is stored as its text, as Spark's row
    # path stores a non-str value in a string column
    t = Timeseries(
        spark, type="count", intervals={60: {"step": 60}},
        path=str(tmp_path / "store") if store == "parquet" else None,
    )
    t.insert("x", 2, timestamp=BASE)
    t.bulk_insert({BASE: {"x": [3]}})
    assert t.get("x", 60, timestamp=BASE) == {BASE: 5.0}
    assert {r["interval"] for r in t.scan().collect()} == {"60"}


def test_expire_keeps_what_a_write_keeps(spark, tmp_path, monkeypatch):
    # a monthly interval keeping 2 steps, on 2025-03-01: January is 59
    # days back, inside the day-approximated 2 x 30 days, so a write
    # stores it and expire keeps it; December (90 days) goes. A second
    # store object on the path, which read before, sees the expire.
    import calendar
    from types import SimpleNamespace

    from kairos_spark import timemath, timeseries

    def at(*ymd):
        return float(calendar.timegm((*ymd, 0, 0, 0)))

    def clock(ts):
        for mod in (timemath, timeseries):
            monkeypatch.setattr(mod, "_time", SimpleNamespace(time=lambda: ts))

    intervals = {"monthly": {"step": "monthly", "steps": 2}}
    path = str(tmp_path / "store")
    writer, reader = (Timeseries(spark, type="count", intervals=intervals, path=path) for _ in "wr")
    dec, jan, feb = at(2024, 12, 1), at(2025, 1, 1), at(2025, 2, 1)
    read = lambda: reader.series("x", "monthly", start=dec, steps=3)
    clock(at(2025, 1, 20))
    writer.bulk_insert({dec: {"x": [1]}, jan: {"x": [2]}, feb: {"x": [4]}})
    assert read() == {dec: 1.0, jan: 2.0, feb: 4.0}
    clock(at(2025, 3, 1))
    writer.insert("x", 8, timestamp=jan)
    writer.insert("x", 16, timestamp=dec)  # past retention: not stored
    assert read() == {dec: 1.0, jan: 10.0, feb: 4.0}
    writer.expire()
    assert read() == {dec: 0, jan: 10.0, feb: 4.0}


def test_held_relations_are_per_session(spark, tmp_path):
    # two sessions hold their own relations of one path, and a write
    # through either session drops the path's entries in both
    intervals = {"minute": {"step": 60}}
    path = str(tmp_path / "store")
    t = Timeseries(spark, type="count", intervals=intervals, path=path)
    t.insert("web", 1, timestamp=BASE)
    other = spark.newSession()
    u = Timeseries(other, type="count", intervals=intervals, path=path)
    held_t, held_u = t.scan(), u.scan()
    assert t.scan() is held_t and u.scan() is held_u and held_u is not held_t
    assert held_u.sparkSession is other
    t.insert("web", 2, timestamp=BASE)
    assert u.scan() is not held_u
    assert u.get("web", "minute", timestamp=BASE) == {BASE: 3.0}


def test_tbl_is_resolved_once_per_file_version(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kairos_spark.queries import _tbl

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    first = _tbl(spark, str(tmp_path), "region")
    assert _tbl(spark, str(tmp_path), "region") is first
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    fresh = _tbl(spark, str(tmp_path), "region")
    assert fresh is not first and _tbl(spark, str(tmp_path), "region") is fresh
    assert sorted(map(tuple, fresh.collect())) == [(0, "a"), (1, "b")]


def test_unstattable_path_is_resolved_every_call(spark, tmp_path):
    from kairos_spark.sources.tables import resolved

    calls = []

    def resolve():
        calls.append(1)
        return len(calls)

    assert [resolved(spark, str(tmp_path / "missing"), "x", resolve) for _ in range(2)] == [1, 2]
    assert [resolved(spark, str(tmp_path), "x", resolve) for _ in range(2)] == [3, 3]


def test_held_relations_survive_concurrent_reads_and_writes(tmp_path):
    # readers and writers of two paths on more threads than cores: no
    # lookup fails, and once the writes stop each path holds one entry
    # (resolved again if a forget came last)
    import sys
    import threading

    from kairos_spark.sources.tables import forget, resolved

    session = type("Session", (), {})()  # stands in for a SparkSession
    paths = [str(tmp_path / p) for p in "ab"]
    for p in paths:
        (tmp_path / p).mkdir()
    errors, made = [], []

    def work(k):
        try:
            for i in range(300):
                p = paths[(k + i) % 2]
                if (k + i) % 7 == 0:
                    forget(p)
                else:
                    resolved(session, p, "x", lambda: made.append(p) or len(made))
        except Exception as e:  # reported below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and errors == []
    held = [resolved(session, p, "x", lambda: -1) for p in paths]
    assert [resolved(session, p, "x", lambda: -2) for p in paths] == held
