"""Sources/sinks + parquet-backed Timeseries store: round trip, partition
pruning and predicate pushdown reaching the scan."""

import pytest
from pyspark.sql import functions as F

from kairos_spark import Timeseries
from kairos_spark.sources import open_store, read_table, write_long_table

BASE = 500000 * 3600


def test_open_store_urls():
    h = open_store("parquet:///data/ts")
    assert h.scheme == "parquet" and h.path == "/data/ts"
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
def test_parquet_expire(spark, tmp_path, store):
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

    # ingest_df keeps rows already past retention (insert drops them at
    # write time), so expire has something to drop: the minute interval
    # keeps only `now`, the daily one `now` and `now - 1h`
    now = _time.time()
    t.ingest_df(
        spark.createDataFrame(
            [(n, float(ts), 1.0) for n in ("web", "api")
             for ts in (now, now - 3600, now - 5 * 86400)],
            "name string, ts_sec double, value double",
        ).withColumn("ts", F.timestamp_seconds("ts_sec"))
    )
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
