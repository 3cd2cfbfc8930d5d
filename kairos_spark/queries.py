"""Driver-contract query pack: every operator from SURVEY.md §2 (plus
the beyond-parity pipeline operators) expressed twice —

- as a Spark query built from kairos_spark's own operator code
  (``QUERIES[name](spark, sf_dir) -> DataFrame``), and
- as ANSI SQL for the DuckDB oracle (``ORACLES[name]``), column
  names/aliases matching exactly (the driver hash-compares values
  with columns sorted by name).

Numeric outputs are rounded to 6 decimals on BOTH sides so cross-engine
floating-point accumulation order cannot flip the hash.

Queries marked rows-only (present in QUERIES, absent from ORACLES) are
the genuinely non-SQL-expressible ones (Arrow-batched media decode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from kairos_spark.config import parse_intervals
from kairos_spark.exact import (
    _cents,
    _round6_ratio,
    _round6_ratio_dec_signed,
    cents_sql,
    round6_bridge_sql,
    round6_ratio_dec_signed_sql,
    round6_ratio_dec_sql,
    round6_ratio_signed_sql,
    round6_ratio_sql,
)
from kairos_spark.ingest import bucketize
from kairos_spark.operators import (
    dedup,
    graph,
    joins,
    layout,
    multimodal,
    pii,
    profiling,
    sampling,
    similarity,
    sketches,
    text,
    windows,
)
from kairos_spark.sources.tables import read_table, resolved
from kairos_spark.types import type_ops

HOUR = 3600
MINUTE = 60

# one parse per import; these mirror a typical kairos interval config
EVENT_INTERVALS = {
    "hour": parse_intervals({"hour": {"step": HOUR}}),
    "minute": parse_intervals({"minute": {"step": MINUTE}}),
    "hour_fine": parse_intervals({"hour": {"step": HOUR, "resolution": MINUTE}}),
    "daily": parse_intervals({"daily": {"step": "daily"}}),
    "weekly": parse_intervals({"weekly": {"step": "weekly"}}),
    "monthly": parse_intervals({"monthly": {"step": "monthly"}}),
}


def _utc(spark: SparkSession) -> None:
    # bucket math and the oracle both assume UTC; events.parquet carries
    # TIMESTAMP(NANOS) which Spark only reads as long with this legacy flag
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir``, resolved (schema read, columns
    normalized, scan spread) once per session while its file is
    unchanged; see ``sources.tables.resolved``."""
    _utc(spark)
    path = f"{sf_dir}/{name}.parquet"
    return resolved(spark, path, "table", lambda: _table(spark, path, name))


def _table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = read_table(spark, path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos-as-long → microsecond timestamp. Integer division
            # (`div`), not float division + cast: double rounding of large
            # nanos is off by ±1 µs, which DuckDB's exact integer
            # truncation exposes.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] parquet reads as TIMESTAMP_NTZ, which rejects
            # direct casts to numeric (and misbehaves under tz functions).
            # The session is pinned UTC, so NTZ→LTZ is an identity
            # relabel; downstream epoch math then works for either
            # physical encoding of the testdata.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if name in ("documents", "embeddings"):
        # Text and vector operators are CPU-bound with heavy per-row
        # amplification (shingle explode ≈ 100× the input bytes;
        # embedding scoring fans each vector out against broadcast
        # query/centroid blocks), but both corpora arrive as one
        # single-row-group file = one input split, so every downstream
        # map stage would run in ONE task (measured r13-opt: semdedup's
        # whole within-cluster cosine stage and knn_join's scoring pass
        # were single-task; spreading the scan cut them 25-40%). Spread
        # so each task gets ~64 KiB — enough work to amortize task
        # overhead, small enough to use the cores. On a real deployment
        # input splits / maxPartitionBytes provide this; the
        # repartition is harness plumbing, not engine semantics.
        try:
            import pathlib

            p = pathlib.Path(path)
            nbytes = (
                sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
                if p.is_dir()
                else p.stat().st_size
            )
        except OSError:
            nbytes = 0
        want = max(1, min(spark.sparkContext.defaultParallelism, nbytes // (64 << 10)))
        if want > 1:
            df = df.repartition(want)
    return df


def _events_long(spark, sf_dir, interval_key: str, value=None, fanout: int = 0) -> DataFrame:
    """events → long-format rows through the engine's ingest operator.
    name=event_type, insert order = event_id (deterministic)."""
    ev = _tbl(spark, sf_dir, "events")
    if value is not None:
        ev = ev.withColumn("__value", value)
    else:
        ev = ev.withColumn("__value", F.col("value"))
    return bucketize(
        ev,
        EVENT_INTERVALS[interval_key],
        name_col="event_type",
        ts_col="ts",
        value_col="__value",
        fanout=fanout,
        seq_col="event_id",
    )


# =====================================================================
# §2.1 core operators on the events table
# =====================================================================


def q_ts_count_series_hour(spark, sf_dir):
    """L4 series + count type: per-name hourly counters
    (ref: kairos/timeseries.py:619-719, count semantics :906-946)."""
    long_df = _events_long(spark, sf_dir, "hour", value=F.lit(1.0))
    ops = type_ops("count")
    out = ops.container_agg(long_df, ["name", "i_time"], ["insert_seq"])
    return out.select("name", "i_time", F.col("value").alias("cnt"))


def q_ts_count_rate_minute(spark, sf_dir):
    """count 'rate' transform at minute grain for one day
    (ref: timeseries.py:917-920)."""
    long_df = _events_long(spark, sf_dir, "minute", value=F.lit(1.0)).where(
        (F.col("i_time") >= 1704412800) & (F.col("i_time") < 1704499200)  # 2024-01-05 UTC
    )
    ops = type_ops("count")
    rate = ops.transform_expr("rate", F.lit(MINUTE))
    return long_df.groupBy("name", "i_time").agg(F.round(rate, 6).alias("rate"))


def q_ts_series_transforms_hour(spark, sf_dir):
    """series-type named transforms mean/count/min/max/sum per hour for
    one stat (ref: timeseries.py:800-820)."""
    long_df = _events_long(spark, sf_dir, "hour").where(F.col("name") == "click")
    ops = type_ops("series")
    ex = ops.transform_exprs(F.lit(HOUR))
    return long_df.groupBy("i_time").agg(
        # mean of a 2-decimal fixed value is an exact rational
        # (cents / 100·n) — the F.round-on-exact-rational midpoint
        # class (CLAUDE.md): route through the signed DECIMAL integer
        # half-up ratio instead of bare F.round(avg). min/max/sum of
        # 2dp-exact values have zero 3rd..7th decimals — no midpoint
        # exists, bare round-6 is the identity and stays.
        _round6_ratio_dec_signed(
            F.sum(_cents(F.col("value"))),
            F.lit(100) * F.count("value"),
        ).alias("mean_v"),
        ex["count"].alias("count_v"),
        F.round(ex["min"], 6).alias("min_v"),
        F.round(ex["max"], 6).alias("max_v"),
        F.round(ex["sum"], 6).alias("sum_v"),
    )


def q_ts_fine_hour_minute(spark, sf_dir):
    """L3 get, fine resolution: (i_time hour, r_time minute) counters for
    one day of one stat (ref: timeseries.py:547-611 fine branch)."""
    long_df = _events_long(spark, sf_dir, "hour_fine").where(
        (F.col("name") == "view")
        & (F.col("i_time") >= 1704412800)
        & (F.col("i_time") < 1704499200)
    )
    return (
        type_ops("count")
        .container_agg(long_df.withColumn("value", F.lit(1.0)), ["i_time", "r_time"], [])
        .select("i_time", "r_time", F.col("value").alias("cnt"))
    )


def q_ts_condense_hour(spark, sf_dir):
    """condense: resolution rows rolled up to interval grain — sum of the
    minute sub-buckets equals the hour bucket (ref: timeseries.py:693-704,
    count _condense :931-937)."""
    long_df = _events_long(spark, sf_dir, "hour_fine").where(F.col("name") == "error")
    return (
        type_ops("count")
        .container_agg(long_df, ["i_time"], [])
        .select("i_time", F.round(F.col("value"), 6).alias("sum_v"))
    )


def q_ts_collapse_range(spark, sf_dir):
    """collapse: all buckets merged to a single row keyed by the first
    bucket (ref: timeseries.py:706-717)."""
    long_df = _events_long(spark, sf_dir, "hour").where(F.col("name") == "click")
    ops = type_ops("series")
    ex = ops.transform_exprs(F.lit(HOUR))
    return (
        long_df.groupBy()
        .agg(
            F.min("i_time").alias("i_time"),
            ex["count"].alias("count_v"),
            F.round(ex["sum"], 6).alias("sum_v"),
            F.round(ex["min"], 6).alias("min_v"),
            F.round(ex["max"], 6).alias("max_v"),
        )
    )


def q_ts_histogram_daily(spark, sf_dir):
    """histogram type at daily Gregorian grain: {value→count} surfaced as
    rows (ref: timeseries.py:845-904). value = event_type occurrences."""
    long_df = _events_long(spark, sf_dir, "daily", value=F.col("event_type"))
    return (
        long_df.groupBy("i_time", "value")
        .agg(F.count("*").alias("n"))
        .select("i_time", F.col("value").alias("event_type"), "n")
    )


def q_ts_gauge_last_hour(spark, sf_dir):
    """gauge last-write-wins per (name, hour); insert order = event_id
    (ref: timeseries.py:948-988)."""
    long_df = _events_long(spark, sf_dir, "hour")
    out = type_ops("gauge").container_agg(long_df, ["name", "i_time"], ["insert_seq"])
    return out.select("name", "i_time", F.round(F.col("value"), 6).alias("last_v"))


def q_ts_set_hour(spark, sf_dir):
    """set type: exact distinct cardinality + sum of distinct members per
    hour (ref: timeseries.py:990-1016). members = user_id."""
    long_df = _events_long(spark, sf_dir, "hour", value=F.col("user_id").cast("double"))
    ops = type_ops("set")
    ex = ops.transform_exprs(F.lit(HOUR))
    return long_df.groupBy("name", "i_time").agg(
        ex["count"].alias("n_distinct"),
        F.round(ex["sum"], 6).alias("sum_distinct"),
    )


def q_ts_set_cross_series(spark, sf_dir):
    """Cross-series set algebra per hour bucket — the ``join_rows`` user
    extension the reference documents ("unions, intersections and
    differentials", README.rst:712-715) over two set-type series
    ('click' vs 'view' membership of user_id).

    Spark-first shape: instead of a driver-side callable over
    materialized set containers, membership stays EXPLODED — one row per
    (bucket, member) with per-name indicator maxes, then one groupBy
    sums the indicator combinations. Two hash-shuffles on compact keys,
    no set container ever materializes, so a bucket with 10^9 members
    costs the same per-row work as one with 10."""
    long_df = _events_long(
        spark, sf_dir, "hour", value=F.col("user_id").cast("double")
    ).where(F.col("name").isin("click", "view"))
    membership = long_df.groupBy("i_time", "value").agg(
        F.max(F.when(F.col("name") == "click", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("name") == "view", 1).otherwise(0)).alias("in_b"),
    )
    one = F.lit(1)
    return membership.groupBy("i_time").agg(
        F.sum(F.when((F.col("in_a") == one) & (F.col("in_b") == one), 1).otherwise(0)).alias("n_intersect"),
        F.sum(F.when((F.col("in_a") == one) & (F.col("in_b") == 0), 1).otherwise(0)).alias("n_click_only"),
        F.sum(F.when((F.col("in_a") == 0) & (F.col("in_b") == one), 1).otherwise(0)).alias("n_view_only"),
    )


def q_ts_multi_name_merge(spark, sf_dir):
    """L12 multi-name join-merge: ['click','view'] merged per hour — a
    union + re-aggregate, not a relational join (ref:
    timeseries.py:727-745)."""
    long_df = _events_long(spark, sf_dir, "hour", value=F.lit(1.0)).where(
        F.col("name").isin("click", "view")
    )
    out = type_ops("count").container_agg(long_df, ["i_time"], [])
    return out.select("i_time", F.col("value").alias("cnt"))


def q_ts_spine_gapfill(spark, sf_dir):
    """L5 iterate / dense time spine: every minute bucket of one hour
    (2024-01-03 00:00–01:00) including empties, count coalesced to 0
    (ref: timeseries.py:521-545; mongo gap-fill :261-277)."""
    start, end = 1704240000, 1704243540
    long_df = _events_long(spark, sf_dir, "minute", value=F.lit(1.0)).where(
        F.col("i_time").between(start, end)
    )
    counts = type_ops("count").container_agg(long_df, ["i_time"], [])
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit(start), F.lit(end), F.lit(MINUTE))).alias("i_time")
    )
    return spine.join(counts, "i_time", "left").select(
        "i_time", F.coalesce(F.col("value"), F.lit(0.0)).alias("cnt")
    )


def q_ts_properties(spark, sf_dir):
    """L7 properties: first/last hour bucket per stat
    (ref: timeseries.py:401-405, sql_backend.py:134-159)."""
    long_df = _events_long(spark, sf_dir, "hour", value=F.lit(1.0))
    return long_df.groupBy("name").agg(
        F.min("i_time").alias("first_t"), F.max("i_time").alias("last_t")
    )


def q_ts_list_names(spark, sf_dir):
    """L6 list: distinct stat names (ref: timeseries.py:395-399)."""
    return _events_long(spark, sf_dir, "hour", value=F.lit(1.0)).select("name").distinct()


def q_ts_greg_daily(spark, sf_dir):
    """Gregorian daily buckets as %Y%m%d ints
    (ref: timeseries.py:135-189)."""
    long_df = _events_long(spark, sf_dir, "daily", value=F.lit(1.0))
    out = type_ops("count").container_agg(long_df, ["i_time"], [])
    return out.select("i_time", F.col("value").alias("cnt"))


def q_ts_greg_weekly(spark, sf_dir):
    """Gregorian weekly %Y%U buckets (Sunday-start, week 00) — the
    reference's documented strftime quirk (timeseries.py:139-150)."""
    long_df = _events_long(spark, sf_dir, "weekly", value=F.lit(1.0))
    out = type_ops("count").container_agg(long_df, ["i_time"], [])
    return out.select("i_time", F.col("value").alias("cnt"))


def q_ts_greg_monthly_rate(spark, sf_dir):
    """Gregorian monthly buckets with variable step_size rate —
    count / (days-in-month × 86400) (ref: timeseries.py:155-169)."""
    from kairos_spark.functions.buckets import step_size_expr

    long_df = _events_long(spark, sf_dir, "monthly", value=F.lit(1.0))
    return long_df.groupBy("i_time").agg(
        F.round(F.count("*") / step_size_expr(F.col("i_time"), "monthly"), 6).alias("rate")
    )


def q_ts_fanout_minute(spark, sf_dir):
    """L1/L11 insert fan-out: intervals=+1 duplicates each event into the
    following minute bucket (ref: timeseries.py:484-497)."""
    long_df = _events_long(spark, sf_dir, "minute", value=F.lit(1.0), fanout=1)
    out = type_ops("count").container_agg(long_df, ["i_time"], [])
    return out.select("i_time", F.col("value").alias("cnt"))


def q_ts_retention_filter(spark, sf_dir):
    """L10 expire: keep only buckets within the last 48 hourly steps of
    the data's max bucket (ref: sql_backend.py:161-178)."""
    long_df = _events_long(spark, sf_dir, "hour", value=F.lit(1.0))
    counts = type_ops("count").container_agg(long_df, ["name", "i_time"], [])
    horizon = counts.groupBy().agg(F.max("i_time").alias("max_t"))
    return (
        counts.join(F.broadcast(horizon))
        .where(F.col("i_time") > F.col("max_t") - 48 * HOUR)
        .select("name", "i_time", F.col("value").alias("cnt"))
    )


def q_ts_histogram_transforms(spark, sf_dir):
    """histogram named transforms: weighted mean Σk·v/Σv, count Σv,
    min/max of keys, sum Σk·v — from raw rows the weights collapse to
    plain aggregates (ref: timeseries.py:860-871). keys = user_id % 10."""
    long_df = _events_long(spark, sf_dir, "daily", value=F.col("user_id") % 10)
    ex = type_ops("histogram").transform_exprs(F.lit(86400))
    return long_df.groupBy("i_time").agg(
        # weighted mean collapses to avg over raw integer keys — an
        # exact integer ratio, so round through the integer half-up
        # helper, never bare F.round(avg) (CLAUDE.md midpoint class)
        _round6_ratio(
            F.sum(F.col("value").cast("long")), F.count("value")
        ).alias("wmean"),
        ex["count"].alias("total_n"),
        ex["min"].alias("min_k"),
        ex["max"].alias("max_k"),
        ex["sum"].alias("wsum"),
    )


def q_ts_histogram_rate(spark, sf_dir):
    """histogram map-valued 'rate' transform {k: count/step} surfaced as
    (i_time, k, rate) rows (ref: timeseries.py:872-873)."""
    long_df = _events_long(spark, sf_dir, "daily", value=F.col("event_type"))
    rm = type_ops("histogram").rate_map(long_df, ["i_time"], F.lit(86400.0))
    return rm.select("i_time", F.explode("value").alias("k", "rate")).select(
        "i_time", "k", F.round("rate", 6).alias("rate")
    )


def q_ts_histogram_percentiles(spark, sf_dir):
    """histogram percentile transform (beyond the reference's named set,
    via the same transform surface): exact inverse-CDF p50/p90/p99 over
    daily {user_id%10: count} histograms. Integer-only arithmetic so
    percentiles hash-match across engines — no interpolation."""
    long_df = _events_long(spark, sf_dir, "daily", value=F.col("user_id") % 10)
    return type_ops("histogram").percentiles(long_df, ["i_time"], [0.5, 0.9, 0.99])


def q_ts_variance_collapse(spark, sf_dir):
    """Custom collapse computing variance across a series — the use the
    reference's README names for a callable collapse (README.rst:729-731).
    Population variance of per-hour event counts per name, computed with
    the exact integer identity (n·Σc² − (Σc)²)/n² so both engines divide
    the same integers once at the end."""
    hourly = _events_long(spark, sf_dir, "hour").groupBy("name", "i_time").agg(
        F.count("*").alias("__c")
    )
    per = hourly.groupBy("name").agg(
        F.count("*").alias("__n"),
        F.sum("__c").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
    )
    return per.select(
        "name",
        F.round(
            (F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s"))
            / (F.col("__n") * F.col("__n")),
            6,
        ).alias("var_hourly"),
        F.col("__n").alias("n_buckets"),
    )


def q_ts_gauge_join(spark, sf_dir):
    """gauge multi-name join: reading ['click','view'] per hour — the
    LAST name in the argument list present in a slot wins (ref:
    timeseries.py:981-988, dict-update order)."""
    long_df = _events_long(spark, sf_dir, "hour").where(F.col("name").isin("click", "view"))
    per_name = type_ops("gauge").container_agg(long_df, ["name", "i_time"], ["insert_seq"])
    prio = F.when(F.col("name") == "view", F.lit(2)).otherwise(F.lit(1))
    return per_name.groupBy("i_time").agg(
        F.round(F.max_by("value", prio), 6).alias("last_v")
    )


def q_ts_series_condense_order(spark, sf_dir):
    """series condense order: lists concatenated in (r_time, insert_seq)
    order — insertion order inside each resolution bucket, resolution
    order across them (ref: timeseries.py:828-834; insert_time column
    sql_backend.py:268,312). Output joined to CSV so order is hashed."""
    long_df = _events_long(spark, sf_dir, "hour_fine", value=F.col("user_id")).where(
        (F.col("name") == "click")
        & (F.col("i_time") >= 1704412800)
        & (F.col("i_time") < 1704499200)
    )
    out = type_ops("series").container_agg(long_df, ["i_time"], ["r_time", "insert_seq"])
    return out.select(
        "i_time",
        F.array_join(F.col("value").cast("array<string>"), ",").alias("vals"),
    )


def q_ts_iterate_full(spark, sf_dir):
    """L5 iterate: dense hourly scan between one stat's first and last
    known buckets (bounds derived from the data, not given), empty
    buckets yielded as 0 (ref: timeseries.py:521-545)."""
    long_df = _events_long(spark, sf_dir, "hour", value=F.lit(1.0)).where(
        F.col("name") == "purchase"
    )
    counts = type_ops("count").container_agg(long_df, ["i_time"], [])
    bounds = counts.groupBy().agg(F.min("i_time").alias("lo"), F.max("i_time").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(HOUR))).alias("i_time")
    )
    return spine.join(counts, "i_time", "left").select(
        "i_time", F.coalesce(F.col("value"), F.lit(0.0)).alias("cnt")
    )


_TS_ORACLES = {
    "ts_count_series_hour": """
        SELECT event_type AS name,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    """,
    "ts_count_rate_minute": """
        SELECT event_type AS name,
               CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS i_time,
               round(count(*) / 60.0, 6) AS rate
        FROM events
        WHERE floor(epoch(ts)/60)*60 >= 1704412800
          AND floor(epoch(ts)/60)*60 < 1704499200
        GROUP BY 1, 2
    """,
    "ts_series_transforms_hour": f"""
        WITH g AS (
          SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
                 sum({cents_sql("value")})::HUGEINT AS cents,
                 100::HUGEINT * count(value) AS den,
                 count(value) AS count_v,
                 round(min(value), 6) AS min_v,
                 round(max(value), 6) AS max_v,
                 round(sum(value), 6) AS sum_v
          FROM events WHERE event_type = 'click' GROUP BY 1
        )
        SELECT i_time,
               {round6_ratio_dec_signed_sql("cents", "den")} AS mean_v,
               count_v, min_v, max_v, sum_v
        FROM g
    """,
    "ts_fine_hour_minute": """
        SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS r_time,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events
        WHERE event_type = 'view'
          AND floor(epoch(ts)/3600)*3600 >= 1704412800
          AND floor(epoch(ts)/3600)*3600 < 1704499200
        GROUP BY 1, 2
    """,
    "ts_condense_hour": """
        SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               round(sum(value), 6) AS sum_v
        FROM events WHERE event_type = 'error' GROUP BY 1
    """,
    "ts_collapse_range": """
        SELECT CAST(min(floor(epoch(ts)/3600)*3600) AS BIGINT) AS i_time,
               count(value) AS count_v,
               round(sum(value), 6) AS sum_v,
               round(min(value), 6) AS min_v,
               round(max(value), 6) AS max_v
        FROM events WHERE event_type = 'click'
    """,
    "ts_histogram_daily": """
        SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS i_time,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    """,
    "ts_gauge_last_hour": """
        SELECT event_type AS name,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               round(arg_max(value, event_id), 6) AS last_v
        FROM events GROUP BY 1, 2
    """,
    "ts_set_hour": """
        SELECT event_type AS name,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               count(DISTINCT CAST(user_id AS DOUBLE)) AS n_distinct,
               round(sum(DISTINCT CAST(user_id AS DOUBLE)), 6) AS sum_distinct
        FROM events GROUP BY 1, 2
    """,
    "ts_multi_name_merge": """
        SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    """,
    "ts_histogram_percentiles": """
        WITH c AS (
            SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS i_time,
                   user_id % 10 AS value, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        cum AS (
            SELECT i_time, value,
                   sum(n) OVER (PARTITION BY i_time ORDER BY value) AS cumn,
                   sum(n) OVER (PARTITION BY i_time) AS tot
            FROM c
        )
        SELECT i_time,
               min(CASE WHEN cumn >= ceil(0.50 * tot) THEN value END) AS p50,
               min(CASE WHEN cumn >= ceil(0.90 * tot) THEN value END) AS p90,
               min(CASE WHEN cumn >= ceil(0.99 * tot) THEN value END) AS p99
        FROM cum GROUP BY 1
    """,
    "ts_variance_collapse": """
        WITH h AS (
            SELECT event_type AS name,
                   CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        )
        SELECT name,
               round((count(*) * sum(c*c) - sum(c) * sum(c)) * 1.0
                     / (count(*) * count(*)), 6) AS var_hourly,
               count(*) AS n_buckets
        FROM h GROUP BY 1
    """,
    "ts_set_cross_series": """
        WITH m AS (
            SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
                   CAST(user_id AS DOUBLE) AS value,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_b
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY 1, 2
        )
        SELECT i_time,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersect,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
               CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_only
        FROM m GROUP BY 1
    """,
    "ts_spine_gapfill": """
        SELECT s.i_time,
               coalesce(c.cnt, 0.0) AS cnt
        FROM (SELECT unnest(generate_series(1704240000, 1704243540, 60)) AS i_time) s
        LEFT JOIN (
            SELECT CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS i_time,
                   CAST(count(*) AS DOUBLE) AS cnt
            FROM events GROUP BY 1
        ) c USING (i_time)
    """,
    "ts_properties": """
        SELECT event_type AS name,
               CAST(min(floor(epoch(ts)/3600)*3600) AS BIGINT) AS first_t,
               CAST(max(floor(epoch(ts)/3600)*3600) AS BIGINT) AS last_t
        FROM events GROUP BY 1
    """,
    "ts_list_names": """
        SELECT DISTINCT event_type AS name FROM events
    """,
    "ts_greg_daily": """
        SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS i_time,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1
    """,
    "ts_greg_weekly": """
        SELECT CAST(strftime(ts, '%Y%U') AS BIGINT) AS i_time,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1
    """,
    "ts_greg_monthly_rate": """
        SELECT CAST(strftime(ts, '%Y%m') AS BIGINT) AS i_time,
               round(count(*) / (date_diff('day',
                   date_trunc('month', ts),
                   date_trunc('month', ts) + INTERVAL 1 MONTH) * 86400.0), 6) AS rate
        FROM events GROUP BY 1, date_trunc('month', ts)
    """,
    "ts_fanout_minute": """
        SELECT i_time, CAST(count(*) AS DOUBLE) AS cnt FROM (
            SELECT CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS i_time FROM events
            UNION ALL
            SELECT CAST(floor(epoch(ts)/60)*60 + 60 AS BIGINT) FROM events
        ) GROUP BY 1
    """,
    "ts_retention_filter": """
        WITH c AS (
            SELECT event_type AS name,
                   CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
                   CAST(count(*) AS DOUBLE) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT name, i_time, cnt FROM c
        WHERE i_time > (SELECT max(i_time) FROM c) - 48*3600
    """,
    "ts_histogram_transforms": f"""
        SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS i_time,
               {round6_ratio_sql("sum(user_id % 10)", "count(*)")} AS wmean,
               count(*) AS total_n,
               min(user_id % 10) AS min_k,
               max(user_id % 10) AS max_k,
               CAST(sum(user_id % 10) AS BIGINT) AS wsum
        FROM events GROUP BY 1
    """,
    "ts_histogram_rate": """
        SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS i_time,
               event_type AS k,
               round(count(*) / 86400.0, 6) AS rate
        FROM events GROUP BY 1, 2
    """,
    "ts_gauge_join": """
        WITH g AS (
            SELECT event_type AS name,
                   CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
                   arg_max(value, event_id) AS v
            FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2
        )
        SELECT i_time,
               round(arg_max(v, CASE name WHEN 'view' THEN 2 ELSE 1 END), 6) AS last_v
        FROM g GROUP BY 1
    """,
    "ts_series_condense_order": """
        SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
               string_agg(CAST(user_id AS VARCHAR), ','
                   ORDER BY CAST(floor(epoch(ts)/60)*60 AS BIGINT), event_id) AS vals
        FROM events
        WHERE event_type = 'click'
          AND floor(epoch(ts)/3600)*3600 >= 1704412800
          AND floor(epoch(ts)/3600)*3600 < 1704499200
        GROUP BY 1
    """,
    "ts_iterate_full": """
        WITH c AS (
            SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS i_time,
                   CAST(count(*) AS DOUBLE) AS cnt
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        b AS (SELECT min(i_time) AS lo, max(i_time) AS hi FROM c),
        s AS (SELECT unnest(generate_series(lo, hi, 3600)) AS i_time FROM b)
        SELECT s.i_time, coalesce(c.cnt, 0.0) AS cnt
        FROM s LEFT JOIN c USING (i_time)
    """,
}

# =====================================================================
# Relational engine queries (TPC-H-style) — beyond the reference's
# surface, showcasing scans/joins/windows the engine supports
# =====================================================================


def q_event_sessions(spark, sf_dir):
    """Gaps-and-islands sessionization: per-user sessions split at
    30-minute gaps, summarized per user. One shuffle on user_id; the
    summary groupBy reuses the window's partitioning."""
    ev = _tbl(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return windows.session_stats(ev, "user_id", "ts", 1800.0, order_col="event_id")


def q_asof_signup_purchase(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    signup at-or-before it (union-and-carry pattern — one key shuffle,
    no range-join candidate blowup). Oracle: DuckDB's native ASOF
    LEFT JOIN, which pins the exact most-recent-prior semantics."""
    ev = _tbl(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    j = windows.asof_join(purchases, signups, ["user_id"], "ts", "ts")
    # inner as-of: drop purchases with no prior signup (null-free output
    # hashes identically across engines); integer microseconds are exact
    # in both engines (float seconds round differently at the 6th
    # decimal between Spark and DuckDB)
    return j.where(F.col("ts_r").isNotNull()).select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias("usec_since_signup"),
    )


def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape over lineitem: scan + pushdown filter + wide agg."""
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            # avg of integer-valued quantities / 2dp discounts are
            # exact rationals — engine-exact integer half-up instead of
            # the midpoint-splitting double round (the chao1 class)
            _round6_ratio(
                F.sum(F.col("l_quantity").cast("long")), F.count("*")
            ).alias("avg_qty"),
            _round6_ratio(
                F.sum(_cents(F.col("l_discount"))),
                F.lit(100) * F.count("*"),
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """Star join: lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation) —
    the dims are broadcast so only the fact side shuffles."""
    li = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    # Partial-aggregate lineitem onto its join key BEFORE the join
    # (~4 rows/order in TPC-H): the orderkey shuffle then moves one
    # pre-summed row per order instead of every line item — the
    # dominant win when lineitem is the 100 TB fact table.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
        F.count("*").alias("__n"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("__rev"), 4).alias("revenue"),
            F.sum("__n").alias("n_items"),
        )
    )


def q_window_top_orders(spark, sf_dir):
    """Window function: top-3 orders by totalprice per orderpriority
    (row_number with deterministic tie-break)."""
    from pyspark.sql.window import Window

    o = _tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def q_json_props_stats(spark, sf_dir):
    """Semi-structured column handling: extract a field from the JSON
    ``props`` payload (JVM-side get_json_object — no Python in the
    path) and aggregate it per event name. The reference has no scalar
    function surface at all (SURVEY.md §2.4); JSON extraction is the
    one every event pipeline needs first. At scale prefer from_json
    with an explicit schema once the payload stabilizes — single parse,
    columnar after."""
    ev = _tbl(spark, sf_dir, "events")
    # integer-gate the extract BEFORE casting: the engines' string->int
    # casts disagree off the strictly-integer grammar (DuckDB TRY_CAST
    # rounds '1.5'->2, parses '0x10'->16 and '1e2'->100 where Spark
    # try_cast yields NULL; a JSON number 1e2 extracts as '100.0' on
    # both sides and would split the same way). The regex is the
    # engine-agreed definition of "integer k"; it also keeps non-scalar
    # "$.k" (nested object/array JSON text) NULL on both sides.
    # the 12-digit cap keeps every group mean inside the DECIMAL
    # helper's num/den < ~9e12 contract (arbitrary JSON ints would
    # pass it); larger integers gate to NULL on both sides
    raw = F.get_json_object(F.col("props"), "$.k")
    # \z, not $: Java's $ also matches before a trailing \n/\r, so a
    # JSON value "12\n" would cast on Spark but fail the RE2 oracle
    # gate; \z is strict end-of-input in both engines
    k = F.when(raw.rlike(r"^-?[0-9]{1,12}\z"), raw.cast("long"))
    # -1 sentinels: a group whose props all lack "$.k" must not emit
    # NULL (Spark None vs DuckDB/pandas NaN hash differently); k_mean
    # is an exact integer ratio -> engine-exact half-away-from-zero
    # (DECIMAL route: unbounded JSON ints can pass the BIGINT*2e6
    # product ceiling)
    return ev.groupBy(F.col("event_type").alias("name")).agg(
        F.count("*").alias("n"),
        F.when(
            F.count(k) > 0, _round6_ratio_dec_signed(F.sum(k), F.count(k))
        )
        .otherwise(F.lit(-1.0))
        .alias("k_mean"),
        F.coalesce(F.min(k), F.lit(-1)).alias("k_min"),
        F.coalesce(F.max(k), F.lit(-1)).alias("k_max"),
        F.count_distinct(k).alias("k_distinct"),
    )


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated quantiles (p50/p95/p99) of event values per
    name — Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    same linear-interpolation definition, so this is exactly
    oracle-able. Exact percentile buffers each group's values in the
    aggregation state; at 100 TB swap in ``percentile_approx``
    (t-digest-style sketch, mergeable, bounded memory) — same query
    shape, documented accuracy trade."""
    ev = _tbl(spark, sf_dir, "events")
    # Event values are 2dp cents rationals (adversarial accounting) or
    # full-precision doubles (driver data). For cents the p50/p95/p99
    # interpolations (fracs k/2, k/20, k/100) have denominators
    # dividing 10^4 — they TERMINATE by the 4th decimal and cannot
    # reach a 7th-decimal midpoint; full-precision doubles have no
    # midpoint concentration (the diffuse class).
    # round-lint: exempt (all three percentile lines below)
    return ev.groupBy(F.col("event_type").alias("name")).agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n"),
    )


def q_ts_sliding_hour_15m(spark, sf_dir):
    """Sliding-window aggregation: 1-hour windows every 15 minutes over
    events (each row lands in 4 overlapping windows). The reference
    approximates sliding aggregation with ±N insert fan-out
    (timeseries.py:484-497, README.rst:428-432); F.window's
    size/slide IS that fan-out done properly — Spark explodes each row
    to its windows map-side, then one hash aggregate."""
    ev = _tbl(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("w"), F.col("event_type").alias("name"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            "name",
            "cnt",
            "total",
        )
    )


def q_range_join_user_events(spark, sf_dir):
    """Banded range join: every (error, click) event pair of the same
    user within ±300 s. The band predicate is rewritten to an equality
    join on (user_id, floor(ts/band)) with a ×3 bucket explode on the
    click side — a shuffled hash join instead of the nested-loop plan
    a raw theta join would force (operators/joins.py)."""
    ev = _tbl(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    clk = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    j = joins.banded_range_join(err, clk, ["user_id"], band_sec=300.0)
    return j.select(
        "error_id",
        "click_id",
        F.round(
            F.abs(F.col("ts").cast("double") - F.col("r_ts").cast("double")), 6
        ).alias("gap_s"),
    )


def q_rollup_revenue_region(spark, sf_dir):
    """Hierarchical grouping-sets aggregation: order revenue by
    (region, nation) with ROLLUP subtotals and a grand total — the
    grouping-sets shape SURVEY.md §2.4 notes the reference lacks.
    Orders pre-aggregate onto o_custkey before the dim joins (dims
    broadcast), so the rollup re-groups ~|customer| rows, not
    ~|orders|. Revenue sums in DECIMAL so subtotal/total values are
    exact and association-order-independent across engines."""
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev"),
        F.count("*").alias("__n"),
    )
    j = (
        per_cust.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("__rev").cast("double"), 2).alias("revenue"),
            F.sum("__n").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


def q_semi_join_urgent_custs(spark, sf_dir):
    """Left-semi join (EXISTS): customers with at least one 1-URGENT
    order. The filter side shrinks to its join key before the shuffle;
    output rows never widen."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    out = joins.semi_join(c, urgent, on=c.c_custkey == urgent.o_custkey)
    return out.select("c_custkey", "c_name", "c_mktsegment")


def q_anti_join_quiet_custs(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers with no order over
    400k total price."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 400000).select("o_custkey")
    out = joins.anti_join(c, big, on=c.c_custkey == big.o_custkey)
    return out.select("c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"))


def q_ts_multires_rollup(spark, sf_dir):
    """Cascaded multi-resolution rollup: event counts/sums at minute
    grain, with hour derived from the minute PARTIALS and day from the
    hour partials — the kairos resolution→interval condense
    (timeseries.py:693-704) generalized to a rollup cascade. Each
    coarser grain re-aggregates ~60× fewer rows than a fresh scan
    would; at 100 TB this is the continuous-aggregate / hypertable
    pattern (compute fine once, derive coarse from it)."""
    ev = _tbl(spark, sf_dir, "events").select("ts", "value")
    sec = F.col("ts").cast("double")
    # phase 1: ONE scan + ONE exchange to minute-grain partials
    minute = ev.groupBy(
        (F.floor(sec / 60) * 60).cast("long").alias("m_time")
    ).agg(F.count("*").alias("cnt"), F.sum("value").alias("__sum"))
    # phase 2: each minute partial fans out to its (grain, bucket) rows —
    # a hand-rolled ROLLUP over the time hierarchy — and ONE more
    # exchange merges them. A naive union of three groupBys would scan
    # events three times and shuffle six times (the plan this replaced);
    # here the coarser grains re-aggregate ~60x/1440x fewer partial rows.
    grains = F.array(
        F.struct(F.lit("minute").alias("grain"), F.col("m_time").alias("i_time")),
        F.struct(
            F.lit("hour").alias("grain"),
            (F.floor(F.col("m_time") / 3600) * 3600).cast("long").alias("i_time"),
        ),
        F.struct(
            F.lit("day").alias("grain"),
            (F.floor(F.col("m_time") / 86400) * 86400).cast("long").alias("i_time"),
        ),
    )
    return (
        minute.select(F.explode(grains).alias("g"), "cnt", "__sum")
        .groupBy(F.col("g.grain").alias("grain"), F.col("g.i_time").alias("i_time"))
        .agg(F.sum("cnt").alias("cnt"), F.round(F.sum("__sum"), 4).alias("total"))
    )


# =====================================================================
# Training-data pipeline operators (documents / embeddings)
# =====================================================================


def _docs_with_dups(spark, sf_dir):
    """documents ∪ shifted-id copy — deterministic synthetic duplicates
    (the corpus itself has no exact dups)."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text").where(
        F.col("doc_id") % 5 == 0
    )
    return d.unionByName(dup)


def _link_decorated(spark, sf_dir):
    """documents with URLs planted by doc_id (the pii_scrub decoration
    precedent: the synthetic corpus has no URLs): doc_id % 4 gets a .com
    link on one of 50 hosts, doc_id % 6 a .org link on one of 20, so
    hosts really collide across docs. _LINK_DECO_SQL is its oracle twin."""
    docs = _tbl(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" see https://example"),
                    (F.col("doc_id") % 50).cast("string"),
                    F.lit(".com/page"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit(" and http://mirror"),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(".org/x"),
                ),
            ).otherwise(F.lit("")),
        ),
    )


_LINK_DECO_SQL = """
    text
    || CASE WHEN doc_id % 4 = 0
         THEN ' see https://example' || (doc_id % 50)::VARCHAR || '.com/page'
         ELSE '' END
    || CASE WHEN doc_id % 6 = 0
         THEN ' and http://mirror' || (doc_id % 20)::VARCHAR || '.org/x'
         ELSE '' END"""


def q_dedup_exact_groups(spark, sf_dir):
    """Exact dedup: md5-digest groups with >1 member
    (hash-groupBy; one shuffle on the digest)."""
    return dedup.exact_dup_groups(_docs_with_dups(spark, sf_dir)).select(
        "digest", "n_docs", "keep_id"
    )


def q_dedup_exact_keep(spark, sf_dir):
    """Exact dedup keep-set: lowest doc_id per digest survives."""
    out = dedup.exact_dedup(_docs_with_dups(spark, sf_dir))
    return out.select("doc_id")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (threshold 0.25, 8-char
    shingles) via shingle self-join."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.ngram_jaccard_pairs(d, n=8, threshold=0.25)


def q_dedup_clusters(spark, sf_dir):
    """Duplicate clusters: connected components (HashMin label
    propagation) over the exact n-gram-Jaccard pair graph — transitive
    closure of near-duplicate pairs, each doc labeled with the smallest
    doc_id in its cluster."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.ngram_jaccard_pairs(d, n=8, threshold=0.25)
    out = dedup.connected_components(pairs)
    return out.select(F.col("node").alias("doc_id"), "cluster_id")


def q_dedup_clusters_lsh(spark, sf_dir):
    """The 100 TB dedup pipeline end-to-end: MinHash signatures →
    LSH band buckets → candidate pairs (est. Jaccard ≥ 0.2) →
    connected components. Unlike dedup_clusters (exact all-pairs edge
    input, the verification path), every stage here is shuffle-safe:
    signatures are map-only, banding shuffles short digests, and CC
    shuffles the candidate edge list only."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(d, n=8, num_hashes=32, bands=16, threshold=0.2)
    out = dedup.connected_components(pairs)
    return out.select(F.col("node").alias("doc_id"), "cluster_id")


def q_training_data_prep(spark, sf_dir):
    """End-to-end training-data prep composition: exact dedup (keep
    lowest id per digest) → quality scoring → language + quality
    filter, in one DataFrame plan. Each stage is the already-verified
    operator; this query checks they COMPOSE (the thing a real corpus
    pipeline does) — Catalyst fuses the filters and prunes columns
    across the whole chain."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dup = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
    ).where(F.col("doc_id") % 5 == 0)
    u = d.unionByName(dup)
    keep = dedup.exact_dedup(u)
    scored = text.quality_score(keep)
    return (
        keep.join(scored, "doc_id")
        .where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
        .select("doc_id", "quality")
    )


def q_minhash_first_hashes(spark, sf_dir):
    """MinHash signature spot-check: first two hash components per doc
    (full signature is array-valued; h0/h1 are scalar and oracle-able)."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dedup.minhash_signatures(d, n=8, num_hashes=2)
    return sig.select(
        "doc_id",
        F.col("sig")[0].alias("h0"),
        F.col("sig")[1].alias("h1"),
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH banded near-dup pairs — the 100 TB dedup path.
    Estimated Jaccard = signature agreement fraction."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.minhash_lsh_pairs(d, n=8, num_hashes=32, bands=16, threshold=0.2)


def q_simhash_sample(spark, sf_dir):
    """SimHash fingerprints for the first 100 docs (60-bit, md5-token
    based)."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text").where(F.col("doc_id") < 100)
    return dedup.simhash(d)


def q_simhash_near_pairs(spark, sf_dir):
    """SimHash near-duplicate pairs (Hamming ≤ 3 over 60-bit
    fingerprints) via the block trick: a pair within Hamming 3 must
    agree exactly on ≥1 of 4 fingerprint segments, so candidates come
    from a groupBy on segment values — never an all-pairs join. The
    trick is EXACT for max_hamming < blocks, so the DuckDB oracle can
    brute-force all pairs and the results must agree."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_near_pairs(d, max_hamming=3, bits=60, blocks=4)


def q_text_stats(spark, sf_dir):
    """Per-doc quality metrics (lengths, token counts, ratios)."""
    return text.text_stats(_tbl(spark, sf_dir, "documents"))


def q_sample_split(spark, sf_dir):
    """Deterministic hash train/val/test split (90/5/5) — per (split,
    lang) document counts and char totals. Map-only assignment; the
    same md5-mod math reruns identically on any engine, so the oracle
    reproduces the exact assignment, not just the proportions."""
    out = sampling.hash_split(_tbl(spark, sf_dir, "documents"))
    return out.groupBy("split", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (language rebalancing):
    named strata keep different fractions, unnamed strata keep 10%."""
    kept = sampling.stratified_sample(
        _tbl(spark, sf_dir, "documents"),
        {"en": 0.25, "es": 0.5, "zh": 1.0},
        strata_col="lang",
        default_fraction=0.1,
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals for the first 100 docs: duplicate
    word-3-gram fraction and top-gram share."""
    d = _tbl(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return text.repetition_stats(d, n=3)


def q_word_entropy(spark, sf_dir):
    """Per-doc Shannon entropy of the word distribution (doc_id < 200)."""
    d = _tbl(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return text.word_entropy(d)


def q_sketch_distinct(spark, sf_dir):
    """Minhash cardinality sketch vs exact: estimated and exact distinct
    user_id per event_type, plus rounded relative error. Deterministic
    md5 double-hashing means the oracle reproduces the estimate (and
    its error) exactly."""
    ev = _tbl(spark, sf_dir, "events")
    est = sketches.distinct_estimate(ev, ["event_type"], "user_id", k=64)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "est_distinct",
        "n_exact",
        F.round(F.abs(F.col("est_distinct") - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_err"),
    )


def q_shard_packing(spark, sf_dir):
    """Budget-bounded shard packing over documents (budget = 20k chars):
    per-shard doc counts and char totals. The two-phase distributed
    cumsum must agree exactly with the oracle's flat global cumsum."""
    packed = sampling.pack_shards(
        _tbl(spark, sf_dir, "documents"), size_col="n_chars", budget=20000
    )
    return packed.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def q_cohort_retention(spark, sf_dir):
    """Daily cohort retention over the events table (cohort = day of
    first signup; active = any event that day)."""
    return windows.cohort_retention(_tbl(spark, sf_dir, "events"))


def q_dedup_incremental(spark, sf_dir):
    """Incremental-crawl dedup: docs 250+ arriving as a new batch are
    filtered against the digests of the already-ingested docs 0-249 and
    against duplicates within the batch (min-id wins)."""
    docs = _tbl(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") < 250).select(F.md5("text").alias("digest"))
    batch = docs.where(F.col("doc_id") >= 250)
    out = dedup.exact_dedup_incremental(batch, seen)
    return out.select("doc_id", "lang")


def q_token_topk_by_lang(spark, sf_dir):
    """Per-language top-5 tokens (grouped vocabulary heads)."""
    return text.top_tokens_by_group(_tbl(spark, sf_dir, "documents"), k=5)


def q_contamination(spark, sf_dir):
    """Benchmark-decontamination pass: distinct word-3-gram overlap of
    every document against a benchmark corpus (docs 0-2 stand in for
    the held-out eval set)."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 3)
    # word 3-grams: the synthetic corpus has a ~30-word vocabulary, so
    # 5-grams only ever match the bench docs themselves (vacuous);
    # 3-grams flag a meaningful ~20% of docs
    return text.contamination_overlap(docs, bench, n=3)


def q_binned_quantiles(spark, sf_dir):
    """Single-pass binned quantile estimates (p50/p90/p99 of event
    value per event_type, 200 bins over [0, 500)) — the mergeable scale
    path next to the exact value_percentiles query; estimation error is
    bounded by the 2.5-unit bin width and the estimate itself is
    reproduced exactly by the oracle."""
    return sketches.binned_quantiles(
        _tbl(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        quantiles=[0.5, 0.9, 0.99],
        lo=0.0,
        hi=500.0,
        bins=200,
    )


def q_weighted_sample(spark, sf_dir):
    """Length-weighted 100-doc sample (A-ES priorities): long documents
    are proportionally likelier to be drawn. Deterministic md5 uniforms
    make the exact sample — not just its size — reproducible by the
    oracle. TakeOrderedAndProject top-k; no global sort."""
    out = sampling.weighted_sample(
        _tbl(spark, sf_dir, "documents"), weight_col="n_chars", k=100
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.round("priority", 6).alias("priority")
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrub audit: per (source, lang), counts of emails / SSNs /
    phones / IPv4s detected, docs containing any PII, and total chars
    removed by redaction.

    The synthetic corpus contains no real PII, so the query first
    decorates a deterministic subset of docs (doc_id % {3,5,7,11}) with
    doc_id-derived email/IP/phone/SSN strings — a pure function of the
    table that the oracle reproduces exactly, keeping the regex check
    non-vacuous. Map-only detect+redact projection, one hash aggregate."""
    d = _tbl(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sid = did.cast("string")
    deco = d.select(
        "doc_id",
        "source",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact user"), sid, F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" call "),
                    (did % 900 + 100).cast("string"),
                    F.lit("-555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" ssn "),
                    (did % 900 + 100).cast("string"),
                    F.lit("-"),
                    F.lpad((did % 100).cast("string"), 2, "0"),
                    F.lit("-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    stats = pii.pii_stats(deco, keep=("source", "lang"))
    return stats.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_email").cast("long").alias("n_email"),
        F.sum("n_ssn").cast("long").alias("n_ssn"),
        F.sum("n_phone").cast("long").alias("n_phone"),
        F.sum("n_ipv4").cast("long").alias("n_ipv4"),
        F.sum((F.col("n_pii") > 0).cast("long")).cast("long").alias("n_pii_docs"),
        F.sum("chars_removed").cast("long").alias("chars_removed"),
    )


def q_quality_scores(spark, sf_dir):
    return text.quality_score(_tbl(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    """Stopword-panel language heuristic vs the labeled lang column."""
    d = _tbl(spark, sf_dir, "documents")
    pred = text.language_id(d)
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


def q_token_topk(spark, sf_dir):
    """Corpus-wide top-20 word tokens (vocabulary sweep)."""
    return text.top_tokens(_tbl(spark, sf_dir, "documents"), k=20)


def q_doc_fingerprint(spark, sf_dir):
    """Min-md5-over-shingles document fingerprint."""
    return text.fingerprint(_tbl(spark, sf_dir, "documents"), n=8)


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding —
    the exact ANN baseline (TakeOrderedAndProject: per-partition top-k,
    no global sort)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.cosine_topk(emb, [float(x) for x in qvec], k=10)


def q_embed_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥0.4 — the synthetic corpus
    has no real near-dups, so the threshold sits below its max observed
    cosine to keep the oracle check non-vacuous) among vec_id<200 —
    brute-force verification path for the LSH variant."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.cosine_self_pairs(emb, threshold=0.4, max_rows=200)


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids as (label, dim, mean) rows —
    the group-wise vector mean that IVF/k-means training is built
    from. posexplode fans each vector to (label, dim, component)
    triples (tiny payload, 64x rows) and one hash aggregate computes
    the per-dimension means; partial aggregation collapses each
    partition to #labels×#dims rows before the shuffle, so network
    volume is independent of the vector count."""
    emb = _tbl(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    return ex.groupBy("label", (F.col("pos") + 1).alias("dim")).agg(
        # F.round(F.avg) exempt from the exact-rational sweep: the
        # inputs are full-precision doubles (unit-vector components),
        # not fixed-decimal values — a 7th-decimal midpoint mean has
        # measure zero, unlike count/cent ratios (CLAUDE.md invariant)
        F.round(F.avg("x"), 6).alias("m"),
        F.count("*").alias("n_vecs"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN top-10: assign every vector to the nearest of 16
    deterministic coarse centroids (the 16 lowest-id embeddings), probe
    the 4 lists nearest the query. The scale path: the full corpus is
    scanned once to build assignments; each query then touches only
    nprobe/nlist of the data — and the whole construction is
    deterministic, so it has an exact SQL oracle."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.ivf_topk(
        emb, [float(x) for x in qvec], k=10, nlist=16, nprobe=4
    )


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate top-10 via random-hyperplane LSH multi-probe. The
    whole path is deterministic md5 math, so even the approximation is
    exactly oracle-able (the DuckDB twin rebuilds the hyperplanes,
    buckets, and probe set); recall vs brute force is additionally
    asserted in tests."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.lsh_topk(emb, [float(x) for x in qvec], k=10, planes=8, probe_hamming=2)


def q_embed_near_pairs_lsh(spark, sf_dir):
    """SRP-bucketed embedding near-pairs (vec_id < 1000) — the LSH scale
    path whose brute-force twin is embed_near_pairs; deterministic
    hyperplanes make even the approximation exactly oracle-able."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.srp_near_pairs(
        emb, dim=64, threshold=0.35, planes=6, max_id=1000
    )


def q_multimodal_features(spark, sf_dir):
    """Binary media plumbing: attach payloads, extract features via
    Arrow-batched mapInPandas. The featurization is a deterministic
    byte-level stand-in (high-nibble histogram, L1-normalized) chosen
    so DuckDB can reproduce it exactly from hex(encode(text)) — this
    graduates the mapInPandas path from rows-only to hash-matched
    while keeping the Arrow batch plumbing (the thing being proven)
    untouched. Fixed-stride samples of the 16-dim vector are
    projected as scalar columns."""
    media = multimodal.attach_media(_tbl(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)

    # features[i] is fl(count/n_bytes); count is recovered exactly by
    # rint (error << 0.5 for count < 2^31), so the round-6 can run as
    # the engine-exact integer half-up instead of a double round that
    # splits on 7th-decimal midpoints (e.g. 41/640)
    def _f(i):
        # n_bytes = 0 → _fake_features returns [0.0]*16, so the count
        # recovers to 0 and the greatest(n_bytes, 1) denominator on
        # both sides yields 0.0; the coalesce is a belt-and-braces
        # guard for a NULL features array (never produced today)
        cnt = F.coalesce(
            F.rint(F.col("features")[i] * F.col("n_bytes")).cast("long"), F.lit(0)
        )
        return _round6_ratio(cnt, F.greatest(F.col("n_bytes"), F.lit(1)))

    return feats.select(
        "media_id",
        "n_bytes",
        _f(0).alias("f0"),
        _f(3).alias("f3"),
        _f(7).alias("f7"),
        _f(11).alias("f11"),
        _f(15).alias("f15"),
    )


def q_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: one row per 256-byte offset per payload."""
    media = multimodal.attach_media(_tbl(spark, sf_dir, "documents"))
    frames = multimodal.frame_sample_stub(media, every_n_bytes=256)
    return frames.groupBy("media_id").agg(F.count("*").alias("n_frames"))


def q_kmeans_clusters(spark, sf_dir):
    """Deterministic 2-iteration Lloyd k-means (k=8) over embeddings:
    cluster sizes + DECIMAL-exact inertia."""
    return similarity.kmeans(_tbl(spark, sf_dir, "embeddings"), k=8, iters=2)


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms over the corpus."""
    return text.tfidf_top_terms(_tbl(spark, sf_dir, "documents"), k=3)


def q_bigram_lm_score(spark, sf_dir):
    """Add-one-smoothed bigram LM score (mean ln p) per document."""
    return text.bigram_lm_score(_tbl(spark, sf_dir, "documents"))


def q_normalize_dedup(spark, sf_dir):
    """Normalization-aware dedup: recased/re-punctuated/re-wrapped
    copies collapse to the same canonical digest."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pert = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            # ASCII-only recasing on BOTH sides: Java upper() applies
            # SpecialCasing expansions (ß→SS, ligature ﬁ→FI, ᾈ→ἈΙ, …)
            # that DuckDB's simple mapping does not — translate() is
            # codepoint 1:1 in both engines, so the perturbed copies
            # are byte-identical regardless of input script.
            F.translate(
                F.col("text"),
                "abcdefghijklmnopqrstuvwxyz",
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
            ),
            F.lit(" !!! "),
        ).alias("text"),
    )
    return dedup.normalized_dup_groups(d.unionByName(pert))


def q_containment_pairs(spark, sf_dir):
    """N-gram containment pairs: prefix-truncated copies (60% of each
    7th document) are caught at containment ≥ 0.8 where Jaccard would
    sit near 0.6 and below any safe threshold."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    trunc = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.6) as int))").alias(
            "text"
        ),
    )
    return dedup.containment_pairs(d.unionByName(trunc), n=8, threshold=0.8)


def q_anomaly_zscore(spark, sf_dir):
    """Trailing-24h z-score anomaly flags over hourly event counts."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.anomaly_zscore(ev, step_sec=3600, lookback=24, z_thresh=2.0)


def q_ewma_smooth(spark, sf_dir):
    """Truncated EWMA (alpha=0.3, 8 lags) over hourly event counts."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.ewma_smooth(ev, step_sec=3600, alpha=0.3, k=8)


def q_rolling_distinct_users(spark, sf_dir):
    """Rolling 7-day distinct active users per day."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.rolling_distinct(ev, step_sec=86400, window_steps=7)


def q_funnel_conversion(spark, sf_dir):
    """Strictly-ordered signup → click → purchase conversion funnel."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.funnel(ev, ["signup", "click", "purchase"])


def q_session_transitions(spark, sf_dir):
    """Within-session event-type transition matrix (30-min gap)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.session_transitions(ev, gap_sec=1800.0, order_col="event_id")


def q_interval_coverage(spark, sf_dir):
    """Per-user merged activity intervals (±300 s padding)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.merged_activity_intervals(ev, pad_sec=300)


def q_seasonal_baseline(spark, sf_dir):
    """Hour-of-day seasonal baseline and per-bucket deviation ratio."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.seasonal_baseline(ev, step_sec=3600, period=24)


def q_key_skew_stats(spark, sf_dir):
    """Per-event-type user-key skew diagnostics (top share, entropy, HHI)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.key_distribution(ev, "event_type", "user_id")


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_heavy_hitters(spark, sf_dir):
    """Count-min-sketch estimates vs exact counts for the top-20 terms.

    w=16 is deliberately undersized for the 31-term synthetic vocabulary
    so bucket collisions actually occur and the overcount column
    exercises the estimator (w=1024 would be collision-free here)."""
    docs = _tbl(spark, sf_dir, "documents")
    tok = docs.select(F.explode(text.word_tokens(F.col("text"))).alias("term"))
    return sketches.cms_heavy_hitters(tok, "term", top_k=20, d=4, w=16)


def q_bloom_filter_join(spark, sf_dir):
    """Bloom pre-join of customers against urgent-order custkeys: filter
    quality (candidates / true matches / fp rate) in one summary row."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT")
    return joins.bloom_filter_stats(
        urgent, c, "o_custkey", "c_custkey", m_bits=16384, k_hashes=3
    )


def q_salted_join(spark, sf_dir):
    """Skew-safe salted fact⋈dim join (8 salts on a per-row basis),
    aggregated to revenue per order priority — result provably equal to
    the plain join (the oracle IS the plain join)."""
    li = _tbl(spark, sf_dir, "lineitem").withColumn(
        "__rid",
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")),
    )
    o = _tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = joins.salted_join(li, o, ["l_orderkey"], n_salt=8, salt_col="__rid")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


def q_unpivot_roundtrip(spark, sf_dir):
    """pivot → unpivot round trip: melting the hourly×type matrix (zeros
    dropped) must reproduce the long per-(type, hour) counts exactly."""
    ev = _tbl(spark, sf_dir, "events")
    wide = profiling.pivot_counts(ev, "event_type", EVENT_TYPES, step_sec=3600)
    return profiling.unpivot_counts(wide, ["i_time"], prefix="n_")


def q_cluster_quality(spark, sf_dir):
    """Cohesion / nearest-centroid separation diagnostics per embedding label."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.label_cluster_quality(emb)


def q_pagerank_transitions(spark, sf_dir):
    """2-iteration weighted PageRank over the session transition graph."""
    ev = _tbl(spark, sf_dir, "events")
    trans = windows.session_transitions(
        ev, gap_sec=1800.0, order_col="event_id"
    ).select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n_transitions").alias("w"),
    )
    return graph.pagerank(trans, "src", "dst", "w", iters=2, damping=0.85)


def q_source_scorecard(spark, sf_dir):
    """Per-source crawl scorecard: volume, length, dup rate, quality."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.source_scorecard(docs)


def q_langid_metrics(spark, sf_dir):
    """Language-id precision/recall/F1 against the labeled lang column."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.language_metrics(docs)


def q_conversion_latency(spark, sf_dir):
    """Signup→purchase time-to-convert summary (rate + latency percentiles)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.conversion_latency(ev)


def q_supplier_pareto(spark, sf_dir):
    """Supplier revenue Pareto: cumulative share + 80% head flag."""
    li = _tbl(spark, sf_dir, "lineitem")
    s = _tbl(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return profiling.revenue_pareto(
        li, s, "l_suppkey", "s_suppkey", "s_name", rev, top_share=0.8
    )


def q_audience_overlap(spark, sf_dir):
    """Exact Jaccard/containment of user audiences between event types."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.audience_overlap(ev, "event_type", "user_id")


def q_gini_activity(spark, sf_dir):
    """Gini coefficient of per-user activity concentration by type."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.gini_concentration(ev, "event_type", "user_id")


def q_dedup_recall(spark, sf_dir):
    """End-to-end LSH dedup audit: recall/precision against planted
    truncated-copy near-dups."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.dedup_recall_audit(
        docs, mod=4, keep_frac=0.6, n=8, num_hashes=32, bands=16, threshold=0.2
    )


def q_ngram_novelty(spark, sf_dir):
    """Per-doc corpus-wide novelty: fraction of distinct 8-gram
    shingles appearing in no other document."""
    return text.ngram_novelty(_tbl(spark, sf_dir, "documents"), n=8)


def q_quantize_audit(spark, sf_dir):
    """Int8-style quantization go/no-go: per-label reconstruction
    error of 255-level uniform quantization over per-dim [min,max]."""
    return similarity.quantize_audit(_tbl(spark, sf_dir, "embeddings"))


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier signup→purchase survival curve (day grain) with
    right-censoring at the observation end."""
    return windows.kaplan_meier(_tbl(spark, sf_dir, "events"))


def q_changepoints(spark, sf_dir):
    """Per-type strongest mean-shift changepoint over daily counts
    (7-before vs 7-after standardized shift scan)."""
    return windows.mean_shift_changepoints(
        _tbl(spark, sf_dir, "events"), step_sec=86400, window=7, min_score=2.0
    )


def q_temperature_mix(spark, sf_dir):
    """Temperature-0.5 language-mix sampling plan over documents:
    per-lang target counts summing exactly to the 1000 budget."""
    return sampling.temperature_mix(
        _tbl(spark, sf_dir, "documents"), group_col="lang", alpha=0.5, budget=1000
    )


def q_grouped_weighted_sample(spark, sf_dir):
    """Per-language 20-doc length-weighted A-ES sample (deterministic
    md5 uniforms; exact sample reproduced by the oracle)."""
    out = sampling.grouped_weighted_sample(
        _tbl(spark, sf_dir, "documents"), weight_col="n_chars", k=20,
        group_col="lang",
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.round("priority", 6).alias("priority")
    )


def q_decayed_topk(spark, sf_dir):
    """7-day-half-life decayed activity leaderboard: top-20 users."""
    return windows.decayed_topk(
        _tbl(spark, sf_dir, "events"), key_col="user_id",
        half_life_sec=86400.0 * 7, k=20,
    )


def q_pseudonym_audit(spark, sf_dir):
    """Surrogate-id collision audit: 64-bit salted-md5 pseudonyms over
    event user ids."""
    return pii.pseudonym_audit(
        _tbl(spark, sf_dir, "events"), "user_id", salt="r5", bits=64
    )


def q_duplicated_spans(spark, sf_dir):
    """Substring-grain exact dedup: maximal verbatim spans >= 40 chars
    shared between documents (16-gram anti-diagonal islands)."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.duplicated_spans(docs, k=16, min_len=40, max_occ=200)


def q_domain_cap(spark, sf_dir):
    """Per-domain cap with a rebalance override: keep the 10 longest
    docs per source (deterministic hash tiebreak), src0 exempted at
    100 — summarized as per-domain kept counts + id checksum."""
    docs = _tbl(spark, sf_dir, "documents")
    capped = sampling.domain_cap(
        docs, cap=10, group_col="source", id_col="doc_id",
        caps={"src0": 100}, priority_col="n_chars",
    )
    return capped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


def q_winsorize(spark, sf_dir):
    """Winsorization audit of event values per type (p5/p95 caps)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.winsorize_stats(ev, "event_type", "value", 0.05, 0.95)


def q_impute_median(spark, sf_dir):
    """Group-median imputation audit: values nulled deterministically
    (event_id % 13 == 0) then repaired with the per-type median."""
    ev = _tbl(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(F.col("value")),
    )
    return profiling.impute_group_median(ev, "event_type", "value")


def q_fd_check(spark, sf_dir):
    """Functional-dependency audit: true FDs (orderkey→custkey) next to
    a deliberately false candidate (custkey→orderpriority)."""
    o = _tbl(spark, sf_dir, "orders")
    return profiling.fd_check(
        o,
        [
            ("o_orderkey", "o_custkey"),
            ("o_orderkey", "o_orderpriority"),
            ("o_custkey", "o_orderpriority"),
        ],
    )


def q_event_debounce(spark, sf_dir):
    """Debounce audit: per user drop rate of events within 60 s of the
    previous (user, type) event."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.debounce_stats(
        ev, ["user_id", "event_type"], "ts", min_gap_sec=60.0, order_col="event_id"
    )


def q_count_correlation(spark, sf_dir):
    """Pearson correlation of hourly counts between event-type pairs."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.count_correlation(ev, step_sec=3600)


def q_revenue_deciles(spark, sf_dir):
    """Customer revenue deciles: NTILE(10) over per-customer order
    totals (DECIMAL-exact), summarized per tile."""
    o = _tbl(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    return profiling.tile_summary(per_cust, "revenue", "o_custkey", n_tiles=10)


def q_trend_slope(spark, sf_dir):
    """Per-type OLS trend over daily event counts (slope/intercept/R²)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.trend_slope(ev, step_sec=86400)


def q_lsh_recall(spark, sf_dir):
    """ANN recall audit: SRP-LSH multi-probe top-10 vs exact top-10
    recall per query vector (8 planes, hamming probe 2)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.lsh_recall(qs, emb, dim=64, k=10, planes=8, probe_hamming=2)


def _dirty_customers(c: DataFrame) -> DataFrame:
    """customer names with one character deterministically deleted
    (which one by c_custkey % 8), as (d_id = c_custkey + 1e6, d_name,
    c_nationkey): the fuzzy-linkage probes' dirty side."""
    return c.select(
        (F.col("c_custkey") + 1000000).alias("d_id"),
        F.expr(
            "concat(substring(c_name, 1, 9 + c_custkey % 8),"
            " substring(c_name, 11 + c_custkey % 8))"
        ).alias("d_name"),
        "c_nationkey",
    )


def q_fuzzy_match(spark, sf_dir):
    """Blocked fuzzy record linkage: customer names with one character
    deterministically deleted, matched back against the clean table
    blocked on nation, Levenshtein <= 2, best match + ambiguity count."""
    c = _tbl(spark, sf_dir, "customer")
    dirty = _dirty_customers(c)
    return joins.fuzzy_blocked_match(
        dirty, c, "d_id", "d_name", "c_custkey", "c_name",
        ["c_nationkey"], max_dist=2,
    )


def q_interarrival(spark, sf_dir):
    """Per-user inter-arrival gap distribution (median/p90/max seconds)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.interarrival_stats(ev, "user_id", "ts", order_col="event_id")


def q_label_agreement(spark, sf_dir):
    """kNN label-noise screen: per label, mean 10-NN label agreement and
    suspect (minority-agreement) vector count."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.knn_label_agreement(emb, k=10)


def q_knn_join(spark, sf_dir):
    """Bulk exact kNN join: top-10 cosine neighbors for every query
    vector (vec_id % 100 == 0), via the two-phase salted top-k merge."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.knn_join(qs, emb, k=10)


def q_snapshot_diff(spark, sf_dir):
    """Crawl-snapshot diff: documents vs a deterministically perturbed
    next snapshot (some ids removed, some texts edited, some added) —
    counts per added/removed/changed/unchanged class."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    kept = docs.where(F.col("doc_id") % 31 != 0)
    changed = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.where(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text", "lang"
    )
    new = changed.unionByName(added)
    return profiling.snapshot_diff(docs, new, "doc_id", ["text", "lang"])


def q_freq_spectrum(spark, sf_dir):
    """Token frequency spectrum (count-of-counts) with cumulative mass."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.frequency_spectrum(docs)


def q_schema_profile(spark, sf_dir):
    """One-pass column profile of events (null rates, cardinality,
    min/max). Timestamp/double columns are excluded from the min/max
    string rendering because the engines format them differently."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.schema_profile(ev, ["event_id", "user_id", "event_type", "props"])


def q_fk_conformance(spark, sf_dir):
    """Referential-integrity audit of the star schema's two core FKs."""
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    li = _tbl(spark, sf_dir, "lineitem")
    a = profiling.fk_conformance(o, c, "o_custkey", "c_custkey", "orders.o_custkey")
    b = profiling.fk_conformance(li, o, "l_orderkey", "o_orderkey", "lineitem.l_orderkey")
    return a.unionByName(b)


def q_cube_revenue(spark, sf_dir):
    """CUBE over (returnflag, orderpriority): all four grouping sets in
    one pass (the grouping-sets family's other half next to ROLLUP).
    Lineitem pre-aggregates onto the order key in DECIMAL before the
    broadcast dim join, so the cube re-groups ~|orders| rows."""
    li = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey", "l_returnflag").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("__rev"),
        F.count("*").alias("__n"),
    )
    j = per_order.join(
        F.broadcast(o.select("o_orderkey", "o_orderpriority")),
        per_order.l_orderkey == F.col("o_orderkey"),
    )
    return (
        j.cube("l_returnflag", "o_orderpriority")
        .agg(
            F.round(F.sum("__rev").cast("double"), 2).alias("revenue"),
            F.sum("__n").cast("long").alias("n_items"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "revenue",
            "n_items",
        )
    )


def q_mad_outliers(spark, sf_dir):
    """Median-absolute-deviation outlier audit of event values per type."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.mad_outliers(ev, "event_type", "value", k=3.0)


def q_period_delta(spark, sf_dir):
    """Day-over-day event-count deltas and percent change per type.
    First-bucket rows (no previous period) are filtered so both engines
    hash a null-free frame — the operator itself keeps them as NULLs."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.period_delta(ev, step_sec=86400).where(
        F.col("prev_n").isNotNull()
    )


def q_zorder_layout(spark, sf_dir):
    """Morton (Z-order) layout audit: per Z-range bucket, how many rows,
    distinct users, and distinct hours it would co-locate. bucket_shift
    is sized to the testdata span (150 users x ~1 month of hours) so the
    Z ranges actually partition the variation."""
    ev = _tbl(spark, sf_dir, "events")
    return layout.zorder_stats(ev, "user_id", "ts", step_sec=3600, bits=16, bucket_shift=12)


def q_minhash_calibration(spark, sf_dir):
    """MinHash estimator audit: est vs exact Jaccard per LSH candidate."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.minhash_calibration(d, n=8, num_hashes=32, bands=16, threshold=0.2)


def q_asof_tolerance(spark, sf_dir):
    """As-of join with a 7-day staleness bound: purchases matched to the
    most recent prior signup only when it is at most 7 days old."""
    ev = _tbl(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    j = windows.asof_join(
        purchases, signups, ["user_id"], "ts", "ts", tolerance_sec=604800.0
    )
    return j.where(F.col("ts_r").isNotNull()).select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias(
            "usec_since_signup"
        ),
    )


def q_boilerplate_chunks(spark, sf_dir):
    """Cross-doc boilerplate fraction from non-overlapping 8-word chunks."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.boilerplate_chunks(docs, size=8, min_docs=2)


def q_pmi_pairs(spark, sf_dir):
    """Within-document term co-occurrence PMI (pairs sharing >= 30 docs)."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.pmi_pairs(docs, min_pair_docs=30)


def q_value_drift(spark, sf_dir):
    """PSI drift of the value distribution, first vs second half of time."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.distribution_drift(ev, bins=10)


def q_doc_chunks(spark, sf_dir):
    """Overlapping 24-word chunk windows (stride 16) with per-chunk digests."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.chunk_words(docs, size=24, stride=16)


def q_inverted_index(spark, sf_dir):
    """Posting-list heads: doc frequency + first-5 postings per term (df >= 10)."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.inverted_index(docs, min_df=10, k=5)


def q_event_pivot(spark, sf_dir):
    """Hourly bucket × event-type count matrix (explicit category list)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.pivot_counts(ev, "event_type", EVENT_TYPES, step_sec=3600)


def q_winnow_pairs(spark, sf_dir):
    """Winnowing-fingerprint near-pairs (SIGMOD'03 local fingerprinting):
    8-gram hashes, window w=4, stop-fingerprint cap 50, Jaccard over
    the kept fingerprint sets >= 0.2 for pairs sharing >= 3."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.winnow_near_pairs(
        docs, k=8, w=4, max_occ=50, min_shared=3, min_score=0.2
    )


def q_editdist_pairs(spark, sf_dir):
    """Levenshtein-certified near-dups: SimHash block candidates
    (6 blocks, hamming <= 5 — complete by pigeonhole), then exact edit
    distance over the 160-char normalized prefix, kept <= 40.

    ASCII-only scope for the cross-engine check: Spark's levenshtein
    counts CODE POINTS, DuckDB's counts BYTES — they disagree on any
    multi-byte text (levenshtein('中','文') = 1 vs 3). The operator
    keeps the correct code-point semantics; this query certifies it on
    the subset where both engines define the same metric."""
    docs = _tbl(spark, sf_dir, "documents").where(
        ~F.col("text").rlike("[^\\x00-\\x7F]")
    )
    return dedup.editdist_near_pairs(
        docs, max_dist=40, prefix_chars=160, bits=60, blocks=6, max_hamming=5
    )


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct users per event type (p=8, md5 registers)
    next to the exact count and the sketch's realized relative error."""
    ev = _tbl(spark, sf_dir, "events")
    est = sketches.hll_distinct(ev, ["event_type"], "user_id", p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").withColumn(
        "rel_err",
        F.round(
            (F.col("est_distinct") - F.col("exact_distinct")) / F.col("exact_distinct"),
            6,
        ),
    )


def q_bpe_pairs(spark, sf_dir):
    """First-iteration BPE merge candidates: top-50 adjacent character
    pairs by corpus frequency over the vocabulary table."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.bpe_pair_stats(docs, pattern="[a-z]+", k=50)


def q_spearman_activity(spark, sf_dir):
    """Spearman rank correlation between event types' hourly activity
    (tie-averaged doubled ranks — integer-exact)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.spearman_correlation(ev, step_sec=3600)


def q_quality_auc(spark, sf_dir):
    """Mann-Whitney AUC of document length as a predictor of
    English-language docs, per source — the heuristic-filter scorecard."""
    docs = _tbl(spark, sf_dir, "documents").withColumn(
        "__is_en", F.col("lang") == "en"
    )
    return profiling.rank_auc(docs, "n_chars", "__is_en", ["source"])


def q_categorical_drift(spark, sf_dir):
    """Chi-square event-mix drift between the first and second time
    half, with per-category contributions."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.categorical_drift(ev)


def q_distinctive_terms(spark, sf_dir):
    """Top-5 distinctive terms per source by Dirichlet-smoothed
    log-odds vs the rest of the corpus (Fightin' Words)."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.distinctive_terms(docs, group_col="source", k=5, min_count=3)


def q_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: true label × predicted counts —
    the error-structure view behind langid_metrics' P/R/F1."""
    docs = _tbl(spark, sf_dir, "documents")
    pred = text.language_id(docs)
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred.select("doc_id", "lang_pred"), "doc_id")
        .groupBy("true_lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_scd2_intervals(spark, sf_dir):
    """Type-2 SCD state history: per-user event-type validity
    intervals from the event log (gaps-and-islands runs)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.scd2_intervals(ev)


def q_skyline_docs(spark, sf_dir):
    """Pareto frontier of documents on (token count, unique-token
    ratio) — the multi-criteria shortlist no other doc dominates."""
    docs = _tbl(spark, sf_dir, "documents")
    toks_arr = F.regexp_extract_all(text.agree_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    toks = F.size(toks_arr).cast("long")
    uniq = F.size(F.array_distinct(toks_arr))
    d = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.round(uniq / F.greatest(toks, F.lit(1)), 6).alias("uniq_ratio"),
    )
    return profiling.skyline_2d(d, "toks", "uniq_ratio", "doc_id")


def q_weighted_median_len(spark, sf_dir):
    """Token-weighted median document length per language (the length
    at which half the corpus TOKENS sit below)."""
    docs = _tbl(spark, sf_dir, "documents")
    wt = F.size(
        F.regexp_extract_all(text.agree_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    ).cast("long")
    d = docs.select("lang", "n_chars", wt.alias("__wt"))
    return profiling.weighted_median(d, ["lang"], "n_chars", "__wt")


def q_autocorr_hourly(spark, sf_dir):
    """Lag-1 autocorrelation of hourly activity per event type."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.autocorrelation(ev, step_sec=3600, lag=1)


def q_transition_entropy(spark, sf_dir):
    """Markov next-event entropy per event type (in-session)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.transition_entropy(ev)


def q_join_size_est(spark, sf_dir):
    """CMS inner-product pre-flight estimate of |orders ⋈ customer|
    next to the exact join cardinality."""
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    return sketches.join_size_estimate(o, c, "o_custkey", "c_custkey")


def q_ks_drift(spark, sf_dir):
    """Two-sample KS drift of event values, first vs second time half."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.ks_drift(ev)


def q_lateness_audit(spark, sf_dir):
    """Event-time out-of-orderness vs arrival order — the watermark
    sizing distribution per event type."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.lateness_audit(ev)


def q_dup_inflation(spark, sf_dir):
    """Token-weighted duplication inflation per source (docs vs exact
    digest-deduped docs and tokens)."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.dup_inflation(docs)


def q_norm_outliers(spark, sf_dir):
    """Embedding L2-norm health audit per label (2-sigma outliers)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.norm_outliers(emb, z=2.0)


def q_theilsen_trend(spark, sf_dir):
    """Theil-Sen robust hourly activity trend per event type (median
    of pairwise bucket-count slopes)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.theilsen_trend(ev, step_sec=3600)


def q_session_paths(spark, sf_dir):
    """Top-20 3-step event-type paths inside 30-minute sessions."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.session_paths(ev, depth=3, k=20)


def q_benford_totalprice(spark, sf_dir):
    """Benford first-digit audit of order totals (obs vs log10(1+1/d))."""
    o = _tbl(spark, sf_dir, "orders")
    return profiling.benford_audit(o, "o_totalprice")


def q_rfm_segments(spark, sf_dir):
    """RFM tercile segmentation of users with per-segment averages."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.rfm_segments(ev, tiles=3)


def q_triangle_cooccurrence(spark, sf_dir):
    """Triangles + clustering coefficient over the user co-activity
    graph (shared (event_type, hour) cells, stop-bucket cap 200)."""
    ev = _tbl(spark, sf_dir, "events")
    return graph.cooccurrence_triangles(
        ev, step_sec=3600, min_shared=2, max_bucket_nodes=200
    )


def q_context_budget(spark, sf_dir):
    """Sequence-length planning: docs truncated and tokens lost at
    64/128/256/512-token context cutoffs."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.context_budget(docs, [64, 128, 256, 512])


def q_bigram_holdout(spark, sf_dir):
    """Held-out bigram LM scores: model fit on the md5 80% train
    split, scored on the 20% held-out docs with OOV counts."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.bigram_holdout_score(docs, train_buckets=10, train_cut=8)




def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit of (mktsegment, nationkey) as quasi-identifiers
    over customer: per-equivalence-class sizes plus at-risk record
    fractions below k in {2, 5, 10}."""
    c = _tbl(spark, sf_dir, "customer")
    return pii.k_anonymity(c, ["c_mktsegment", "c_nationkey"], [2, 5, 10])


def q_dp_noisy_counts(spark, sf_dir):
    """Deterministic hash-derived Laplace-noised event-type counts
    (epsilon = 0.5) — reproducible noisy-release shape."""
    ev = _tbl(spark, sf_dir, "events")
    return pii.dp_noisy_counts(ev, ["event_type"], epsilon=0.5, salt="dp")


def q_calibration_bins(spark, sf_dir):
    """Reliability diagram + ECE of a length-based [0,1] score against
    the English-language label, 10 equal-width bins."""
    docs = _tbl(spark, sf_dir, "documents")
    scored = docs.select(
        F.least(
            F.greatest((F.col("n_chars") - 50) / 550.0, F.lit(0.0)), F.lit(1.0)
        ).alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return profiling.calibration_bins(scored, "score", "is_en", n_bins=10)


def q_filter_sweep(spark, sf_dir):
    """Quality-filter retention curve: docs and chars kept at nine
    length-score cutoffs, one pass."""
    docs = _tbl(spark, sf_dir, "documents")
    scored = docs.select(
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)).alias("score"),
        F.col("n_chars"),
    )
    return profiling.filter_sweep(
        scored, "score", [round(0.1 * i, 1) for i in range(1, 10)], weight_col="n_chars"
    )


def q_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth: cumulative distinct vocabulary vs
    cumulative tokens at 10 doc-id-range checkpoints."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.vocab_growth(docs, n_buckets=10)


def q_burstiness(spark, sf_dir):
    """Per-term Fano factor (zeros included) for the top-40 terms by
    document frequency — bursty topical terms vs even function words."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.burstiness(docs, k=40, min_docs=5)


def q_forecast_eval(spark, sf_dir):
    """Persistence and seasonal-naive (lag-24h) forecast backtest on
    hourly event counts per event type: MAE and RMSE."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.forecast_eval(ev, ts_col="ts", group_col="event_type", season_lag=24)




def q_prefix_jaccard_pairs(spark, sf_dir):
    """Exact Jaccard >= 0.95 near-dup pairs over word-token sets via
    AllPairs/ppjoin prefix filtering (df-ascending prefix candidates,
    true-overlap verification) — lossless, no all-pairs stage."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.prefix_jaccard_pairs(docs, threshold=0.95)


def q_entity_clusters(spark, sf_dir):
    """Entity resolution: transitive closure over blocked fuzzy-match
    edges (Levenshtein <= 2, nation-blocked perturbed customer names)
    — (node, entity_id) labels via HashMin connected components."""
    c = _tbl(spark, sf_dir, "customer")
    dirty = _dirty_customers(c)
    return joins.entity_clusters(
        dirty, c, "d_id", "d_name", "c_custkey", "c_name",
        ["c_nationkey"], max_dist=2,
    )




def q_incremental_rollup(spark, sf_dir):
    """Incremental rollup maintenance: per-(event_type, day) aggregates
    of the first time half merged with the second half's delta via
    merge_rollup — the oracle recomputes from raw, so the PASS is the
    merge(agg(A), agg(B)) == agg(A∪B) invariant itself. Value sums ride
    DECIMAL(28,10) so merge addition is associative-exact."""
    ev = _tbl(spark, sf_dir, "events")
    scal = ev.agg(
        F.floor(
            (F.min(F.unix_micros(F.col("ts"))) + F.max(F.unix_micros(F.col("ts")))) / 2
        ).cast("long").alias("__mid")
    )
    tagged = ev.crossJoin(F.broadcast(scal)).select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        F.col("value").cast("decimal(28,10)").alias("__v"),
        (F.unix_micros(F.col("ts")) <= F.col("__mid")).alias("__first"),
    )

    def _agg(part):
        return part.groupBy("event_type", "day").agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("__v").alias("sum_value"),
            F.min("__v").alias("min_value"),
            F.max("__v").alias("max_value"),
        )

    state = _agg(tagged.where(F.col("__first")))
    delta = _agg(tagged.where(~F.col("__first")))
    merged = profiling.merge_rollup(
        state, delta, ["event_type", "day"],
        {"cnt": "sum", "sum_value": "sum", "min_value": "min", "max_value": "max"},
    )
    return merged.select(
        "event_type",
        "day",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
        F.round(F.col("min_value").cast("double"), 6).alias("min_value"),
        F.round(F.col("max_value").cast("double"), 6).alias("max_value"),
    )


def q_corr_matrix(spark, sf_dir):
    """One-pass pairwise Pearson correlation matrix over the four
    lineitem measures, DECIMAL-exact sums."""
    li = _tbl(spark, sf_dir, "lineitem")
    return profiling.corr_matrix(
        li, ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    )


def q_mutual_info(spark, sf_dir):
    """Mutual information (nats) between event type and hour-of-day,
    with per-cell pointwise MI contributions."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.mutual_info(
        ev, "event_type", F.hour(F.col("ts")).cast("long"), "event_type", "hod"
    )


def q_lift_curve(spark, sf_dir):
    """Cumulative gains/lift by descending length-score bin against the
    English-language label."""
    docs = _tbl(spark, sf_dir, "documents")
    scored = docs.select(
        F.least(
            F.greatest((F.col("n_chars") - 50) / 550.0, F.lit(0.0)), F.lit(1.0)
        ).alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return profiling.lift_curve(scored, "score", "is_en", n_bins=10)




def q_topk_churn(spark, sf_dir):
    """Heavy-hitter churn: top-20 users by event count in each time
    half with ranks and entered/exited/stayed status."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.topk_churn(ev, "user_id", k=20)


def q_embedding_drift(spark, sf_dir):
    """Per-label embedding drift between even/odd id halves: cosine of
    mean vectors and L2 centroid shift from (label, dim)-grain sums."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.embedding_drift(emb)


def q_embedding_moments(spark, sf_dir):
    """Per-dimension mean/variance of the embedding table (whitening /
    ANN-index-health audit) — exact 1e-12-quantized integer rationals,
    bit-identical on any partitioning."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.embedding_moments(emb)


def q_ols2_fit(spark, sf_dir):
    """Per-returnflag two-feature OLS: extendedprice on quantity and
    discount, closed-form normal equations over DECIMAL-exact sums."""
    li = _tbl(spark, sf_dir, "lineitem")
    return windows.ols2_fit(li, "l_returnflag", "l_extendedprice", "l_quantity", "l_discount")




def q_json_schema_profile(spark, sf_dir):
    """JSON key discovery over events.props: coverage, null-literal
    rate, numeric-parse rate, distinct values per top-level key."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.json_schema_profile(ev, "props")


def q_expectations_audit(spark, sf_dir):
    """Declarative data-contract audit over orders: four expectations
    evaluated in one aggregation pass."""
    o = _tbl(spark, sf_dir, "orders")
    return profiling.expectations_audit(o, [
        ("totalprice_positive", F.col("o_totalprice") > 0),
        ("status_in_domain", F.col("o_orderstatus").isin("O", "F", "P")),
        ("orderdate_not_null", F.col("o_orderdate").isNotNull()),
        ("priority_format", F.col("o_orderpriority").rlike("^[1-5]-")),
    ])


def q_grouped_histogram(spark, sf_dir):
    """Per-event-type 20-bin histogram of value over the global range
    (shared axes for small-multiples reading)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.grouped_histogram(ev, "event_type", "value", n_bins=20)


def q_pit_state_join(spark, sf_dir):
    """Point-in-time join: probe each sampled event 30 minutes into the
    future against the user's SCD2 state history — the state that WILL
    be valid then (exercises version selection, not identity)."""
    ev = _tbl(spark, sf_dir, "events")
    hist = windows.scd2_intervals(ev)
    probes = ev.where(F.col("event_id") % 7 == 0).select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts")) + 1800 * 1000000).alias("probe_us"),
    )
    out = windows.pit_join(probes, hist, "user_id", "probe_us")
    return out.select(
        "event_id", "user_id", "probe_us", "state", "valid_from_us", "n_events"
    )




def q_cdc_upsert(spark, sf_dir):
    """CDC merge: base = even-key customer snapshot; changelog derived
    from odd/even rules (updates rename, deletes drop key%10==3);
    latest-change-wins then anti-join survivors union upserts."""
    c = _tbl(spark, sf_dir, "customer")
    base = c.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    changes = c.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("upd_"), F.col("c_name")).alias("c_name"),
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        (F.col("c_custkey") % 6).alias("seq"),
        F.when(F.col("c_custkey") % 10 == 3, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    out = joins.cdc_upsert(base, changes, ["c_custkey"], "seq")
    return out.select(
        "c_custkey", "c_name", F.round("c_acctbal", 6).alias("c_acctbal")
    )


def q_encoding_audit(spark, sf_dir):
    """Per-source encoding-damage rates: replacement chars, control
    chars, Latin-1 mojibake digraphs."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.encoding_audit(docs)


def q_token_fertility(spark, sf_dir):
    """Tokenizer fertility per language: tokens/word, chars/token."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.token_fertility(docs)


def q_calendar_heatmap(spark, sf_dir):
    """Per-event-type day-of-week x hour-of-day traffic heatmap with
    within-group shares."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.calendar_heatmap(ev, group_col="event_type")




def q_attribution_split(spark, sf_dir):
    """First/last/linear-touch attribution of purchases to the touch
    types seen in the preceding 24 h, per touch type."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.attribution_split(ev, conversion_type="purchase", lookback_sec=86400)


def q_split_leakage_audit(spark, sf_dir):
    """Eval-leakage audit: exact Jaccard >= 0.95 near-dup pairs
    classified by the train/val/test hash-split pair of their members."""
    docs = _tbl(spark, sf_dir, "documents")
    splits = sampling.hash_split(docs).select("doc_id", "split")
    pairs = dedup.prefix_jaccard_pairs(docs, threshold=0.95).select("id_a", "id_b")
    return dedup.split_leakage_audit(splits, pairs)


def q_group_quantiles(spark, sf_dir):
    """Exact per-event-type value quantiles (p25/50/75/90/99)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.group_quantiles(ev, "event_type", "value")


def q_assoc_rules(spark, sf_dir):
    """Association rules over (user, day) baskets of event types:
    support, confidence, lift per ordered pair."""
    ev = _tbl(spark, sf_dir, "events")
    basketed = ev.select(
        "user_id",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    return profiling.assoc_rules(basketed, ["user_id", "day"], "event_type")




def q_session_entry_exit(spark, sf_dir):
    """Session landing/exit scorecard per event type: entries, exits,
    bounces and their rates over 30-minute-gap sessions."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.session_entry_exit(ev, gap_sec=1800.0)


def q_dist_overlap(spark, sf_dir):
    """Pairwise histogram-intersection overlap of value distributions
    between event types (20 global bins)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.dist_overlap(ev, "event_type", "value", n_bins=20)


def q_label_centroid_dists(spark, sf_dir):
    """Pairwise cosine similarity between embedding label centroids."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.label_centroid_dists(emb)




def q_trimmed_mean(spark, sf_dir):
    """Per-event-type 5% trimmed mean of value (robust location)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.trimmed_mean(ev, "event_type", "value", trim=0.05)


def q_hapax_rate(spark, sf_dir):
    """Per-source lexical richness: vocab, hapax share, type-token
    ratio."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.hapax_rate(docs)


def q_reconciliation_audit(spark, sf_dir):
    """Order-total vs line-sum reconciliation per order priority:
    match counts under a 1-cent tolerance plus error magnitudes."""
    o = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    return joins.reconciliation_audit(
        o.select(F.col("o_orderkey").alias("okey"), "o_totalprice", "o_orderpriority"),
        li.select(F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount", "l_tax"),
        "okey",
        "o_totalprice",
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        group_col="o_orderpriority",
        tolerance=0.01,
    )


def q_burst_windows(spark, sf_dir):
    """Top-20 burstiest users: densest 5-minute sliding event window
    per user via a RANGE frame."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.burst_windows(ev, window_sec=300, k=20)




def q_target_encoding(spark, sf_dir):
    """m-estimate smoothed target encoding of event_type against
    value (m = 10)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.target_encoding(ev, "event_type", "value", m=10.0)


def q_hierarchical_shares(spark, sf_dir):
    """Region -> nation revenue contribution: totals, share of parent,
    parent share of grand total."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return profiling.hierarchical_shares(joined, "r_name", "n_name", "o_totalprice")


def q_negative_pairs(spark, sf_dir):
    """Deterministic hash negative sampling: 3 negatives per FIRST-DAY
    (user, event_type) positive (the sparse interaction slice — over
    the full span every user touches every type and the false-negative
    filter would empty the output), false negatives filtered."""
    ev = _tbl(spark, sf_dir, "events")
    d1 = ev.agg(F.min(F.date_trunc("day", F.col("ts"))).alias("__d"))
    day1 = ev.crossJoin(F.broadcast(d1)).where(
        F.date_trunc("day", F.col("ts")) == F.col("__d")
    )
    return sampling.negative_pairs(day1, "user_id", "event_type", k=3)




def q_mrr_sessions(spark, sf_dir):
    """Mean reciprocal rank of the first purchase within 30-minute-gap
    sessions (IR-style conversion depth)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.mrr_sessions(ev, target_type="purchase", gap_sec=1800.0)


def q_crosscorr_types(spark, sf_dir):
    """Lagged cross-correlation (lags -3..3 h) between hourly view and
    purchase counts — does viewing lead purchasing?"""
    ev = _tbl(spark, sf_dir, "events")
    return windows.crosscorr_series(ev, "ts", "event_type", "view", "purchase", max_lag=3)


def q_delta_attribution(spark, sf_dir):
    """Half-over-half event value delta decomposed into the top-20
    moving users with signed contribution shares."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.delta_attribution(ev, "user_id", "value", k=20)




def q_bernoulli_ht_audit(spark, sf_dir):
    """Horvitz-Thompson estimate vs truth for per-segment Bernoulli
    hash sampling of customer balances (rates 0.2/0.5 by segment
    class)."""
    c = _tbl(spark, sf_dir, "customer")
    return sampling.bernoulli_ht_audit(
        c, "c_custkey", "c_mktsegment", "c_acctbal",
        {"BUILDING": 0.2, "MACHINERY": 0.2, "AUTOMOBILE": 0.5,
         "HOUSEHOLD": 0.5, "FURNITURE": 0.5},
    )


def q_markov_accuracy(spark, sf_dir):
    """First-order Markov next-event baseline: argmax transitions fit
    on the first half, hit-rate scored on the second."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.markov_accuracy(ev)


def q_vocab_drift(spark, sf_dir):
    """Vocabulary drift between corpus halves: top-20 movers by |dp|
    with per-token Jensen-Shannon contributions."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.vocab_drift(docs, k=20, min_count=5)




def q_bootstrap_ci_mean(spark, sf_dir):
    """Deterministic Poisson-bootstrap 95% CI for the mean event value
    (50 hash-seeded resamples, one pass)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.bootstrap_ci_mean(ev, "event_id", "value", n_resamples=50)


def q_seasonal_quantile_bands(spark, sf_dir):
    """Hour-of-day percentile envelope (p10/p50/p90) of event value —
    the quantile companion to the mean-based seasonal baseline."""
    ev = _tbl(spark, sf_dir, "events")
    hod = ev.select(F.hour(F.col("ts")).cast("long").alias("hod"), "value")
    return profiling.group_quantiles(hod, "hod", "value", probs=[0.1, 0.5, 0.9])


_BM25_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["window", "agg", "sort"]),
    (2, ["vector", "scan"]),
    (3, ["stream", "batch", "merge"]),
]


def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval: top-10 docs per term query (4 literal queries),
    Lucene k1/b parameterization, query-vocab broadcast prefilter."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.bm25_topk(docs, _BM25_QUERIES, k1=1.2, b=0.75, topk=10)


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of cosine and L2 rankings for 4
    md5-seeded query vectors: top-10 fused neighbors each."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.rrf_fusion(emb, n_queries=4, top_n=50, k_rrf=60, topk=10)


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup: k-means clusters (k=8, 2 iters) then
    greedy keep-first pruning of within-cluster cosine ≥ 0.35 mates."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, k=8, iters=2, threshold=0.35)


def q_interval_proration(spark, sf_dir):
    """Prorate each session's value across the hour buckets it spans
    (overlap-weighted interval allocation)."""
    ev = _tbl(spark, sf_dir, "events")
    s = windows.sessionize(ev, "user_id", "ts", 1800.0, order_col="event_id")
    ivs = s.groupBy("user_id", "session_id").agg(
        F.min(F.col("ts").cast("double")).alias("s"),
        F.max(F.col("ts").cast("double")).alias("e"),
        F.sum(F.col("value").cast("decimal(38,12)")).cast("double").alias("v"),
    )
    return windows.interval_allocate(ivs, "s", "e", "v", bucket_seconds=3600)


def q_conformal_coverage(spark, sf_dir):
    """Split-conformal coverage audit of the per-type mean model on
    event values (hash split, alpha=0.1)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.conformal_coverage(ev, "event_id", "event_type", "value", alpha=0.1)


def q_quantile_normalize(spark, sf_dir):
    """Quantile-normalize per-language doc lengths onto the pooled
    length distribution; report mapped moments per language."""
    docs = _tbl(spark, sf_dir, "documents")
    return profiling.quantile_normalize_stats(docs, "lang", "n_chars")


def q_media_signature_buckets(spark, sf_dir):
    """pHash-style coarse media bucketing: 16-bit sign quantization of
    the byte-histogram features vs corpus means, bucket census."""
    media = multimodal.attach_media(_tbl(spark, sf_dir, "documents"))
    return multimodal.signature_buckets(media)


def q_coactivity_kcore(spark, sf_dir):
    """3-round k-core peel (k=40, just under the median degree so the
    cascade is non-trivial) of the user co-activity graph —
    convergence trace (round, n_nodes, n_edges)."""
    ev = _tbl(spark, sf_dir, "events")
    edges = graph.coactivity_edges(
        ev, step_sec=3600, min_shared=2, max_bucket_nodes=200
    )
    return graph.kcore_peel(edges, k=40, rounds=3)


def q_weight_ess(spark, sf_dir):
    """Kish effective-sample-size diagnostics of doc-length weights
    per language stratum."""
    docs = _tbl(spark, sf_dir, "documents")
    return sampling.weight_diagnostics(docs, "lang", "n_chars")


def q_cvm_drift(spark, sf_dir):
    """Cramér-von Mises drift between event-time halves per type —
    the integral companion to ks_drift."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.cvm_drift(ev)


def q_table_fingerprint(spark, sf_dir):
    """Order-independent per-source content checksums of the documents
    table (additive md5 row hashes mod 2^61−1)."""
    docs = _tbl(spark, sf_dir, "documents")
    return profiling.group_fingerprint(docs, "source", ["doc_id", "lang", "n_chars"])


def q_ipf_raking(spark, sf_dir):
    """2-iteration IPF raking of lang×source doc counts toward uniform
    marginals — per-cell balancing weights."""
    docs = _tbl(spark, sf_dir, "documents")
    return profiling.ipf_raking(docs, "lang", "source", iters=2)


def q_srm_audit(spark, sf_dir):
    """Sample-ratio-mismatch chi-square per event type for the
    md5-half A/B unit split (A/A harness: nothing should flag)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.srm_audit(ev, "user_id", "event_type")


def q_drift_fdr(spark, sf_dir):
    """BH-FDR-adjusted KS drift flags per event type: asymptotic
    Kolmogorov p from ks_drift, then Benjamini-Hochberg control."""
    ev = _tbl(spark, sf_dir, "events")
    ks = profiling.ks_drift(ev)
    m_eff = F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2"))
    p = F.least(
        F.lit(1.0), 2.0 * F.exp(-2.0 * m_eff * F.col("ks") * F.col("ks"))
    )
    return profiling.bh_adjust(ks.select("name", p.alias("p_raw")), "p_raw", "name")


def q_freshness_audit(spark, sf_dir):
    """Per-type staleness vs the global max timestamp + trailing-24h
    event counts (deterministic, no wall clock)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.freshness_audit(ev, "event_type", "ts", window_sec=86400)


def q_policy_replay(spark, sf_dir):
    """Offline bandit replay: deterministic md5 target policy over
    event-type arms, replay-mean of matched rewards per arm."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.policy_replay(ev, "user_id", "event_type", "value")


def q_growth_accounting(spark, sf_dir):
    """Weekly new/retained/resurrected/churned user ledger from the
    events table."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.growth_accounting(ev, "user_id", "ts", period_sec=604800)


def q_vocab_coverage(spark, sf_dir):
    """Token-mass coverage of the top-k vocabulary at k=10/100/1000 —
    the tokenizer-vocabulary sizing curve."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.vocab_coverage(docs, ks=[10, 100, 1000])


def q_ab_lift(spark, sf_dir):
    """Welch-t A/B lift per event type under the md5-half unit split
    (A/A harness: lifts should hover near 0)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.ab_lift(ev, "user_id", "event_type", "value")


def q_simpson_check(spark, sf_dir):
    """Per-returnflag vs pooled OLS slope of extendedprice on quantity
    — Simpson's-paradox sign-flip detector."""
    li = _tbl(spark, sf_dir, "lineitem")
    return profiling.simpson_check(li, "l_returnflag", "l_quantity", "l_extendedprice")


def q_post_stratified_mean(spark, sf_dir):
    """Post-stratified mean event value with uniform stratum targets
    vs the raw mean."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.post_stratified_mean(ev, "event_type", "value")


def q_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen/Chapman population estimate from first-quarter
    vs last-quarter user captures — feed coverage."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.capture_recapture(ev, "user_id", "ts")


def q_powerlaw_alpha(spark, sf_dir):
    """Hill tail-exponent estimate over token frequencies (xmin=5) —
    the Zipf-exponent check on corpus naturalness."""
    docs = _tbl(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.word_tokens(F.col("text"))).alias("token"))
    cnt = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    return profiling.powerlaw_alpha(cnt, "n", xmin=5)


def q_scale_drift(spark, sf_dir):
    """Variance-ratio (scale) drift between event-time halves per type
    — the spread companion to ks/cvm drift."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.scale_drift(ev)


def q_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap between tf- and df-rankings of the top-50
    vocabulary (p=0.5, exact dyadic weights)."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.rbo_rankings(docs, k=50, p=0.5)


def q_churn_auc(spark, sf_dir):
    """Recency-baseline churn backtest on customers: AUC of last-order
    recency for predicting second-half reorders (the events table has
    no churners — every synthetic user stays active — so the sparse
    order history is the non-vacuous surface)."""
    orders = _tbl(spark, sf_dir, "orders")
    return windows.churn_baseline_auc(orders, "o_custkey", "o_orderdate")


def q_session_gap_sweep(spark, sf_dir):
    """One-pass sessionization-threshold sweep (15/30/60 min):
    session counts and densities per candidate gap."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.session_gap_sweep(ev, "user_id", "ts", gaps_sec=[900, 1800, 3600])


def q_langid_kappa(spark, sf_dir):
    """Cohen's kappa of the stopword-panel language heuristic against
    the labeled lang column — chance-corrected agreement. The true
    label rides through language_id's id_col slot, so prediction and
    truth stay in ONE map-only projection (no doc-grain self-join)."""
    docs = _tbl(spark, sf_dir, "documents")
    pred = text.language_id(docs, id_col="lang")
    return profiling.cohens_kappa(pred, "lang", "lang_pred")


def q_event_study(spark, sf_dir):
    """Activity/value aligned to each user's first purchase (±5-day
    offsets) — the event-study curve."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.event_study(ev, "user_id", "ts", "event_type", "purchase", "value")


def q_dedup_threshold_sweep(spark, sf_dir):
    """One-pass dedup-threshold sweep over exact n-gram Jaccard pairs:
    surviving pairs and keep-first drops at 0.1/0.2/0.3. Runs on a
    deterministic 1-in-5 doc sample — the same guard as
    prefix_jaccard_sample (BASELINE.md): this synthetic corpus is
    adversarially dup-heavy, and at a 0.05 capture threshold the FULL
    sf0.1 pair table is near-clique-quadratic in the OUTPUT (measured:
    >10 min on both engines), a property of the data, not the sweep."""
    d = (
        _tbl(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    pairs = dedup.ngram_jaccard_pairs(d, n=8, threshold=0.05)
    return dedup.jaccard_threshold_sweep(pairs, [0.1, 0.2, 0.3])


def q_did_estimate(spark, sf_dir):
    """Difference-in-differences: heavily-error-affected users (>= 15
    error events — every synthetic user has SOME errors, so the
    threshold carves a real control group) vs controls, before/after
    the event-time midpoint."""
    ev = _tbl(spark, sf_dir, "events")
    treated = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") >= 15)
        .select("user_id")
    )
    return profiling.did_estimate(ev, "user_id", treated, "value", "ts")


def q_source_similarity(spark, sf_dir):
    """Pairwise TF-IDF cosine between source term profiles — the
    near-mirror detector at source grain."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.source_similarity(docs, "source", "text")


def q_absorption_prob(spark, sf_dir):
    """P(reach 'purchase' within 3 transitions) per starting state
    under the fitted first-order Markov chain."""
    ev = _tbl(spark, sf_dir, "events")
    return graph.absorption_prob(ev, "user_id", "ts", "event_type", "purchase", steps=3)


def q_bfs_reach(spark, sf_dir):
    """Landmark BFS: nodes reachable within 1..3 hops of the 3
    md5-smallest users on the co-activity graph."""
    ev = _tbl(spark, sf_dir, "events")
    edges = graph.coactivity_edges(
        ev, step_sec=3600, min_shared=2, max_bucket_nodes=200
    )
    return graph.bfs_reach(edges, n_seeds=3, hops=3)


def q_audience_stability(spark, sf_dir):
    """Day-over-day Jaccard of the active-user set — audience
    stability curve."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.audience_stability(ev, "user_id", "ts", period_sec=86400)


def q_max_drawdown(spark, sf_dir):
    """Maximum drawdown of the cumulative daily event-value series."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.max_drawdown(ev, "value", "ts", bucket_sec=86400)


def q_zonemap_prune(spark, sf_dir):
    """Zone-map pruning effectiveness: natural vs sorted chunk layouts
    of orders under a totalprice range predicate."""
    orders = _tbl(spark, sf_dir, "orders")
    return layout.zonemap_prune_audit(
        orders, "o_totalprice", "o_orderkey", chunk_rows=64, lo=50000.0, hi=100000.0
    )


def q_incremental_join(spark, sf_dir):
    """Incremental join-view maintenance audit: orders x lineitem split
    at a key cutoff; delta components vs full recompute."""
    orders = _tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    # deterministic split on the join key itself: low keys = base
    cutoff = 30000
    ob = orders.where(F.col("o_orderkey") <= cutoff)
    od = orders.where(F.col("o_orderkey") > cutoff)
    lb = li.where(F.col("o_orderkey") <= cutoff)
    ld = li.where(F.col("o_orderkey") > cutoff)
    return joins.incremental_join_audit(
        ob.select("o_orderkey"), od.select("o_orderkey"),
        lb, ld, "o_orderkey", "l_extendedprice",
    )


def q_theil_decomposition(spark, sf_dir):
    """Theil-T inequality of doc lengths decomposed into between- and
    within-source components."""
    docs = _tbl(spark, sf_dir, "documents")
    return profiling.theil_decomposition(docs, "source", "n_chars")


def q_wasserstein_drift(spark, sf_dir):
    """1-D earth-mover distance between event-time halves per type —
    drift in value units (completes KS/CvM/W1)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.wasserstein_drift(ev)


def q_variance_decomposition(spark, sf_dir):
    """Two-factor eta-squared decomposition of event value by
    (event_type, hour-of-day)."""
    ev = _tbl(spark, sf_dir, "events")
    withhod = ev.select(
        "event_type", F.hour(F.col("ts")).cast("long").alias("hod"), "value"
    )
    return profiling.variance_decomposition(withhod, "event_type", "hod", "value")


def q_ship_lag_percentiles(spark, sf_dir):
    """Order-to-ship lag percentiles (days) per order priority — the
    cross-table cycle-time SLA view."""
    orders = _tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
    )
    lag = (
        F.unix_micros(F.col("l_shipdate").cast("timestamp"))
        - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    ) / 86400000000.0
    joined = li.join(orders, "o_orderkey").select(
        "o_orderpriority", lag.alias("lag_days")
    )
    return profiling.group_quantiles(
        joined, "o_orderpriority", "lag_days", probs=[0.5, 0.9, 0.99]
    )


def q_wilson_ci(spark, sf_dir):
    """Wilson 95% CI for the per-type share of positive-value events
    (the proportion CI that behaves at extreme p)."""
    ev = _tbl(spark, sf_dir, "events")
    flagged = ev.select(
        "event_type", F.when(F.col("value") > 0, 1).otherwise(0).alias("pos")
    )
    return profiling.wilson_ci(flagged, "event_type", "pos")


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend z per event type over daily value
    sums — the distribution-free companion to theilsen_trend."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.mann_kendall(ev, "event_type", "value", "ts", bucket_sec=86400)


def q_peak_detection(spark, sf_dir):
    """Local-peak census over hourly per-type event counts (strict
    neighbour dominance + 1.5x prominence)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.peak_detection(ev, "event_type", "ts", 3600, 1.5)


def q_hashing_trick_audit(spark, sf_dir):
    """Feature-hashing collision audit at 2^10 buckets: token and
    mass collision shares."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.hashing_trick_audit(docs, bits=10)


def q_path_conformance(spark, sf_dir):
    """Process-mining conformance: Levenshtein distance histogram of
    session paths vs the canonical view->click->purchase flow."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.path_conformance(ev, canonical="vcp")


def q_schema_drift(spark, sf_dir):
    """JSON key drift between event-time halves: new/dropped/stable
    keys with per-half prevalence."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.schema_drift(ev, "props", "ts")


def q_ratio_ci(spark, sf_dir):
    """Cluster-aware CI for mean value per event with users as
    sampling units (delta-method ratio estimator)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.cluster_ratio_ci(ev, "event_type", "user_id", "value")


def q_logrank_test(spark, sf_dir):
    """Log-rank test of signup→purchase conversion between md5-half
    user cohorts (A/A harness: chi2 should be small)."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.logrank_test(ev)


def q_qq_shift_fit(spark, sf_dir):
    """QQ line between event-time halves per type: slope = scale
    ratio, intercept = location shift (drift decomposition)."""
    ev = _tbl(spark, sf_dir, "events")
    return profiling.qq_shift_fit(ev)


def q_chao1_richness(spark, sf_dir):
    """Chao1 unseen-vocabulary estimate from singleton/doubleton token
    counts — coverage from one snapshot."""
    docs = _tbl(spark, sf_dir, "documents")
    return profiling.chao1_richness(docs)


def q_quality_rule_pack(spark, sf_dir):
    """Gopher/C4 heuristic quality-rule audit: corpus pass rate per
    rule plus the all-rules conjunction."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.quality_rules(docs)


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-ngram importance weights toward the 'en' slice:
    top-100 documents by log importance weight."""
    docs = _tbl(spark, sf_dir, "documents")
    return sampling.dsir_weights(docs, target_col="lang", target_value="en")


def q_packing_efficiency(spark, sf_dir):
    """Sequence-packing audit at context lengths 128/512/2048:
    concat-and-chunk fill rate and split counts vs naive padding."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.packing_efficiency(docs, context_lens=[128, 512, 2048])


def q_token_budget_alloc(spark, sf_dir):
    """Per-source token-budget water-filling (sqrt temperature,
    2-epoch cap, budget = half the corpus)."""
    docs = _tbl(spark, sf_dir, "documents")
    return sampling.token_budget_alloc(docs, group_col="source", max_epochs=2)


def q_shard_balance_audit(spark, sf_dir):
    """md5-hash shard balance at 64 shards: doc/token chi2 vs uniform
    and the max-shard straggler ratio."""
    docs = _tbl(spark, sf_dir, "documents")
    return layout.shard_balance(docs, n_shards=64)


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-grain exact dedup with per-document reconstruction
    stats — the Dolma/CCNet paragraph dedupe, reported before running
    it (dedup.paragraph_dedup_stats)."""
    return dedup.paragraph_dedup_stats(_tbl(spark, sf_dir, "documents"))


def q_crossdoc_spans(spark, sf_dir):
    """Corpus-wide duplicated-SPAN coverage per document (Lee et al.
    2022 span-grain semantics, suffix-array-free): positions whose
    8-token gram repeats corpus-wide, merged into maximal spans."""
    return dedup.crossdoc_span_stats(
        _tbl(spark, sf_dir, "documents"), k=8, min_count=2
    )


def q_ppl_bucket_mix(spark, sf_dir):
    """CCNet-style perplexity-bucket mix: per-language head/middle/tail
    terciles of the corpus-fit bigram LM score, with doc and bigram-mass
    shares per tier."""
    return text.ppl_bucket_mix(
        _tbl(spark, sf_dir, "documents"), group_col="lang", buckets=3
    )


def q_tokenizer_drift(spark, sf_dir):
    """Tokenizer-compression drift per source vs the corpus baseline
    (chars/token, one exact signed integer ratio)."""
    return text.tokenizer_drift(_tbl(spark, sf_dir, "documents"), group_col="source")


def q_eval_contamination(spark, sf_dir):
    """Benchmark decontamination at eval-suite grain: docs 0-8 stand in
    for three held-out benchmarks (doc_id % 3); per-benchmark hit
    counts/rates over distinct word 3-grams."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 9).select(
        F.concat(F.lit("b"), (F.col("doc_id") % 3).cast("string")).alias(
            "benchmark"
        ),
        "text",
    )
    return text.contamination_by_benchmark(docs, bench, n=3)


def q_cluster_keep_best(spark, sf_dir):
    """Keep-best representative per near-dup cluster: exact-Jaccard
    pair edges → connected components → argmax quality_score per
    cluster (id tiebreak) — the Dolma/RefinedWeb keep policy.
    VERIFICATION path: the exact all-pairs edge input is quadratic in
    dup-group size; the 100 TB composition is q_cluster_keep_best_lsh."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.ngram_jaccard_pairs(d, n=8, threshold=0.25)
    clusters = dedup.connected_components(pairs)
    scored = text.quality_score(_tbl(spark, sf_dir, "documents"))
    return dedup.cluster_representatives(clusters, scored)


def q_cluster_keep_best_lsh(spark, sf_dir):
    """Keep-best representative per near-dup cluster at corpus scale
    (VERDICT r9 #3): MinHash signatures → banded LSH candidates →
    connected components → argmax quality_score per cluster — the
    same keep policy as q_cluster_keep_best but with every stage
    shuffle-safe (banded candidates, never all-pairs; the
    dedup_clusters vs dedup_clusters_lsh precedent applied to the
    keep stage). Same LSH parameters as q_dedup_clusters_lsh so the
    candidate volume counters in bench.py speak for this path too."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(d, n=8, num_hashes=32, bands=16, threshold=0.2)
    clusters = dedup.connected_components(pairs)
    scored = text.quality_score(_tbl(spark, sf_dir, "documents"))
    return dedup.cluster_representatives(clusters, scored)


def q_cross_source_dup(spark, sf_dir):
    """Cross-source exact-duplication flow matrix: shared digest groups
    per unordered source pair (within-source dups on the diagonal).
    Every 7th doc is re-emitted under a synthetic 'mirror' source (the
    normalize_dedup-style injection) so the flow matrix is exercised
    even when the generated corpus has no organic cross-source dups."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirrored = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    return dedup.cross_source_duplication(docs.unionByName(mirrored))


def q_dup_cluster_sizes(spark, sf_dir):
    """Exact-dup cluster-size spectrum + removable doc/char mass — the
    count-of-counts view that picks a dedup strategy. Injected copies
    (every 5th doc once more, every 15th twice more) guarantee a
    non-trivial size spectrum even when the generated corpus has no
    organic exact dups (training_data_prep-style injection)."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    dup1 = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    dup2 = d.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 15_000_000).alias("doc_id"), "text"
    )
    return dedup.dup_cluster_sizes(d.unionByName(dup1).unionByName(dup2))


def q_template_prefix(spark, sf_dir):
    """Templated-prefix detection per source: share of docs opening
    with the source's most common 8-token prefix."""
    return text.template_prefix_share(
        _tbl(spark, sf_dir, "documents"), group_col="source", k=8
    )


# --- Round-10 additions ---


def q_dup_line_stats(spark, sf_dir):
    """Gopher duplicate-line fraction / duplicate-line char fraction
    within each document. Every 9th doc gets its first line re-appended
    twice (joined with newlines) so internal line repetition is
    exercised even when the generated corpus has none."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    first_line = F.element_at(F.split(F.col("text"), "\n"), 1)
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat_ws("\n", F.col("text"), first_line, first_line),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.dup_line_stats(decorated)


def q_quality_threshold_sweep(spark, sf_dir):
    """Quality-filter calibration sweep: docs/tokens kept per cutoff
    t in {0.1 .. 0.9}."""
    return text.quality_threshold_sweep(_tbl(spark, sf_dir, "documents"))


def q_blocklist_audit(spark, sf_dir):
    """C4-style blocklist phrase audit per source: hit docs, hit rate,
    occurrence counts per phrase. Every 13th doc gets a synthetic
    boilerplate footer so the phrase rows are non-degenerate even when
    the generated corpus is clean."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "source")
    decorated = d.select(
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" All Rights Reserved. See our Privacy Policy, click here {"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return text.blocklist_audit(decorated)


def q_contamination_spans(spark, sf_dir):
    """GPT-3-style sliding 13-gram decontamination at span grain: docs
    0-8 stand in for the held-out benchmark; padded collision windows
    merge into removal spans per corpus doc."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 9).select("text")
    return dedup.contamination_span_stats(docs, bench, k=13, pad=20)


def q_boundary_overlap(spark, sf_dir):
    """Split-document boundary pairs: doc A's last 8 word tokens equal
    doc B's first 8. Every 11th doc gets a synthetic continuation doc
    (its tail 8 tokens + fresh text) so real chains exist in the
    corpus under test."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    toks = text.word_tokens(F.col("text"))
    synth = d.where((F.col("doc_id") % 11 == 0) & (F.size(toks) >= 8)).select(
        (F.col("doc_id") + 11_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat_ws(" ", F.slice(toks, F.size(toks) - 7, 8)),
            F.lit("continuation shard of the preceding record body"),
        ).alias("text"),
    )
    return dedup.boundary_overlap_pairs(d.unionByName(synth), k=8, max_occ=50)


def q_pipeline_roi(spark, sf_dir):
    """Fused quality-gate -> exact-dedup -> sqrt-mix ROI audit at
    source grain. Every 6th doc is re-emitted under its own source
    (id-shifted) so the dedup stage removes real mass."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dup = d.where(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"), "text", "source"
    )
    return sampling.pipeline_roi(d.unionByName(dup))


def q_cluster_balanced_sample(spark, sf_dir):
    """SemDeDup-companion cluster-balanced selection: 10 md5-smallest
    members per deterministic k-means cluster (k=8, 2 iters)."""
    return similarity.cluster_balanced_sample(
        _tbl(spark, sf_dir, "embeddings"), k=8, iters=2, per_cluster=10
    )


def q_ivf_list_balance(spark, sf_dir):
    """IVF inverted-list balance audit over the deterministic k-means
    partition: per-list size, share, load factor."""
    return similarity.ivf_list_balance(
        _tbl(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def q_dup_quality_bias(spark, sf_dir):
    """Duplication-quality bias: mean quality per exact-dup group-size
    bucket, all members vs kept representatives. Same injected copies
    as dup_cluster_sizes so the buckets are non-degenerate."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    dup1 = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    dup2 = d.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 15_000_000).alias("doc_id"), "text"
    )
    return dedup.dup_quality_bias(d.unionByName(dup1).unionByName(dup2))


def q_cluster_source_purity(spark, sf_dir):
    """Near-dup cluster source-purity histogram over the banded LSH
    clustering (same parameters as dedup_clusters_lsh)."""
    docs = _tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(d, n=8, num_hashes=32, bands=16, threshold=0.2)
    clusters = dedup.connected_components(pairs)
    return dedup.cluster_source_purity(clusters, docs)


def q_bigram_entropy_rate(spark, sf_dir):
    """Per-source word-stream entropy rate H(w2|w1) = H2 - H1 in
    bits/word — the corpus-redundancy signal."""
    return text.bigram_entropy_rate(_tbl(spark, sf_dir, "documents"))


def q_script_mix(spark, sf_dir):
    """Per-source Unicode script/class composition of the codepoint
    stream (Latin/Cyrillic/Greek/CJK/Arabic/digit/whitespace/other
    fractions) — the scraper-break / tokenizer-risk drift signal."""
    return text.script_mix(_tbl(spark, sf_dir, "documents"))


def q_cramers_v(spark, sf_dir):
    """Source × language association (quantized-exact chi² and
    Cramér's V) — are the two stratification keys independent?"""
    return profiling.cramers_v(
        _tbl(spark, sf_dir, "documents"), "source", "lang"
    )


def q_fim_split_audit(spark, sf_dir):
    """FIM data-prep audit: per source, deterministic fill-in-the-
    middle transform coverage, char-budget split, short-middle rate."""
    return sampling.fim_split_audit(_tbl(spark, sf_dir, "documents"))


def q_rp_distortion(spark, sf_dir):
    """SRP signature fidelity: mean/min/max true cosine per hamming
    bucket on a bounded pair sample — the pre-index JL sanity check."""
    return similarity.rp_distortion(
        _tbl(spark, sf_dir, "embeddings"), dim=64, planes=16, max_id=192
    )


def q_ivf_probe_sweep(spark, sf_dir):
    """IVF tuning sweep: exact recall@10 and corpus scanned-fraction
    per nprobe in {1,2,4,8} over the production centroid assignment."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 211 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ivf_probe_sweep(qs, emb, k=10, nlist=16)


def q_shard_dup_locality(spark, sf_dir):
    """Shard-local vs global dedup visibility: intra/cross-shard split
    of exact-dup pairs under the writer's md5 shard layout. Same
    injected copies as dup_cluster_sizes so groups are non-degenerate."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    dup1 = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    dup2 = d.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 15_000_000).alias("doc_id"), "text"
    )
    return dedup.shard_dup_locality(
        d.unionByName(dup1).unionByName(dup2), n_shards=64
    )


def q_quant_recall(spark, sf_dir):
    """Retrieval-grade quantization audit: per-query exact-top-10
    recall of the int8-style dequantized corpus (asymmetric serving)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.quant_recall(qs, emb, k=10, levels=255)


def q_frame_dup_rate(spark, sf_dir):
    """Cross-media duplicate-frame audit at 256-byte frame grain. Same
    injected copies as the dup queries so re-uploads exist: a copied
    media's frames are all cross-media duplicates."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"
    )
    media = multimodal.attach_media(d.unionByName(dup))
    return multimodal.frame_dup_rate(media, frame_bytes=256)


def q_byte_entropy(spark, sf_dir):
    """Per-source byte-distribution entropy (bits/byte) + printable
    fraction — the compression-proxy / binary-garbage tripwire."""
    return text.byte_entropy(_tbl(spark, sf_dir, "documents"))


def q_cluster_quality_bias(spark, sf_dir):
    """Near-dup-grain quality bias over the banded LSH clustering
    (same parameters as dedup_clusters_lsh / cluster_source_purity)."""
    docs = _tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(d, n=8, num_hashes=32, bands=16, threshold=0.2)
    clusters = dedup.connected_components(pairs)
    return dedup.cluster_quality_bias(clusters, docs)


def q_rule_disagreement(spark, sf_dir):
    """Pairwise quality-filter redundancy matrix (disagreement counts
    + McNemar's statistic per rule pair) over the Gopher/C4 pack."""
    return text.rule_disagreement(_tbl(spark, sf_dir, "documents"))


def q_kendall_tau(spark, sf_dir):
    """Kendall's tau-b between click and view hourly volumes per day
    — exact concordance counts, bridge-rounded statistic."""
    return profiling.kendall_tau(_tbl(spark, sf_dir, "events"))


def q_source_kl(spark, sf_dir):
    """Per-source unigram KL divergence from the corpus mixture —
    the mix-health scalar behind importance-weighted sampling."""
    return text.source_kl(_tbl(spark, sf_dir, "documents"))


def q_l_diversity(spark, sf_dir):
    """l-diversity audit of (mktsegment, nationkey) quasi-identifiers
    with acctbal sign-bucket as the sensitive attribute — k_anonymity's
    homogeneity-attack companion."""
    c = _tbl(spark, sf_dir, "customer").withColumn(
        "balance_band",
        F.when(F.col("c_acctbal") < 0, F.lit("debt"))
        .when(F.col("c_acctbal") < 5000, F.lit("low"))
        .otherwise(F.lit("high")),
    )
    return pii.l_diversity(
        c, ["c_mktsegment", "c_nationkey"], "balance_band", [2, 3]
    )


def q_embedding_anisotropy(spark, sf_dir):
    """Cross-dim anisotropy: covariance top eigenvalue (3-step power
    iteration) and its share of total variance."""
    return similarity.embedding_anisotropy(
        _tbl(spark, sf_dir, "embeddings"), iters=3
    )


def q_doc_gini(spark, sf_dir):
    """Per-source Gini of token mass across documents — broad base or
    three giant docs?"""
    return text.doc_gini(_tbl(spark, sf_dir, "documents"))


def q_forecast_mase(spark, sf_dir):
    """MASE of the seasonal-naive hourly-count forecaster vs the
    persistence baseline per event type — one exact integer ratio."""
    ev = _tbl(spark, sf_dir, "events")
    return windows.forecast_mase(
        ev, ts_col="ts", group_col="event_type", season_lag=24
    )


def q_char_rep_rate(spark, sf_dir):
    """Gopher dup-10-gram repetition rate at char grain per source
    (stride-4 window sample; exact integer ratios; -1.0 sentinel for
    sources with no ≥10-char doc)."""
    return text.char_rep_rate(
        _tbl(spark, sf_dir, "documents"), k=10, stride=4
    )


def q_url_dedup(spark, sf_dir):
    """RefinedWeb URL-grain dedup audit: deterministically
    link-decorated docs (the link_density decoration — doc_id % 50 /
    % 20 hosts make REAL cross-doc URL collisions), first-URL
    canonicalization, global first-fetch-wins keep rule, per-source
    drop stats."""
    return dedup.url_dedup(_link_decorated(spark, sf_dir))


def q_doc_disposition(spark, sf_dir):
    """Dolma-style fused pipeline audit: one disposition per doc
    (dup > low_quality > blocked > keep, pipeline priority order) over
    blocklist-decorated docs (the blocklist_audit %13 footer keeps the
    blocked class non-degenerate), histogrammed per source with exact
    fractions."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "source")
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" All Rights Reserved. See our Privacy Policy, click here {"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return dedup.doc_disposition(decorated)


def q_knn_stability(spark, sf_dir):
    """kNN-overlap stability of a 16-d real random projection vs the
    full 64-d space on a bounded sample: (overlap@10, n_queries)
    histogram — the JL check at retrieval grain."""
    return similarity.knn_stability(
        _tbl(spark, sf_dir, "embeddings"), dim=64, planes=16, k=10, max_id=128
    )


def q_bloom_fpr_audit(spark, sf_dir):
    """Bloom-filter dedup sizing audit: corpus-measured load factor and
    FP-prone digest rate for a 4096-bit / 3-hash filter over content
    digests."""
    return sketches.bloom_fpr_audit(
        _tbl(spark, sf_dir, "documents"), m=4096, j=3
    )


def q_cross_shard_novelty(spark, sf_dir):
    """Incremental-ingest novelty curve: per id-order shard of 100
    docs, how much content is already seen in earlier shards (digest
    first-occurrence grain; within-shard dups excluded by design)."""
    return dedup.cross_shard_novelty(
        _tbl(spark, sf_dir, "documents"), shard_size=100
    )


def q_near_dup_family_agreement(spark, sf_dir):
    """Cross-family near-dup agreement: MinHash-LSH (same params as
    dedup_clusters_lsh) vs SimHash (same params as simhash_near_pairs)
    pair sets, full-outer joined into both/only/only counts + set
    Jaccard."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.near_dup_family_agreement(
        d, n=8, num_hashes=32, bands=16, threshold=0.2,
        max_hamming=3, bits=60, blocks=4,
    )


def q_source_containment(spark, sf_dir):
    """Cross-source 8-gram containment matrix: shared grams and
    |A∩B|/min(|A|,|B|) per source pair — the scraped-from-whom
    provenance detector between exact digest flow and TF-IDF topic
    similarity."""
    return dedup.source_containment(_tbl(spark, sf_dir, "documents"), n=8)


def q_dup_run_lengths(spark, sf_dir):
    """Batch-replay detector: histogram of contiguous-duplicate run
    lengths in id order (shard-bounded windows). Docs are re-emitted
    at adjacent synthetic ids (every 37th doubled, every 111th
    tripled) so runs exist even when the corpus has no organic
    adjacent dups — the cross_source_dup injection precedent."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.select((F.col("doc_id") * 4).alias("doc_id"), "text")
    rep1 = d.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") * 4 + 1).alias("doc_id"), "text"
    )
    rep2 = d.where(F.col("doc_id") % 111 == 0).select(
        (F.col("doc_id") * 4 + 2).alias("doc_id"), "text"
    )
    return dedup.dup_run_lengths(
        base.unionByName(rep1).unionByName(rep2), shard_size=1000
    )


def q_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score for the length-based
    score vs the English label (same score contract as
    calibration_bins; integer 0..550 scale)."""
    docs = _tbl(spark, sf_dir, "documents")
    scored = docs.select(
        F.least(
            F.greatest(F.col("n_chars") - 50, F.lit(0)), F.lit(550)
        ).cast("long").alias("score_cents"),
        (F.col("lang") == "en").cast("long").alias("is_en"),
    )
    return profiling.brier_decomposition(
        scored, "score_cents", "is_en", scale=550, n_bins=10
    )


def q_language_mix(spark, sf_dir):
    """Mixed-language doc detector: stopword-panel langid per line,
    per-source disagreement fractions. doc_id % 7 gets a German banner
    line (deterministic decoration — the pii_scrub precedent)."""
    docs = _tbl(spark, sf_dir, "documents")
    deco = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\nder und die das ist nicht mit ein banner zeile"),
            ).otherwise(F.lit("")),
        ),
    )
    return text.language_mix(deco)


def q_dup_degree_spectrum(spark, sf_dir):
    """Degree spectrum of the LSH near-dup candidate graph — the
    pre-closure template-hub detector (same LSH parameters as
    dedup_clusters_lsh, so the candidate counters speak for it)."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(
        d, n=8, num_hashes=32, bands=16, threshold=0.2
    )
    return dedup.dup_degree_spectrum(pairs)


def q_markup_stats(spark, sf_dir):
    """Per-source markdown-structure audit over deterministically
    markup-decorated docs (doc_id % 5 gets a heading/list/fence/table
    block — the pii_scrub decoration precedent)."""
    docs = _tbl(spark, sf_dir, "documents")
    deco = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(
                    "\n# Title\n- item one\n- item two\n```\ncode\n```\n"
                    "| a | b |\n> quoted\n"
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return text.markup_stats(deco)


def q_link_density(spark, sf_dir):
    """Per-source URL/domain audit over deterministically link-decorated
    docs (the pii_scrub decoration precedent: the synthetic corpus has
    no URLs, so a pure function of doc_id plants them identically on
    both engines)."""
    return text.link_density(_link_decorated(spark, sf_dir))


def q_chunk_overlap(spark, sf_dir):
    """Partial-overlap doc-pair histogram at 32-token chunk grain —
    the syndication/boilerplate detector between paragraph dedup and
    whole-doc MinHash. Integer-exact, stop-digest capped."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.chunk_overlap_profile(
        d, chunk_tokens=32, max_occ=50, min_shared=2
    )


def q_degree_assortativity(spark, sf_dir):
    """Newman degree assortativity of the user co-activity graph —
    exact closed form, no iteration; the organic-vs-scripted structure
    audit."""
    ev = _tbl(spark, sf_dir, "events")
    edges = graph.coactivity_edges(
        ev, step_sec=3600, min_shared=2, max_bucket_nodes=200
    )
    return graph.degree_assortativity(edges)


def q_t_closeness(spark, sf_dir):
    """t-closeness audit of (mktsegment, nationkey) quasi-identifiers:
    EMD between each class's ordered balance-band distribution and the
    corpus distribution — the skewness-attack lens after k_anonymity /
    l_diversity."""
    c = _tbl(spark, sf_dir, "customer").withColumn(
        "balance_rank",
        F.when(F.col("c_acctbal") < 0, F.lit(1))
        .when(F.col("c_acctbal") < 5000, F.lit(2))
        .otherwise(F.lit(3)),
    )
    return pii.t_closeness(
        c, ["c_mktsegment", "c_nationkey"], "balance_rank", 3,
        thresholds=[(1, 10), (1, 5)],
    )


def q_vocab_partial_corr(spark, sf_dir):
    """Per-source partial correlation of tokens vs distinct tokens
    controlling for char length — is vocabulary growth real or a
    length artifact?"""
    docs = _tbl(spark, sf_dir, "documents")
    toks = F.filter(text.word_tokens(F.col("text")), lambda x: x != "")
    per = docs.select(
        F.col("source"),
        F.size(toks).cast("long").alias("__x"),
        F.size(F.array_distinct(toks)).cast("long").alias("__y"),
        F.length(F.col("text")).cast("long").alias("__z"),
    )
    return profiling.partial_corr(per, "source", "__x", "__y", "__z")


def q_qte_deciles(spark, sf_dir):
    """Quantile treatment effects at every decile between md5-bucket
    variants — exact integer-rank percentiles, signed cents ratios."""
    return profiling.qte_deciles(_tbl(spark, sf_dir, "events"))


def q_order_count_histogram(spark, sf_dir):
    """TPC-H Q13 shape: customer distribution by order count with the
    zero class included (left join + count-of-counts), LOW-priority
    orders excluded before the join."""
    cust = _tbl(spark, sf_dir, "customer")
    orders = _tbl(spark, sf_dir, "orders")
    return joins.count_histogram_left(
        cust, orders, "c_custkey", "o_custkey", "c_count",
        right_filter=~F.col("o_orderpriority").like("%LOW%"),
    )


def q_hll_union_overlap(spark, sf_dir):
    """Pairwise user-overlap estimates across event types from MERGED
    HLL registers (inclusion-exclusion), audited against the exact
    overlap."""
    ev = _tbl(spark, sf_dir, "events")
    return sketches.hll_union_overlap(ev, "event_type", "user_id", p=8)


def q_cluster_diameter(spark, sf_dir):
    """Transitive-chaining audit of the LSH dedup clusters: exact
    pairwise Jaccard of ALL member pairs per cluster (size-capped),
    reported per cluster-size band."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.cluster_diameter(
        d, n=8, num_hashes=32, bands=16, threshold=0.2
    )


def q_cuped_adjustment(spark, sf_dir):
    """CUPED variance-reduced A/B readout: pre-period per-user spend as
    control covariate, md5-bucket variants, pooled theta, exact cents
    moments."""
    return profiling.cuped_adjustment(_tbl(spark, sf_dir, "events"))


def q_code_detect(spark, sf_dir):
    """Per-source code-likeness audit: 5 integer structural signals
    per doc (indent/line-punct/symbol-density/keywords), code at >= 3,
    exact count ratios per source."""
    return text.code_detect(_tbl(spark, sf_dir, "documents"))


def q_cohens_d(spark, sf_dir):
    """Cohen's d of token length per source vs the rest of the corpus
    — standardized length-mix difference (exact moment sums, IEEE-sqrt,
    bridge-rounded)."""
    return text.source_effect_size(_tbl(spark, sf_dir, "documents"))


# --- Round-12 queries ---


def q_minhash_scurve(spark, sf_dir):
    """Empirical MinHash banding S-curve: P(LSH candidate | exact
    Jaccard bin) for every (bands, rows) factorization of a 32-hash
    signature, over the 64 lowest-id docs (bounded all-pairs audit —
    the knn_stability id-cap pattern)."""
    return dedup.minhash_scurve(_tbl(spark, sf_dir, "documents"))


def q_boilerplate_roi(spark, sf_dir):
    """Boilerplate-line removal ROI per source: line instances, chars,
    and docs a strip of lines appearing in >= 3 distinct docs would
    remove (CCNet line-dedup simulated before running it). Docs are
    deterministically banner-decorated (every 3rd doc gets a shared
    cookie banner, every 7th a per-source copyright footer) so real
    cross-doc line duplication exists on this corpus — the synthetic
    docs are single-line and the audit would otherwise be trivially
    zero (the url_dedup decoration precedent)."""
    docs = _tbl(spark, sf_dir, "documents")
    deco = docs.withColumn(
        "text",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("COOKIE NOTICE: we use cookies\n"),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit("\nCopyright "),
                    F.col("source"),
                    F.lit(" all rights reserved"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return text.boilerplate_roi(deco)


def q_vocab_size_sweep(spark, sf_dir):
    """Corpus OOV / byte-fallback curve across nested top-V vocab cuts
    (V in 4/12/24 — all below the synthetic corpus's distinct-token
    count, so every cut carries real OOV mass; 24 matches oov_rate's
    registered cut). One frequency pass fits all three vocabularies."""
    return text.vocab_size_sweep(
        _tbl(spark, sf_dir, "documents"), sizes=(4, 12, 24)
    )


def q_dump_overlap(spark, sf_dir):
    """Crawl-dump pair overlap matrix over 3 block-interleaved id-order
    snapshots (block 25) of the dup-decorated corpus (the corpus has no
    exact dups; the +1e6 shifted copy plants the cross-dump duplicates
    the matrix must find — the dedup_exact_groups fixture). n_dumps is
    3, NOT 4: 1e6 div 25 = 40000 is 0 mod 4, so at 4 dumps every
    planted dup lands in its original's own dump and the matrix is
    vacuously zero (caught by the workflow 3b volume check); 40000 is
    1 mod 3, putting each dup one dump over."""
    return dedup.dump_overlap(
        _docs_with_dups(spark, sf_dir), n_dumps=3, block=25
    )


def q_unimax_alloc(spark, sf_dir):
    """UniMax epoch-capped uniform token-budget allocation per language
    (budget = 2x corpus tokens, cap 3 epochs): on this corpus the
    smallest language caps at 3 epochs and the other four split the
    remainder uniformly, so BOTH branches of the water-filling are
    exercised (checked non-vacuous per workflow 3b; at budget_factor 2
    with cap 2 every language caps exactly and the allocator would be
    degenerate — sum(caps) == B identically)."""
    return sampling.unimax_alloc(
        _tbl(spark, sf_dir, "documents"), max_epochs=3, budget_factor=2
    )


def q_simhash_radius_sweep(spark, sf_dir):
    """SimHash Hamming-radius sweep (radii 0-5, 60-bit fingerprints,
    6 blocks so the block trick stays exact through radius 5): exact
    and cumulative candidate-pair counts per radius — the threshold
    curve behind simhash_near_pairs' fixed Hamming<=3 cut. Non-vacuous
    at every radius on this corpus (2/7/16/45/168/463 exact pairs at
    sf0.01, probed per workflow 3b)."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_radius_sweep(
        d, max_hamming=5, bits=60, blocks=6
    )


def q_pq_recall(spark, sf_dir):
    """Product-quantization recall sweep (m in 2/4/8 subspaces, 16
    deterministic codes, spherical/cosine encoding): micro-averaged
    exact-top-10 recall per m, same query set as quant_recall /
    quant_bits_sweep."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.pq_recall(qs, emb, k=10, m_list=(2, 4, 8))


def q_bpe_merge_chain(spark, sf_dir):
    """Three chained BPE merge iterations over the corpus vocabulary:
    apply each winning merge, re-count symbol pairs, repeat — the
    trainer loop bpe_merge_candidates only previews (k driver argmax
    steps, the facility_select precedent; oracle is a chained
    MATERIALIZED-CTE ladder)."""
    return text.bpe_merge_chain(_tbl(spark, sf_dir, "documents"), iters=3)


def q_temperature_sweep(spark, sf_dir):
    """Temperature-mix plans at alpha = 0 / 0.5 / 1.0 (uniform, sqrt,
    natural) over the language mix — temperature_mix's alpha axis.
    Restricted to the three IEEE-exact alphas so the sweep adds no
    pow() parity surface (late-r13: registered behind the window,
    leads the r14 rotation)."""
    return sampling.temperature_sweep(
        _tbl(spark, sf_dir, "documents"), group_col="lang",
        alpha_pcts=(0, 50, 100), budget=1000,
    )


def q_contamination_ngram_sweep(spark, sf_dir):
    """Decontamination n-gram-length sweep (n = 2/3/4) against the
    docs 0-2 benchmark: contaminated-doc share and overlap mass per n
    — q_contamination's n axis (its comment records why n=5 is
    vacuous on this vocab; the sweep shows the knee instead of
    asserting it). Late-r13: registered behind the window."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 3)
    return text.contamination_ngram_sweep(docs, bench, ns=(2, 3, 4))


def q_prototypicality(spark, sf_dir):
    """D4/SSL-prototypes distance profile per k-means cluster (k=8,
    2 iters — semdedup's exact clustering): mean/p20/min/max squared
    L2 to the final centroid; p20 is the drop-the-closest-20%
    waterline. Late-r13: registered behind the window."""
    return similarity.prototypicality(
        _tbl(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def q_minhash_len_bias(spark, sf_dir):
    """MinHash estimator error vs document length (32-hash estimator,
    min-side shingle-count buckets of width 32, capped at bin 7) over
    the bounded 64-doc pair sample — the length-confounder axis of
    the calibration family. Late-r13: registered behind the window."""
    return dedup.minhash_len_bias(
        _tbl(spark, sf_dir, "documents"), n=8, num_hashes=32,
        bucket_width=32, max_bucket=7, sample_docs=64,
    )


def q_lsh_br_planner(spark, sf_dir):
    """LSH banding (b, r) planner: theoretical S-curve FP/FN/miss mass
    per b·r = 32 factorization against the t = 0.1 dedup threshold
    (where this corpus's exact-Jaccard pair mass actually splits — 7
    pairs at/above, ~2k below on the 64-doc sample, so both masses are
    non-vacuous), plus each config's crossover t* = (1/b)^(1/r). The
    decision step of the MinHash calibration family."""
    return dedup.lsh_br_planner(
        _tbl(spark, sf_dir, "documents"), n=8, num_hashes=32,
        configs=((32, 1), (16, 2), (8, 4), (4, 8)),
        threshold_pct=10, sample_docs=64,
    )


def q_readability_scores(spark, sf_dir):
    """Per-source readability panel: Flesch Reading Ease, FK grade and
    ARI as ONE exact signed rational each over per-source SUMMED
    counts (never a mean of per-doc floats), plus the wps/spw ratios
    they're built from. Surface-form quality signals corpus filters
    bucket on (Kincaid et al. 1975)."""
    return text.readability_scores(
        _tbl(spark, sf_dir, "documents"), text_col="text", group_col="source"
    )


def q_kcenter_coreset(spark, sf_dir):
    """Gonzalez farthest-point k-center trace (k=8 over the 64
    lowest-id embedding vectors): pick order + covering-radius curve,
    with the final sentinel row (vec_id=-1) carrying the achieved
    k-center objective. The coverage view of coreset selection
    (prototypicality = density view, facility_select = lexical view)."""
    return similarity.kcenter_coreset(
        _tbl(spark, sf_dir, "embeddings"), k=8, sample_vecs=64
    )


def q_hits_scores(spark, sf_dir):
    """2-iteration HITS hubs/authorities over the session transition
    graph — the mutually-reinforcing complement of
    q_pagerank_transitions on the identical edge list."""
    ev = _tbl(spark, sf_dir, "events")
    trans = windows.session_transitions(
        ev, gap_sec=1800.0, order_col="event_id"
    ).select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n_transitions").alias("w"),
    )
    return graph.hits_scores(trans, "src", "dst", "w", iters=2)


def q_mattr_diversity(spark, sf_dir):
    """Mean Segmental TTR (25-token segments) vs raw TTR per source —
    the length-controlled lexical-diversity panel; the msttr-ttr gap
    isolates the Heaps'-law size confound."""
    return text.mattr_diversity(
        _tbl(spark, sf_dir, "documents"), text_col="text",
        group_col="source", seg_len=25,
    )


def q_data_constrained_epochs(spark, sf_dir):
    """Muennighoff 2023 repeated-epoch value audit: uniform per-source
    budget at 1x/4x/16x the corpus total, priced with
    D' = U + U*R*(1-exp(-R/R*)), R* = 15.39 — which sources a uniform
    budget burns on dead epochs."""
    return sampling.data_constrained_epochs(
        _tbl(spark, sf_dir, "documents"), text_col="text",
        group_col="source", mults=(1, 4, 16),
    )


def q_ndcg_sessions(spark, sf_dir):
    """Graded nDCG@10 of 30-minute-gap sessions by entry event type
    (purchase=3, signup=2, click=1) — mrr_sessions' graded-relevance
    companion; rank discounts are host-precomputed literals so no
    engine-side log2 exists anywhere in the plan."""
    return windows.ndcg_sessions(_tbl(spark, sf_dir, "events"), gap_sec=1800.0)


def q_value_precision_audit(spark, sf_dir):
    """Trailing-digit forensics of event values per type: whole-unit /
    dime-grid / .99 charm-pricing shares and the modal final cent
    digit — the last-digit artifact panel (Benford's complement)."""
    return profiling.value_precision_audit(
        _tbl(spark, sf_dir, "events"), value_col="value",
        group_col="event_type",
    )


def q_good_turing_mass(spark, sf_dir):
    """Good-Turing freq-of-frequencies panel over corpus word
    TRIGRAMS (the Katz-backoff grain — unigram grain is vacuous on
    this bounded vocab): n_r, stratum mass shares and GT adjusted
    counts r* for r<=5, plus the r=0 unseen-mass row p0 = n_1/N."""
    return text.good_turing_mass(
        _tbl(spark, sf_dir, "documents"), gram_n=3, max_r=5
    )


def q_cluster_stability_ari(spark, sf_dir):
    """Rand + adjusted Rand agreement between the exact-Jaccard dedup
    clusterings at t=0.06 and t=0.10 over the bounded 64-doc sample —
    is the dedup decision threshold-robust, or does the sweep's stable
    cluster COUNT hide membership churn? (Thresholds sit where this
    corpus's pair mass actually splits — probed: ~350 sample pairs at
    J>=0.06 vs 7 at J>=0.10, so the two partitions genuinely differ;
    at 0.15/0.35 both were all-singletons and the audit was vacuous.)"""
    return dedup.cluster_stability_ari(
        _tbl(spark, sf_dir, "documents"), n=8, t_lo=0.06, t_hi=0.10,
        sample_docs=64,
    )


def q_participation_ratio(spark, sf_dir):
    """Participation ratio (ΣλΣλ / Σλ² of the uncentered second-moment
    matrix) of the embedding space — the whole-spectrum effective
    dimensionality, computed exactly from quantized integer moment
    sums; anisotropy's complement (top eigenvalue vs spectrum shape)."""
    return similarity.participation_ratio(_tbl(spark, sf_dir, "embeddings"))


def q_license_audit(spark, sf_dir):
    """Per-source license / opt-out signal panel (SPDX tag, copyright,
    permissive / restrictive phrases, AI-training opt-out). Docs are
    deterministically decorated (every 4th gets an SPDX MIT header,
    every 6th a copyright-all-rights-reserved footer, every 9th an
    opt-out notice — overlaps at 12/18/36 exercise multi-signal docs)
    so real signal mass exists on this corpus; the synthetic text
    carries none (the boilerplate_roi decoration precedent)."""
    docs = _tbl(spark, sf_dir, "documents")
    deco = docs.withColumn(
        "text",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("SPDX-License-Identifier: MIT\nMIT License\n"),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit("\nCopyright 2024 "),
                    F.col("source"),
                    F.lit(". All rights reserved."),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 9 == 0,
                F.lit("\nAI policy: do not train. noai"),
            ).otherwise(F.lit("")),
        ),
    )
    return text.license_audit(deco)


def q_oov_rate(spark, sf_dir):
    """Per-source OOV / byte-fallback audit under the corpus's top-24
    token vocabulary: OOV occurrence rate and the token-budget
    inflation byte-fallback encoding would cause. The cut sits BELOW
    the synthetic corpus's distinct-token count so real OOV mass
    exists on this data (at 256 the driver check would be trivially
    all-in-vocab)."""
    return text.oov_rate(_tbl(spark, sf_dir, "documents"), vocab_size=24)


def q_contamination_matrix(spark, sf_dir):
    """Benchmark-pair contamination overlap matrix over the same three
    synthetic eval suites as eval_contamination (docs 0-8, doc_id % 3):
    per suite pair, docs contaminated by both and the Jaccard of the
    two contaminated-doc sets."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 9).select(
        F.concat(F.lit("b"), (F.col("doc_id") % 3).cast("string")).alias(
            "benchmark"
        ),
        "text",
    )
    return text.contamination_matrix(docs, bench, n=3)


def q_sig_size_sweep(spark, sf_dir):
    """MinHash estimator error vs signature size (16/32/64 nested
    prefixes of one 64-hash signature) per exact-Jaccard bin, over the
    same bounded 64-doc sample as minhash_scurve."""
    return dedup.sig_size_sweep(_tbl(spark, sf_dir, "documents"))


def q_instruction_detect(spark, sf_dir):
    """Per-source instruction/chat-format detection over
    deterministically template-decorated docs (every 5th doc gets a
    User:/Assistant: turn block, every 15th additionally the
    ### Instruction/[INST] template — decoration precedent: url_dedup's
    link injection)."""
    docs = _tbl(spark, sf_dir, "documents")
    turn_block = (
        "User: how does this work?\nAssistant: like this.\n"
        "User: and that?\nAssistant: also.\n"
    )
    tmpl_block = "### Instruction\ndo the thing\n### Response\n[INST] done [/INST]\n"
    deco = docs.withColumn(
        "text",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit(turn_block)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 15 == 0, F.lit(tmpl_block)).otherwise(
                F.lit("")
            ),
            F.col("text"),
        ),
    )
    return text.instruction_detect(deco)


def q_domain_mix(spark, sf_dir):
    """Per-source TLD mix of each doc's first URL over the same
    link-decorated corpus as url_dedup (doc_id % 50 .com hosts,
    % 20 .org hosts, plus any organic links)."""
    return dedup.domain_mix(_link_decorated(spark, sf_dir))


def q_bpe_merge_candidates(spark, sf_dir):
    """Top-20 first-iteration BPE merge candidates (adjacent char-pair
    frequencies inside words, weighted by word frequency) — the
    tokenizer-training-side audit."""
    return text.bpe_merge_candidates(_tbl(spark, sf_dir, "documents"), k=20)


def q_facility_select(spark, sf_dir):
    """Greedy max-coverage selection of 8 docs from the 64 lowest-id
    sample (facility-location/submodular curation trace: pick order,
    marginal gain, cumulative distinct word-3-grams covered)."""
    return text.facility_select(
        _tbl(spark, sf_dir, "documents"), n=3, k=8, sample_docs=64
    )


def q_quant_bits_sweep(spark, sf_dir):
    """int4/int6/int8 scalar-quantization recall sweep (quant_recall's
    levels axis): micro-averaged exact-top-10 recall per bit width,
    same query set as quant_recall."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.quant_bits_sweep(qs, emb, k=10)


# Registry order is the driver's order: its CORRECTNESS run checks the
# first 50 entries of this literal. A rotation moves lines to the top;
# why each round's window was chosen lives in git history and in
# PROMOTION_r*.md.
QUERIES = {
    "duplicated_spans": q_duplicated_spans,
    "semdedup": q_semdedup,
    "winnow_pairs": q_winnow_pairs,
    "simhash_near_pairs": q_simhash_near_pairs,
    "editdist_pairs": q_editdist_pairs,
    "bfs_reach": q_bfs_reach,
    "dsir_weights": q_dsir_weights,
    "tfidf_top_terms": q_tfidf_top_terms,
    "ppl_bucket_mix": q_ppl_bucket_mix,
    "coactivity_kcore": q_coactivity_kcore,
    "degree_assortativity": q_degree_assortativity,
    "quality_auc": q_quality_auc,
    "quantize_audit": q_quantize_audit,
    "session_gap_sweep": q_session_gap_sweep,
    "source_scorecard": q_source_scorecard,
    "spearman_activity": q_spearman_activity,
    "temperature_mix": q_temperature_mix,
    "triangle_cooccurrence": q_triangle_cooccurrence,
    "attribution_split": q_attribution_split,
    "categorical_drift": q_categorical_drift,
    "chao1_richness": q_chao1_richness,
    "json_schema_profile": q_json_schema_profile,
    "mutual_info": q_mutual_info,
    "prefix_jaccard_pairs": q_prefix_jaccard_pairs,
    "split_leakage_audit": q_split_leakage_audit,
    "transition_entropy": q_transition_entropy,
    "dedup_clusters_lsh": q_dedup_clusters_lsh,
    "value_percentiles": q_value_percentiles,
    "cluster_keep_best": q_cluster_keep_best,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "quality_rule_pack": q_quality_rule_pack,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "cluster_keep_best_lsh": q_cluster_keep_best_lsh,
    "cluster_quality_bias": q_cluster_quality_bias,
    "cluster_source_purity": q_cluster_source_purity,
    "ivf_list_balance": q_ivf_list_balance,
    "minhash_calibration": q_minhash_calibration,
    "tokenizer_drift": q_tokenizer_drift,
    "cluster_diameter": q_cluster_diameter,
    "dup_degree_spectrum": q_dup_degree_spectrum,
    "near_dup_family_agreement": q_near_dup_family_agreement,
    "kmeans_clusters": q_kmeans_clusters,
    "prototypicality": q_prototypicality,
    "lift_curve": q_lift_curve,
    "schema_drift": q_schema_drift,
    "ts_collapse_range": q_ts_collapse_range,
    "ts_condense_hour": q_ts_condense_hour,
    "ts_gauge_last_hour": q_ts_gauge_last_hour,
    "ts_histogram_daily": q_ts_histogram_daily,
    "ts_multi_name_merge": q_ts_multi_name_merge,
    "bpe_merge_chain": q_bpe_merge_chain,
    "dump_overlap": q_dump_overlap,
    "license_audit": q_license_audit,
    "pq_recall": q_pq_recall,
    "simhash_radius_sweep": q_simhash_radius_sweep,
    "unimax_alloc": q_unimax_alloc,
    "vocab_size_sweep": q_vocab_size_sweep,
    "temperature_sweep": q_temperature_sweep,
    "contamination_ngram_sweep": q_contamination_ngram_sweep,
    "minhash_len_bias": q_minhash_len_bias,
    "lsh_br_planner": q_lsh_br_planner,
    "readability_scores": q_readability_scores,
    "kcenter_coreset": q_kcenter_coreset,
    "hits_scores": q_hits_scores,
    "mattr_diversity": q_mattr_diversity,
    "data_constrained_epochs": q_data_constrained_epochs,
    "ndcg_sessions": q_ndcg_sessions,
    "value_precision_audit": q_value_precision_audit,
    "good_turing_mass": q_good_turing_mass,
    "cluster_stability_ari": q_cluster_stability_ari,
    "participation_ratio": q_participation_ratio,
    "facility_select": q_facility_select,
    "minhash_scurve": q_minhash_scurve,
    "ab_lift": q_ab_lift,
    "absorption_prob": q_absorption_prob,
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
    "did_estimate": q_did_estimate,
    "drift_fdr": q_drift_fdr,
    "max_drawdown": q_max_drawdown,
    "media_signature_buckets": q_media_signature_buckets,
    "rrf_fusion": q_rrf_fusion,
    "source_similarity": q_source_similarity,
    "ts_histogram_transforms": q_ts_histogram_transforms,
    "vocab_coverage": q_vocab_coverage,
    "zonemap_prune": q_zonemap_prune,
    "churn_auc": q_churn_auc,
    "context_budget": q_context_budget,
    "decayed_topk": q_decayed_topk,
    "dedup_recall": q_dedup_recall,
    "ks_drift": q_ks_drift,
    "langid_metrics": q_langid_metrics,
    "multimodal_features": q_multimodal_features,
    "ngram_novelty": q_ngram_novelty,
    "path_conformance": q_path_conformance,
    "dup_line_stats": q_dup_line_stats,
    "quality_threshold_sweep": q_quality_threshold_sweep,
    "blocklist_audit": q_blocklist_audit,
    "contamination_spans": q_contamination_spans,
    "boundary_overlap": q_boundary_overlap,
    "pipeline_roi": q_pipeline_roi,
    "paragraph_dedup": q_paragraph_dedup,
    "crossdoc_spans": q_crossdoc_spans,
    "eval_contamination": q_eval_contamination,
    "dup_quality_bias": q_dup_quality_bias,
    "bigram_entropy_rate": q_bigram_entropy_rate,
    "script_mix": q_script_mix,
    "cramers_v": q_cramers_v,
    "fim_split_audit": q_fim_split_audit,
    "rp_distortion": q_rp_distortion,
    "ivf_probe_sweep": q_ivf_probe_sweep,
    "shard_dup_locality": q_shard_dup_locality,
    "quant_recall": q_quant_recall,
    "frame_dup_rate": q_frame_dup_rate,
    "byte_entropy": q_byte_entropy,
    "rule_disagreement": q_rule_disagreement,
    "kendall_tau": q_kendall_tau,
    "source_kl": q_source_kl,
    "l_diversity": q_l_diversity,
    "embedding_anisotropy": q_embedding_anisotropy,
    "doc_gini": q_doc_gini,
    "cohens_d": q_cohens_d,
    "code_detect": q_code_detect,
    "cuped_adjustment": q_cuped_adjustment,
    "hll_union_overlap": q_hll_union_overlap,
    "order_count_histogram": q_order_count_histogram,
    "qte_deciles": q_qte_deciles,
    "vocab_partial_corr": q_vocab_partial_corr,
    "t_closeness": q_t_closeness,
    "chunk_overlap": q_chunk_overlap,
    "link_density": q_link_density,
    "markup_stats": q_markup_stats,
    "language_mix": q_language_mix,
    "brier_decomposition": q_brier_decomposition,
    "forecast_mase": q_forecast_mase,
    "char_rep_rate": q_char_rep_rate,
    "url_dedup": q_url_dedup,
    "doc_disposition": q_doc_disposition,
    "knn_stability": q_knn_stability,
    "bloom_fpr_audit": q_bloom_fpr_audit,
    "cross_shard_novelty": q_cross_shard_novelty,
    "source_containment": q_source_containment,
    "dup_run_lengths": q_dup_run_lengths,
    "boilerplate_roi": q_boilerplate_roi,
    "oov_rate": q_oov_rate,
    "contamination_matrix": q_contamination_matrix,
    "quant_bits_sweep": q_quant_bits_sweep,
    "sig_size_sweep": q_sig_size_sweep,
    "instruction_detect": q_instruction_detect,
    "domain_mix": q_domain_mix,
    "bpe_merge_candidates": q_bpe_merge_candidates,
    "cross_source_dup": q_cross_source_dup,
    "dup_cluster_sizes": q_dup_cluster_sizes,
    "template_prefix": q_template_prefix,
    "packing_efficiency": q_packing_efficiency,
    "token_budget_alloc": q_token_budget_alloc,
    "shard_balance_audit": q_shard_balance_audit,
    "crosscorr_types": q_crosscorr_types,
    "delta_attribution": q_delta_attribution,
    "bernoulli_ht_audit": q_bernoulli_ht_audit,
    "markov_accuracy": q_markov_accuracy,
    "vocab_drift": q_vocab_drift,
    "bootstrap_ci_mean": q_bootstrap_ci_mean,
    "seasonal_quantile_bands": q_seasonal_quantile_bands,
    "post_stratified_mean": q_post_stratified_mean,
    "dup_inflation": q_dup_inflation,
    "ts_multires_rollup": q_ts_multires_rollup,
    "ts_iterate_full": q_ts_iterate_full,
    "repetition_stats": q_repetition_stats,
    "word_entropy": q_word_entropy,
    "contamination": q_contamination,
    "dedup_incremental": q_dedup_incremental,
    "token_topk_by_lang": q_token_topk_by_lang,
    "cohort_retention": q_cohort_retention,
    "embed_near_pairs_lsh": q_embed_near_pairs_lsh,
    "shard_packing": q_shard_packing,
    "sketch_distinct": q_sketch_distinct,
    "bigram_lm_score": q_bigram_lm_score,
    "normalize_dedup": q_normalize_dedup,
    "containment_pairs": q_containment_pairs,
    "anomaly_zscore": q_anomaly_zscore,
    "ewma_smooth": q_ewma_smooth,
    "rolling_distinct_users": q_rolling_distinct_users,
    "funnel_conversion": q_funnel_conversion,
    "q1_pricing_summary": q_q1_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "window_top_orders": q_window_top_orders,
    "json_props_stats": q_json_props_stats,
    "range_join_user_events": q_range_join_user_events,
    "rollup_revenue_region": q_rollup_revenue_region,
    "semi_join_urgent_custs": q_semi_join_urgent_custs,
    "anti_join_quiet_custs": q_anti_join_quiet_custs,
    "event_sessions": q_event_sessions,
    "asof_signup_purchase": q_asof_signup_purchase,
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_exact_keep": q_dedup_exact_keep,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "training_data_prep": q_training_data_prep,
    "minhash_first_hashes": q_minhash_first_hashes,
    "simhash_sample": q_simhash_sample,
    "text_stats": q_text_stats,
    "binned_quantiles": q_binned_quantiles,
    "weighted_sample": q_weighted_sample,
    "pii_scrub": q_pii_scrub,
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "token_topk": q_token_topk,
    "doc_fingerprint": q_doc_fingerprint,
    "ann_cosine_topk": q_ann_cosine_topk,
    "label_centroids": q_label_centroids,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embed_near_pairs": q_embed_near_pairs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "frame_sample": q_frame_sample,
    "sample_split": q_sample_split,
    "stratified_sample": q_stratified_sample,
    "session_transitions": q_session_transitions,
    "doc_chunks": q_doc_chunks,
    "inverted_index": q_inverted_index,
    "heavy_hitters": q_heavy_hitters,
    "bloom_filter_join": q_bloom_filter_join,
    "salted_join": q_salted_join,
    "unpivot_roundtrip": q_unpivot_roundtrip,
    "cluster_quality": q_cluster_quality,
    "pagerank_transitions": q_pagerank_transitions,
    "asof_tolerance": q_asof_tolerance,
    "boilerplate_chunks": q_boilerplate_chunks,
    "pmi_pairs": q_pmi_pairs,
    "value_drift": q_value_drift,
    "period_delta": q_period_delta,
    "zorder_layout": q_zorder_layout,
    "cube_revenue": q_cube_revenue,
    "mad_outliers": q_mad_outliers,
    "freq_spectrum": q_freq_spectrum,
    "schema_profile": q_schema_profile,
    "fk_conformance": q_fk_conformance,
    "snapshot_diff": q_snapshot_diff,
    "knn_join": q_knn_join,
    "lsh_recall": q_lsh_recall,
    "trend_slope": q_trend_slope,
    "fd_check": q_fd_check,
    "event_debounce": q_event_debounce,
    "count_correlation": q_count_correlation,
    "revenue_deciles": q_revenue_deciles,
    "winsorize": q_winsorize,
    "impute_median": q_impute_median,
    "fuzzy_match": q_fuzzy_match,
    "interarrival": q_interarrival,
    "label_agreement": q_label_agreement,
    "interval_coverage": q_interval_coverage,
    "seasonal_baseline": q_seasonal_baseline,
    "key_skew_stats": q_key_skew_stats,
    "event_pivot": q_event_pivot,
    "ts_count_series_hour": q_ts_count_series_hour,
    "ts_count_rate_minute": q_ts_count_rate_minute,
    "ts_series_transforms_hour": q_ts_series_transforms_hour,
    "ts_fine_hour_minute": q_ts_fine_hour_minute,
    "ts_set_hour": q_ts_set_hour,
    "ts_set_cross_series": q_ts_set_cross_series,
    "ts_spine_gapfill": q_ts_spine_gapfill,
    "bm25_topk": q_bm25_topk,
    "interval_proration": q_interval_proration,
    "conformal_coverage": q_conformal_coverage,
    "quantile_normalize": q_quantile_normalize,
    "weight_ess": q_weight_ess,
    "cvm_drift": q_cvm_drift,
    "table_fingerprint": q_table_fingerprint,
    "ipf_raking": q_ipf_raking,
    "srm_audit": q_srm_audit,
    "freshness_audit": q_freshness_audit,
    "policy_replay": q_policy_replay,
    "growth_accounting": q_growth_accounting,
    "simpson_check": q_simpson_check,
    "langid_kappa": q_langid_kappa,
    "event_study": q_event_study,
    "audience_stability": q_audience_stability,
    "incremental_join": q_incremental_join,
    "theil_decomposition": q_theil_decomposition,
    "wasserstein_drift": q_wasserstein_drift,
    "variance_decomposition": q_variance_decomposition,
    "ship_lag_percentiles": q_ship_lag_percentiles,
    "ts_properties": q_ts_properties,
    "ts_list_names": q_ts_list_names,
    "ts_greg_daily": q_ts_greg_daily,
    "ts_greg_weekly": q_ts_greg_weekly,
    "ts_greg_monthly_rate": q_ts_greg_monthly_rate,
    "ts_fanout_minute": q_ts_fanout_minute,
    "ts_retention_filter": q_ts_retention_filter,
    "ts_histogram_rate": q_ts_histogram_rate,
    "ts_histogram_percentiles": q_ts_histogram_percentiles,
    "ts_variance_collapse": q_ts_variance_collapse,
    "ts_gauge_join": q_ts_gauge_join,
    "ts_series_condense_order": q_ts_series_condense_order,
    "ts_sliding_hour_15m": q_ts_sliding_hour_15m,
    "conversion_latency": q_conversion_latency,
    "supplier_pareto": q_supplier_pareto,
    "gini_activity": q_gini_activity,
    "audience_overlap": q_audience_overlap,
    "capture_recapture": q_capture_recapture,
    "powerlaw_alpha": q_powerlaw_alpha,
    "scale_drift": q_scale_drift,
    "rbo_rankings": q_rbo_rankings,
    "wilson_ci": q_wilson_ci,
    "mann_kendall": q_mann_kendall,
    "peak_detection": q_peak_detection,
    "hashing_trick_audit": q_hashing_trick_audit,
    "ratio_ci": q_ratio_ci,
    "logrank_test": q_logrank_test,
    "qq_shift_fit": q_qq_shift_fit,
    "lateness_audit": q_lateness_audit,
    "norm_outliers": q_norm_outliers,
    "theilsen_trend": q_theilsen_trend,
    "session_paths": q_session_paths,
    "benford_totalprice": q_benford_totalprice,
    "rfm_segments": q_rfm_segments,
    "bigram_holdout": q_bigram_holdout,
    "hll_distinct": q_hll_distinct,
    "bpe_pairs": q_bpe_pairs,
    "domain_cap": q_domain_cap,
    "kaplan_meier": q_kaplan_meier,
    "changepoints": q_changepoints,
    "grouped_weighted_sample": q_grouped_weighted_sample,
    "pseudonym_audit": q_pseudonym_audit,
    "autocorr_hourly": q_autocorr_hourly,
    "join_size_est": q_join_size_est,
    "skyline_docs": q_skyline_docs,
    "weighted_median_len": q_weighted_median_len,
    "langid_confusion": q_langid_confusion,
    "scd2_intervals": q_scd2_intervals,
    "distinctive_terms": q_distinctive_terms,
    "k_anonymity": q_k_anonymity,
    "dp_noisy_counts": q_dp_noisy_counts,
    "calibration_bins": q_calibration_bins,
    "filter_sweep": q_filter_sweep,
    "vocab_growth": q_vocab_growth,
    "burstiness": q_burstiness,
    "forecast_eval": q_forecast_eval,
    "entity_clusters": q_entity_clusters,
    "incremental_rollup": q_incremental_rollup,
    "corr_matrix": q_corr_matrix,
    "topk_churn": q_topk_churn,
    "embedding_drift": q_embedding_drift,
    "embedding_moments": q_embedding_moments,
    "ols2_fit": q_ols2_fit,
    "expectations_audit": q_expectations_audit,
    "grouped_histogram": q_grouped_histogram,
    "pit_state_join": q_pit_state_join,
    "cdc_upsert": q_cdc_upsert,
    "encoding_audit": q_encoding_audit,
    "token_fertility": q_token_fertility,
    "calendar_heatmap": q_calendar_heatmap,
    "group_quantiles": q_group_quantiles,
    "assoc_rules": q_assoc_rules,
    "session_entry_exit": q_session_entry_exit,
    "dist_overlap": q_dist_overlap,
    "label_centroid_dists": q_label_centroid_dists,
    "trimmed_mean": q_trimmed_mean,
    "hapax_rate": q_hapax_rate,
    "reconciliation_audit": q_reconciliation_audit,
    "burst_windows": q_burst_windows,
    "target_encoding": q_target_encoding,
    "hierarchical_shares": q_hierarchical_shares,
    "negative_pairs": q_negative_pairs,
    "mrr_sessions": q_mrr_sessions,
}

# DuckDB spellings of text_stats' per-document counts, shared by the
# text-stat oracles. Raw strings: the regexes carry backslashes, which
# an f-string replacement field cannot.
_PUNCT_SQL = r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
_SPACES_SQL = r"length(text) - length(regexp_replace(text, '\s', '', 'g'))"
_STOP_HITS_SQL = (
    r"len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for|with)\b'))"
)
_WORDS_SQL = r"greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)"

# --- shared oracle stages -------------------------------------------------
# Each SQL stage that several oracles run lives here once, as a constant
# or a builder returning SQL text: a CTE list (no leading WITH, no
# trailing comma), select items, or an expression. Where a stage mirrors
# one Spark helper, its comment names that helper.


# SQL twins of the md5-derived pipeline operators (DuckDB: hex → BIGINT
# via '0x'||substr(md5(...))). Shingling/tokenization formulas mirror
# kairos_spark.operators.text exactly.
_SHINGLE_CTE = """
    norm AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS n
        FROM documents
    ),
    idx AS (
        SELECT doc_id, n,
               unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
        FROM norm
    ),
    sh AS (SELECT DISTINCT doc_id, substr(n, i, 8) AS s FROM idx)
"""


def _shingle_overlap_sql(materialized: bool = False) -> str:
    """CTEs sz, shared: per doc its shingle count, per doc pair its
    shared shingles — dedup._shingle_overlap, the exact n-gram Jaccard
    and containment inputs."""
    mat = "MATERIALIZED " if materialized else ""
    return f"""
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    shared AS {mat}(
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


# the bounded audits' corpus: the 64 lowest doc ids and their shingles
# (the capped frame of dedup's minhash audits)
_CAPPED_SHINGLES_SQL = r"""
    ids AS MATERIALIZED (
        SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64
    ),
    norm AS (
        SELECT d.doc_id, regexp_replace(lower(d.text), '\s+', ' ', 'g') AS n
        FROM documents d JOIN ids USING (doc_id)
    ),
    idx AS (
        SELECT doc_id, n,
               unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
        FROM norm
    ),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(n, i, 8) AS s FROM idx)"""

# per capped doc its shingle count, per capped pair its shared shingles
# (dedup._shared_shingles)
_SHARED_SHINGLES_SQL = """
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shn
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

# each shingle's md5 double-hash pair (a, b)
_MINHASH_AB_SQL = """
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(s), 1, 11))::BIGINT AS a,
               ('0x' || substr(md5(s), 12, 11))::BIGINT AS b
        FROM sh
    )"""


def _minhash_sig_sql(num_hashes: int = 32, materialized: bool = False) -> str:
    """CTEs h, sig: each doc's `num_hashes` minima of (a + i·b) mod p
    over its shingles sh(doc_id, s) — dedup.minhash_signatures."""
    mat = "MATERIALIZED " if materialized else ""
    return f"""{_MINHASH_AB_SQL},
    sig AS {mat}(
        SELECT doc_id, i.i AS i, min((a + i.i * b) % 17592186044399) AS hv
        FROM h CROSS JOIN (SELECT unnest(generate_series(0, {num_hashes - 1})) AS i) i
        GROUP BY 1, 2
    )"""


# 16 bands of 2 rows over the 32-hash sig, and the doc pairs sharing a
# band digest (dedup.minhash_lsh_pairs' candidates)
_LSH_CANDIDATES_SQL = """
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(CAST(i // 2 AS VARCHAR) || ':' ||
                   string_agg(CAST(hv AS VARCHAR), ',' ORDER BY i)) AS bucket
        FROM sig GROUP BY doc_id, i // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    )"""

# each LSH candidate's estimated Jaccard: the share of its 32 signature
# components that agree
_LSH_EST_SQL = f"""
    est AS (
        SELECT c.id_a, c.id_b,
               {round6_ratio_sql(
                   "sum(CASE WHEN sa.hv = sb.hv THEN 1 ELSE 0 END)",
                   "32",
               )} AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
        GROUP BY 1, 2
    )"""

# the bounded audits' all pairs of capped docs, with each signature
# component's agreement
_AUDIT_PAIR_EQ_SQL = """
    prs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
    ),
    eqs AS MATERIALIZED (
        SELECT p.id_a, p.id_b, sa.i AS i, (sa.hv = sb.hv) AS eq
        FROM prs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b AND sb.i = sa.i
    )"""

# the audits' error summary over signed 1e-12-quantized errors qs(q)
_ERR_STATS_SQL = f"""
    {round6_ratio_dec_sql(
        "sum(abs(q))::HUGEINT",
        "count(*)::HUGEINT * 1000000000000",
    )} AS mae,
    {round6_ratio_dec_signed_sql(
        "sum(q)::HUGEINT",
        "count(*)::HUGEINT * 1000000000000",
    )} AS bias,
    {round6_ratio_dec_sql("max(abs(q))::HUGEINT", "1000000000000")} AS max_abs_err"""

# connected components of the pair set p(id_a, id_b): every node reaches
# its component's least id as r
_REACH_SQL = """
    edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b, id_a FROM p
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
    )"""

# 60-bit SimHash votes over each doc's tokens tok(doc_id, t)
_SIMHASH_BITS_SQL = """
    h AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 11))::BIGINT AS h FROM tok
    ),
    bits AS (
        SELECT doc_id, j.j,
               sum(CASE WHEN ((h >> j.j) & 1) = 1 THEN 1 ELSE -1 END) AS s
        FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) j
        GROUP BY 1, 2
    )"""


def _srp_planes_sql(n_planes: int, name: str = "planes") -> str:
    """CTEs dims, hs, `name`: `n_planes` md5-seeded random hyperplanes
    over the 64 embedding dims (similarity's SRP planes)."""
    return f"""
    dims AS (SELECT unnest(generate_series(0, 63)) AS d),
    hs AS (SELECT unnest(generate_series(0, {n_planes - 1})) AS h),
    {name} AS (
      SELECT hs.h, dims.d,
             (('0x' || substr(md5('plane' || hs.h || ':' || dims.d), 1, 8))::BIGINT
              / 4294967296.0) * 2.0 - 1.0 AS c
      FROM hs, dims
    )"""


# each vector e(vec_id, v)'s SRP bucket: one bit per plane, set when the
# dot product is >= 0
_SRP_BUCKETS_SQL = """
    comp AS (SELECT vec_id, dims.d, v[dims.d + 1] AS x FROM e, dims),
    dots AS (
      SELECT comp.vec_id, p.h, sum(comp.x * p.c) AS dp
      FROM comp JOIN planes p ON p.d = comp.d
      GROUP BY 1, 2
    ),
    buckets AS (
      SELECT vec_id, sum(CASE WHEN dp >= 0 THEN 1 << h ELSE 0 END) AS b
      FROM dots GROUP BY 1
    )"""

# K-means: every stage is exact — md5 seed draw, left-to-right float
# folds (list_reduce mirrors F.aggregate), DECIMAL(38,12) mean/inertia
# sums — so two engines reproduce identical clusters bit-for-bit. The
# dim (64) is inlined; the Spark operator stays dimension-generic.
_KM_DIST = """list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(b.v, c.cvec),
                             s -> (s[1] - s[2]) * (s[1] - s[2]))),
            (x, y) -> x + y)"""

_KM_SEEDS_SQL = """
    base AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (
      SELECT id, v, md5(CAST(id AS VARCHAR)) AS h
      FROM base ORDER BY h LIMIT 8
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY h) - 1 AS cid, v AS cvec FROM seeds
    )"""


def _km_assign_sql(
    n: int, d_cols: str = "b.id, b.v", a_cols: str = "id, v, cid", mat: str = ""
) -> str:
    """CTEs d{n}, a{n}: every vector against the centers c{n-1}, then its
    nearest center; `d_cols` and `a_cols` pick the carried columns."""
    return f"""
    d{n} AS (
      SELECT {d_cols}, c.cid, {_KM_DIST} AS dist
      FROM base b CROSS JOIN c{n - 1} c
    ),
    a{n} AS {mat}(
      SELECT {a_cols} FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
        FROM d{n}
      ) WHERE rn = 1
    )"""


def _km_update_sql(n: int) -> str:
    """CTEs u{n}, c{n}: the centers moved to their members' means."""
    return f"""
    u{n} AS (
      SELECT cid, pos,
             CAST(sum(CAST(v[pos] AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
      FROM a{n} CROSS JOIN range(1, 65) t(pos)
      GROUP BY 1, 2
    ),
    c{n} AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM u{n} GROUP BY 1)"""


def _kmeans_sql(a_cols: str = "id, v, cid") -> str:
    """CTEs base .. c2: the seeds and two Lloyd rounds; the third
    assignment is the caller's (_km_assign_sql(3, ...))."""
    return ",".join(
        [
            _KM_SEEDS_SQL,
            _km_assign_sql(1, a_cols=a_cols),
            _km_update_sql(1),
            _km_assign_sql(2, a_cols=a_cols),
            _km_update_sql(2),
        ]
    )


# text.language_id's stopword-panel scores and its pick
_LANG_SCORES_SQL = r"""
    scores AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text),
                   '\b(der|die|und|das|ist|nicht|mit|ein)\b')) * 1.0
                   / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS s_de,
               len(regexp_extract_all(lower(text),
                   '\b(the|and|of|to|in|is|that|for|with)\b')) * 1.0
                   / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS s_en,
               len(regexp_extract_all(lower(text),
                   '\b(el|la|los|que|es|para|con|una)\b')) * 1.0
                   / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS s_es,
               len(regexp_extract_all(lower(text),
                   '\b(le|la|les|et|est|que|pour|dans)\b')) * 1.0
                   / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS s_fr
        FROM documents
    )"""

_LANG_PRED_SQL = """
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END"""

# text.quality_score's per-doc ratios (select items after doc_id) and
# the score over them
_QUALITY_STATS_SQL = f"""
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
    {round6_ratio_sql(_PUNCT_SQL, "greatest(length(text), 1)")} AS punct_ratio,
    {round6_ratio_sql(
        "len(regexp_extract_all(text, '[0-9]'))",
        "greatest(length(text), 1)",
    )} AS digit_ratio,
    {round6_ratio_sql(_STOP_HITS_SQL, _WORDS_SQL)} AS stopword_ratio"""

_QUALITY_SQL = """
    CAST(round(CAST(0.4 * least(n_words / 100.0, 1.0)
        + 0.3 * least(stopword_ratio * 3, 1.0)
        + 0.2 * (1.0 - least(punct_ratio * 4, 1.0))
        + 0.1 * (1.0 - least(digit_ratio * 5, 1.0))
        AS DECIMAL(18,7)), 6) AS DOUBLE)"""


def _quality_cte_sql(rel: str) -> str:
    """CTEs stats, q: text.quality_score of every doc of `rel`."""
    return f"""
    stats AS (
        SELECT doc_id, {_QUALITY_STATS_SQL}
        FROM {rel}
    ),
    q AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM stats)"""


# mean µ-quality qu of all docs and of the kept ones (is_keep)
_KEPT_QUALITY_SQL = f"""
    {round6_ratio_dec_sql(
        "sum(qu)::HUGEINT",
        "count(*)::HUGEINT * 1000000",
    )} AS mean_quality_all,
    {round6_ratio_dec_sql(
        "sum(CASE WHEN is_keep THEN qu ELSE 0 END)::HUGEINT",
        "greatest(sum(CASE WHEN is_keep THEN 1 ELSE 0 END), 1)::HUGEINT * 1000000",
    )} AS mean_quality_kept"""

# text.bigram_lm_score's counts: per doc and corpus-wide bigram counts,
# each bigram context's total and the vocabulary size
_BIGRAM_COUNTS_SQL = r"""
    words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
      FROM words WHERE len(w) >= 2
    ),
    grams AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg FROM idx),
    per_doc AS (SELECT doc_id, bg, count(*) AS m FROM grams GROUP BY 1, 2),
    corpus AS (SELECT bg, CAST(sum(m) AS BIGINT) AS cbg FROM per_doc GROUP BY 1),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cbg) AS BIGINT) AS cw1
      FROM corpus GROUP BY 1
    ),
    vocab AS (
      SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM words)
    )"""

# each doc's bigram count and add-one-smoothed mean log-likelihood over
# those counts
_BIGRAM_SCORE_SQL = """
    SELECT p.doc_id, CAST(sum(p.m) AS BIGINT) AS n_bigrams,
           round(
             CAST(sum(CAST(p.m * ln((c.cbg + 1) / (x.cw1 + vocab.v)) AS DECIMAL(28,12))) AS DOUBLE)
             / sum(p.m), 6) AS lm_score
    FROM per_doc p
    JOIN corpus c USING (bg)
    JOIN ctx x ON split_part(p.bg, ' ', 1) = x.w1, vocab
    GROUP BY 1"""

# the contamination oracles' word trigram sets: of three benchmark
# "docs" (the 9 lowest doc ids, by doc_id % 3) and of every doc
_BENCH_TRIGRAMS_SQL = r"""
    bdocs AS (
      SELECT 'b' || CAST(doc_id % 3 AS VARCHAR) AS benchmark, text
      FROM documents WHERE doc_id < 9
    ),
    bw AS (
      SELECT benchmark,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM bdocs
    ),
    bg AS (
      SELECT DISTINCT benchmark, array_to_string(ws[i:i+2], ' ') AS g
      FROM bw, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)
    )"""

_CORPUS_TRIGRAMS_SQL = r"""
    cw AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ),
    cg AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
      FROM cw, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)
    )"""

# the global event-time midpoint (integer µs, floored) that splits the
# drift operators' two halves
_MIDPOINT_SQL = """
    scal AS (
      SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2) AS BIGINT) AS mid
      FROM events
    )"""

# per (event type, value): its count in each half (profiling._half_value_counts)
_HALF_VALUE_COUNTS_SQL = """
    counts AS (
      SELECT event_type AS name, CAST(value AS DOUBLE) AS v,
             sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal) THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal) THEN 0 ELSE 1 END) AS c2
      FROM events GROUP BY 1, 2
    )"""

# the two-sample ECDF steps over counts (_HALF_VALUE_COUNTS_SQL): each
# half's cumulative count at every value, and each half's total
_ECDF_STEPS_SQL = """
    stepped AS (
      SELECT name,
             sum(c1) OVER (PARTITION BY name ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
             sum(c2) OVER (PARTITION BY name ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
             sum(c1) OVER (PARTITION BY name) AS n1,
             sum(c2) OVER (PARTITION BY name) AS n2
      FROM counts
    )"""


def _session_steps_sql(name: str) -> str:
    """CTEs ordered, sess, `name`: windows.sessionize's sessions (a new
    one after 1800 s), then each event's successor in its session as
    (from_type, to_type)."""
    return f"""
    ordered AS (
      SELECT user_id, event_id, event_type, epoch(ts) AS t,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, t,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    ),
    {name} AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id, session_id
                                    ORDER BY t, event_id) AS to_type
      FROM sess
    )"""


def _secs_sessions_sql(cols: str) -> str:
    """CTEs o, s: windows._second_sessions' sessions in whole seconds (a
    new one after 1800 s) as s.sess; `cols` are o's columns between
    user_id and secs."""
    return f"""
    o AS (
      SELECT user_id, {cols}, epoch(ts) AS secs,
             lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts), event_id) AS prev
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, secs, event_type,
             sum(CASE WHEN prev IS NULL OR secs - prev > 1800.0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY secs, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM o
    )"""


def _us_sessions_sql(cols: str, order: str) -> str:
    """CTEs ordered, flagged, sess: gaps-and-islands sessions in integer
    µs (windows._us_sessions), a new `sid` after a gap over 1800 s.
    `cols` are ordered's columns after user_id; `order` leads the
    session-number window's sort key (ties break on event_id)."""
    return f"""
    ordered AS (
      SELECT user_id, {cols},
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                     THEN 1 ELSE 0 END AS ns
      FROM ordered
    ),
    sess AS (
      SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY {order}, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )"""


# users linked by co-activity: distinct (user, event type × hour) cells,
# cells of at most 200 users, and user pairs sharing at least 2 of them
_COACTIVITY_EDGES_SQL = """
    occ AS MATERIALIZED (
      SELECT DISTINCT user_id AS u,
             event_type || ':' ||
                 CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) AS VARCHAR) AS cell
      FROM events
    ),
    small AS (SELECT cell FROM occ GROUP BY cell HAVING count(*) <= 200),
    edges AS MATERIALIZED (
      SELECT a.u AS a, b.u AS b
      FROM (SELECT occ.* FROM occ JOIN small USING (cell)) a
      JOIN (SELECT occ.* FROM occ JOIN small USING (cell)) b
        ON a.cell = b.cell AND a.u < b.u
      GROUP BY 1, 2 HAVING count(*) >= 2
    )"""


def _pearson_sql(keys: str, n_col: str, r_col: str) -> str:
    """CTE s and the final SELECT: per `keys` group of pairs(keys.., x,
    y), the pair count as `n_col` and Pearson r as `r_col` from exact
    integer moment sums, groups with zero variance dropped — the twin of
    windows._pearson."""
    group = ", ".join(str(i + 1) for i in range(len(keys.split(","))))
    return f"""
    s AS (
      SELECT {keys},
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY {group}
    )
    SELECT {keys}, n AS {n_col},
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS {r_col}
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"""


ORACLES = dict(_TS_ORACLES)
ORACLES.update(
    {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   {round6_ratio_sql("sum(CAST(l_quantity AS BIGINT))", "count(*)")} AS avg_qty,
                   {round6_ratio_sql(f"sum({cents_sql('l_discount')})", "100 * count(*)")} AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02'
            GROUP BY 1, 2
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "json_props_stats": f"""
            WITH ext AS (
              SELECT event_type,
                     CASE WHEN json_valid(props)
                          THEN json_extract_string(props, '$.k') END AS vs
              FROM events
            ), kk AS (
              SELECT event_type,
                     CASE WHEN regexp_matches(vs, '^-?[0-9]{{1,12}}$')
                          THEN CAST(vs AS BIGINT) END AS v
              FROM ext
            )
            SELECT event_type AS name,
                   count(*) AS n,
                   CASE WHEN count(v) = 0 THEN -1.0
                        ELSE {round6_ratio_dec_signed_sql("sum(v)", "count(v)")}
                   END AS k_mean,
                   coalesce(min(v), -1) AS k_min,
                   coalesce(max(v), -1) AS k_max,
                   count(DISTINCT v) AS k_distinct
            FROM kk GROUP BY 1
        """,
        "value_percentiles": """
            SELECT event_type AS name,
                   round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
                   round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS p95,
                   round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "ts_sliding_hour_15m": """
            SELECT CAST(floor(epoch(ts)/900)*900 - 900*k AS BIGINT) AS w_start,
                   event_type AS name,
                   count(*) AS cnt,
                   round(sum(value), 4) AS total
            FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
            GROUP BY 1, 2
        """,
        "range_join_user_events": """
            SELECT a.event_id AS error_id, b.event_id AS click_id,
                   round(abs(epoch(a.ts) - epoch(b.ts)), 6) AS gap_s
            FROM events a JOIN events b ON a.user_id = b.user_id
            WHERE a.event_type = 'error' AND b.event_type = 'click'
              AND abs(epoch(a.ts) - epoch(b.ts)) <= 300
        """,
        "rollup_revenue_region": """
            SELECT coalesce(r_name, 'ALL') AS region,
                   coalesce(n_name, 'ALL') AS nation,
                   round(CAST(sum(rev) AS DOUBLE), 2) AS revenue,
                   CAST(sum(n) AS BIGINT) AS n_orders
            FROM (
                SELECT o_custkey,
                       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
                       count(*) AS n
                FROM orders GROUP BY 1
            ) o
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "semi_join_urgent_custs": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
            )
        """,
        "anti_join_quiet_custs": """
            SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
            )
        """,
        "ts_multires_rollup": """
            SELECT 'minute' AS grain,
                   CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS i_time,
                   count(*) AS cnt, round(sum(value), 4) AS total
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'hour', CAST(floor(epoch(ts)/3600)*3600 AS BIGINT),
                   count(*), round(sum(value), 4)
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'day', CAST(floor(epoch(ts)/86400)*86400 AS BIGINT),
                   count(*), round(sum(value), 4)
            FROM events GROUP BY 2
        """,
        "window_top_orders": """
            SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
                SELECT o_orderpriority, o_orderkey,
                       round(o_totalprice, 2) AS o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "dedup_exact_groups": """
            WITH docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE (doc_id + 1000000) % 5 = 0
            )
            SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keep_id
            FROM docs GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_exact_keep": """
            WITH docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE (doc_id + 1000000) % 5 = 0
            )
            SELECT min(doc_id) AS doc_id FROM docs GROUP BY md5(text)
        """,
        "text_stats": f"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                   {round6_ratio_sql(_PUNCT_SQL, "greatest(length(text), 1)")} AS punct_ratio,
                   {round6_ratio_sql(
                       "len(regexp_extract_all(text, '[0-9]'))",
                       "greatest(length(text), 1)",
                   )} AS digit_ratio,
                   {round6_ratio_sql(_SPACES_SQL, "greatest(length(text), 1)")} AS space_ratio,
                   {round6_ratio_sql(_STOP_HITS_SQL, _WORDS_SQL)}
                         AS stopword_ratio,
                   {round6_ratio_sql(
                       "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))",
                       _WORDS_SQL,
                   )}
                         AS mean_word_len
            FROM documents
        """,
        "token_topk": """
            SELECT token, count(*) AS n FROM (
                SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
                FROM documents
            ) GROUP BY 1 ORDER BY n DESC, token LIMIT 20
        """,
        "sample_split": """
            WITH b AS (
                SELECT *,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT
                           % 1000000 AS bkt
                FROM documents
            )
            SELECT CASE WHEN bkt < 900000 THEN 'train'
                        WHEN bkt < 950000 THEN 'val'
                        ELSE 'test' END AS split,
                   lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM b GROUP BY 1, 2
        """,
        "stratified_sample": """
            WITH b AS (
                SELECT *,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT
                           % 1000000 AS bkt
                FROM documents
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS min_id,
                   max(doc_id) AS max_id
            FROM b
            WHERE bkt < CASE lang WHEN 'en' THEN 250000
                                  WHEN 'es' THEN 500000
                                  WHEN 'zh' THEN 1000000
                                  ELSE 100000 END
            GROUP BY 1
        """,
        "repetition_stats": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
                FROM documents WHERE doc_id < 100
            ),
            g AS (
                SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g
                FROM w, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)
            ),
            c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   {round6_ratio_sql("sum(c) - count(*)", "sum(c)")} AS dup_frac,
                   {round6_ratio_sql("max(c)", "sum(c)")} AS top_share
            FROM c GROUP BY 1
        """,
        "word_entropy": """
            WITH w AS (
                SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
                FROM documents WHERE doc_id < 200
            ),
            c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2)
            SELECT doc_id,
                   round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
            FROM c GROUP BY 1
        """,
        "sketch_distinct": """
            WITH h AS (
                SELECT event_type,
                       ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 11))::BIGINT AS a,
                       ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 12, 11))::BIGINT AS b
                FROM events
            ),
            i AS (SELECT unnest(generate_series(0, 63)) AS i),
            mins AS (
                SELECT event_type, i.i, min((a + i.i * b) % 17592186044399) AS m
                FROM h, i GROUP BY 1, 2
            ),
            est AS (
                SELECT event_type,
                       round(1125899906841536.0 / CAST(sum(m) AS DOUBLE) - 1.0, 6)
                           AS est_distinct
                FROM mins GROUP BY 1
            ),
            exact AS (
                SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
                FROM events GROUP BY 1
            )
            SELECT est.event_type, est_distinct, n_exact,
                   round(abs(est_distinct - n_exact) / n_exact, 6) AS rel_err
            FROM est JOIN exact USING (event_type)
        """,
        "shard_packing": """
            WITH k AS (
                SELECT doc_id, n_chars,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT AS k
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_chars,
                       sum(n_chars) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS cum
                FROM k
            )
            SELECT CAST(floor((cum - n_chars) * 1.0 / 20000) AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM c GROUP BY 1
        """,
        "cohort_retention": f"""
            WITH e AS (
                SELECT user_id, event_type,
                       CAST(floor(epoch(ts)/86400) AS BIGINT) * 86400 AS day
                FROM events
            ),
            cohorts AS (
                SELECT user_id, min(day) AS cohort
                FROM e WHERE event_type = 'signup' GROUP BY 1
            ),
            activity AS (SELECT DISTINCT user_id, day FROM e),
            j AS (
                SELECT a.user_id, c.cohort,
                       CAST((a.day - c.cohort) / 86400 AS BIGINT) AS "offset"
                FROM activity a JOIN cohorts c USING (user_id)
                WHERE a.day >= c.cohort
            ),
            per AS (
                SELECT cohort, "offset", count(DISTINCT user_id) AS n_active
                FROM j GROUP BY 1, 2
            ),
            sizes AS (SELECT cohort, count(*) AS cohort_size FROM cohorts GROUP BY 1)
            SELECT cohort, "offset",
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(cohort_size AS BIGINT) AS cohort_size,
                   {round6_ratio_sql("n_active", "cohort_size")} AS retention
            FROM per JOIN sizes USING (cohort)
        """,
        "dedup_incremental": """
            WITH seen AS (
                SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 250
            ),
            batch AS (
                SELECT doc_id, lang, md5(text) AS digest
                FROM documents WHERE doc_id >= 250
            ),
            fresh AS (
                SELECT * FROM batch WHERE digest NOT IN (SELECT digest FROM seen)
            ),
            keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY digest)
            SELECT doc_id, lang FROM fresh
            WHERE doc_id IN (SELECT doc_id FROM keep)
        """,
        "token_topk_by_lang": """
            WITH tok AS (
                SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
                FROM documents
            ),
            c AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2),
            r AS (
                SELECT lang, token, n,
                       row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
                FROM c
            )
            SELECT lang, token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5
        """,
        "contamination": """
            WITH w AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
                FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
                FROM w, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)
            ),
            bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
            FROM g JOIN bench USING (g)
            GROUP BY 1
        """,
        "ann_cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
                   ), 6) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "ann_ivf_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
            ),
            cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
                       CAST(embedding AS DOUBLE[]) AS cvec
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
            ),
            assigned AS (
                SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.list_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec),
                                    c.list_id
                       ) AS rn
                FROM embeddings e CROSS JOIN cent c
            ),
            probe AS (
                SELECT c.list_id FROM cent c, q
                ORDER BY list_cosine_similarity(c.cvec, q.v) DESC, c.list_id
                LIMIT 4
            )
            SELECT a.vec_id, round(list_cosine_similarity(a.v, q.v), 6) AS cosine
            FROM assigned a JOIN probe USING (list_id), q
            WHERE a.rn = 1
            ORDER BY cosine DESC, a.vec_id
            LIMIT 10
        """,
        "label_centroids": """
            WITH u AS (
                SELECT label,
                       generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim,
                       unnest(CAST(embedding AS DOUBLE[])) AS x
                FROM embeddings
            )
            SELECT label, CAST(dim AS INT) AS dim,
                   round(avg(x), 6) AS m, count(*) AS n_vecs
            FROM u GROUP BY 1, 2
        """,
        "embed_near_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
              AND round(list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        """,
        "frame_sample": """
            SELECT doc_id AS media_id,
                   CAST(floor(greatest(octet_length(encode(text)) - 1, 0) / 256) + 1 AS BIGINT)
                       AS n_frames
            FROM documents
        """,
        # bucket b of the L1-normalized byte histogram counts bytes with
        # high nibble b: exactly the odd-position chars of hex(payload).
        # regexp_replace('(.).','\1') keeps the first char of each hex
        # pair, then per-digit counting is length arithmetic.
        "multimodal_features": rf"""
            WITH h AS (
                SELECT doc_id AS media_id,
                       octet_length(encode(text)) AS n_bytes,
                       regexp_replace(hex(encode(text)), '(.).', '\1', 'g') AS nib
                FROM documents
            )
            SELECT media_id,
                   CAST(n_bytes AS BIGINT) AS n_bytes,
                   {round6_ratio_sql(
                       "length(nib) - length(replace(nib, '0', ''))",
                       "greatest(n_bytes, 1)",
                   )} AS f0,
                   {round6_ratio_sql(
                       "length(nib) - length(replace(nib, '3', ''))",
                       "greatest(n_bytes, 1)",
                   )} AS f3,
                   {round6_ratio_sql(
                       "length(nib) - length(replace(nib, '7', ''))",
                       "greatest(n_bytes, 1)",
                   )} AS f7,
                   {round6_ratio_sql(
                       "length(nib) - length(replace(nib, 'B', ''))",
                       "greatest(n_bytes, 1)",
                   )} AS f11,
                   {round6_ratio_sql(
                       "length(nib) - length(replace(nib, 'F', ''))",
                       "greatest(n_bytes, 1)",
                   )} AS f15
            FROM h
        """,
        # anti-diagonal islands: a shared span of length S produces
        # S-k+1 consecutive gram matches at one alignment (pa-pb
        # constant); pa - row_number() is constant within each run.
        "duplicated_spans": r"""
            WITH norm AS (
                SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS n
                FROM documents
            ),
            grams AS (
                SELECT doc_id, i AS p, substr(n, i, 16) AS g
                FROM (SELECT doc_id, n,
                             unnest(generate_series(1, greatest(length(n) - 15, 0))) AS i
                      FROM norm)
            ),
            occ AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 200),
            fg AS (SELECT grams.* FROM grams JOIN occ USING (g)),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.p AS pa, b.p AS pb, a.p - b.p AS diag
                FROM fg a JOIN fg b ON a.g = b.g AND a.doc_id < b.doc_id
            ),
            runs AS (
                SELECT id_a, id_b, diag, pa, pb,
                       pa - row_number() OVER (
                           PARTITION BY id_a, id_b, diag ORDER BY pa) AS island
                FROM pairs
            )
            SELECT id_a, id_b,
                   CAST(min(pa) AS BIGINT) AS a_start,
                   CAST(min(pb) AS BIGINT) AS b_start,
                   CAST(count(*) + 15 AS BIGINT) AS span_len
            FROM runs GROUP BY id_a, id_b, diag, island
            HAVING count(*) + 15 >= 40
        """,
        "ngram_novelty": rf"""
            WITH norm AS (
                SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS n
                FROM documents
            ),
            grams AS (
                SELECT DISTINCT doc_id, g FROM (
                    SELECT doc_id, substr(n, i, 8) AS g
                    FROM (SELECT doc_id, n,
                                 unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
                          FROM norm)
                ) WHERE length(g) = 8
            ),
            gdf AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                   {round6_ratio_sql(
                       "sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)",
                       "count(*)",
                   )} AS novelty
            FROM grams JOIN gdf USING (g)
            GROUP BY doc_id
        """,
        # parenthesization mirrors the Spark expressions exactly:
        # ((v-lo)/(hi-lo))*255 + 0.5 floored, then (q*(hi-lo))/255
        "quantize_audit": """
            WITH comp AS (
                SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
                FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS embedding,
                             unnest(generate_series(1, len(embedding))) AS i
                      FROM embeddings)
            ),
            rng AS (SELECT i, min(v) AS lo, max(v) AS hi FROM comp GROUP BY i),
            err AS (
                SELECT label,
                       v - (CASE WHEN hi = lo THEN lo
                                 ELSE lo + floor((v - lo) / (hi - lo) * 255 + 0.5) * (hi - lo) / 255
                            END) AS e
                FROM comp JOIN rng USING (i)
            )
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n_components,
                   round(sqrt(avg(e * e)), 6) AS rmse,
                   round(max(abs(e)), 6) AS max_abs_err,
                   round(avg(abs(e)), 6) AS mean_abs_err
            FROM err GROUP BY label
        """,
        "kaplan_meier": """
            WITH a AS (
                SELECT user_id, min(epoch_us(ts)) AS ta
                FROM events WHERE event_type = 'signup' GROUP BY 1
            ),
            conv AS (
                SELECT e.user_id,
                       min((epoch_us(e.ts) - a.ta) // 86400000000) AS dur
                FROM events e JOIN a USING (user_id)
                WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > a.ta
                GROUP BY 1
            ),
            endt AS (SELECT max(epoch_us(ts)) AS e FROM events),
            per_user AS (
                SELECT coalesce(c.dur, (endt.e - a.ta) // 86400000000) AS period,
                       c.dur IS NOT NULL AS obs
                FROM a LEFT JOIN conv c USING (user_id), endt
            ),
            grid AS (
                SELECT period,
                       sum(CASE WHEN obs THEN 1 ELSE 0 END) AS n_events,
                       sum(CASE WHEN obs THEN 0 ELSE 1 END) AS n_censored
                FROM per_user GROUP BY 1
            ),
            risk AS (
                SELECT period, n_events, n_censored,
                       sum(n_events + n_censored)
                           OVER (ORDER BY period DESC) AS n_at_risk
                FROM grid
            )
            SELECT CAST(period AS BIGINT) AS period,
                   CAST(n_at_risk AS BIGINT) AS n_at_risk,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(n_censored AS BIGINT) AS n_censored,
                   CASE WHEN max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
                             OVER (ORDER BY period) = 1
                        THEN 0.0
                        ELSE round(exp(sum(CASE WHEN n_events < n_at_risk
                                                THEN ln(1 - n_events * 1.0 / n_at_risk)
                                                ELSE 0.0 END)
                                       OVER (ORDER BY period)), 6)
                   END AS survival
            FROM risk
        """,
        "domain_cap": """
            WITH ranked AS (
                SELECT source, doc_id, n_chars,
                       row_number() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum,
                   CAST(sum(n_chars) AS BIGINT) AS chars_kept
            FROM ranked
            WHERE rn <= CASE WHEN source = 'src0' THEN 100 ELSE 10 END
            GROUP BY source
        """,
    }
)

ORACLES.update(
    {
        "quality_scores": f"""
            WITH stats AS (SELECT doc_id, {_QUALITY_STATS_SQL} FROM documents)
            SELECT doc_id, {_QUALITY_SQL} AS quality FROM stats
        """,
        "lang_id": f"""
            WITH {_LANG_SCORES_SQL},
            pred AS (
                SELECT doc_id, lang,
                       {_LANG_PRED_SQL} AS lang_pred
                FROM scores
            )
            SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2
        """,
        "doc_fingerprint": f"""
            WITH {_SHINGLE_CTE}
            SELECT doc_id, min(md5(s)) AS fingerprint FROM sh GROUP BY 1
        """,
        "minhash_first_hashes": f"""
            WITH {_SHINGLE_CTE},
            {_MINHASH_AB_SQL}
            SELECT doc_id,
                   min(a % 17592186044399) AS h0,
                   min((a + b) % 17592186044399) AS h1
            FROM h GROUP BY 1
        """,
        "event_sessions": f"""
            WITH o AS (
                SELECT user_id, event_id, epoch(ts) AS secs,
                       lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts), event_id) AS prev
                FROM events
            ),
            s AS (
                SELECT user_id,
                       sum(CASE WHEN prev IS NULL OR secs - prev > 1800.0 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY secs, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM o
            )
            SELECT user_id,
                   CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events,
                   {round6_ratio_sql("count(*)", "max(session_id)")} AS events_per_session
            FROM s GROUP BY 1
        """,
        "asof_signup_purchase": """
            SELECT p.event_id, p.user_id,
                   epoch_us(p.ts) - epoch_us(s.ts) AS usec_since_signup
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
            ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id AND p.ts >= s.ts
        """,
        "simhash_near_pairs": f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text),
                           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS t
                FROM documents
            ),
            {_SIMHASH_BITS_SQL},
            fp AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY 1
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLE_CTE},
            {_shingle_overlap_sql()}
            SELECT id_a, id_b,
                   {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} AS jaccard
            FROM shared
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} >= 0.25
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            {_shingle_overlap_sql()},
            p AS (
                SELECT id_a, id_b FROM shared
                JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
                WHERE {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} >= 0.25
            ),
            {_REACH_SQL}
            SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        """,
        "training_data_prep": f"""
            WITH u AS (
                SELECT doc_id, text, lang FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text, lang FROM documents
                WHERE doc_id % 5 = 0
            ),
            keep AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY md5(text)),
            k AS (SELECT u.* FROM u JOIN keep USING (doc_id)),
            stats AS (
                SELECT doc_id, lang,
                       {_QUALITY_STATS_SQL}
                FROM k
            ),
            scored AS (
                SELECT doc_id, lang,
                       {_QUALITY_SQL} AS quality
                FROM stats
            )
            SELECT doc_id, quality FROM scored
            WHERE quality >= 0.5 AND lang = 'en'
        """,
        "simhash_sample": f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text),
                           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS t
                FROM documents WHERE doc_id < 100
            ),
            {_SIMHASH_BITS_SQL}
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY 1
        """,
    }
)

# MinHash+LSH pair oracle: the banding construction is deterministic
# (md5 double-hashing, fixed band digests), so even the "approximate"
# dedup path has an exact SQL twin.
ORACLES["minhash_lsh_pairs"] = f"""
    WITH {_SHINGLE_CTE},
    {_minhash_sig_sql()},
    {_LSH_CANDIDATES_SQL},
    {_LSH_EST_SQL}
    SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2
"""

ORACLES["embed_near_pairs_lsh"] = f"""
    WITH {_srp_planes_sql(6)},
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 1000
    ),
    {_SRP_BUCKETS_SQL},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b ON a.b = b.b AND a.vec_id < b.vec_id
    )
    SELECT p.id_a, p.id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
    FROM pairs p JOIN e ea ON ea.vec_id = p.id_a JOIN e eb ON eb.vec_id = p.id_b
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
"""

ORACLES["ann_lsh_topk"] = f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id = 0),
    {_srp_planes_sql(8)},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_SRP_BUCKETS_SQL},
    qb AS (SELECT b AS qbucket FROM buckets WHERE vec_id = 0),
    probe AS (
      SELECT e.vec_id, e.v FROM e JOIN buckets USING (vec_id), qb
      WHERE bit_count(xor(CAST(b AS BIGINT), CAST(qbucket AS BIGINT))) <= 2
    ),
    scored AS (
      SELECT probe.vec_id, round(list_cosine_similarity(probe.v, q.v), 6) AS cosine
      FROM probe, q
    )
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
"""

def _sql_surgery(base: str, old: str, new: str, count: int = -1) -> str:
    """Anchored .replace for derived oracles: asserts the anchor text
    still exists so an edit to the base SQL fails LOUDLY at import
    time instead of silently no-opping the surgery and degenerating
    the derived oracle into the base query (ADVICE r10). ValueError,
    not assert: `python -O` strips asserts and the no-op would be
    silent again (the minhash_scurve ADVICE-r12 class)."""
    if old not in base:
        raise ValueError(f"oracle surgery anchor missing: {old[:80]!r}")
    return base.replace(old, new, count)


# Scale-path dup clustering = the LSH pair pipeline above + transitive
# closure. The oracle reuses the minhash_lsh_pairs SQL verbatim,
# swapping its final SELECT for a recursive reachability CTE.
ORACLES["dedup_clusters_lsh"] = _sql_surgery(
    _sql_surgery(
        ORACLES["minhash_lsh_pairs"], "WITH ", "WITH RECURSIVE ", 1
    ),
        "SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2",
        f""", p AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.2),
    {_REACH_SQL}
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1""",
)

# PII scrub: the decoration (a pure function of doc_id), the four
# pattern families, and the redaction chain are mirrored expression for
# expression; patterns stay inside the common Java-regex / RE2 subset
# so both engines see identical matches (see operators/pii.py).
ORACLES["pii_scrub"] = r"""
    WITH deco AS (
      SELECT doc_id, source, lang,
             text
             || CASE WHEN doc_id % 3 = 0
                  THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                  ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                  THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.'
                       || (doc_id % 100)::VARCHAR
                  ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' call ' || (doc_id % 900 + 100)::VARCHAR || '-555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' ssn ' || (doc_id % 900 + 100)::VARCHAR || '-'
                       || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE '' END
             AS t
      FROM documents
    ),
    per_doc AS (
      SELECT source, lang,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
             len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS s,
             len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS p,
             len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS i,
             length(t) - length(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                 '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS removed
      FROM deco
    )
    SELECT source, lang,
           count(*)::BIGINT AS n_docs,
           sum(e)::BIGINT AS n_email,
           sum(s)::BIGINT AS n_ssn,
           sum(p)::BIGINT AS n_phone,
           sum(i)::BIGINT AS n_ipv4,
           sum(CASE WHEN e + s + p + i > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pii_docs,
           sum(removed)::BIGINT AS chars_removed
    FROM per_doc
    GROUP BY source, lang
"""

# A-ES weighted sample: md5 slice → uniform → -ln(u)/w is mirrored
# term for term; 17592186044416 = 2^44 (the md5-slice keyspace), and
# the power-of-two division is exact in IEEE double on both engines.
ORACLES["weighted_sample"] = """
    WITH pr AS (
      SELECT doc_id, lang, n_chars,
             -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 11))::BIGINT + 1)
                 / 17592186044416.0) / n_chars AS priority
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, round(priority, 6) AS priority
    FROM pr
    -- pr.priority (qualified): bare "priority" resolves to the ROUNDED
    -- select alias, which ties at 6dp and picks a different top-100
    -- near the boundary than Spark's raw-priority TakeOrdered
    ORDER BY pr.priority, doc_id
    LIMIT 100
"""

# Binned quantiles: bin counts, cumulative ranks, ceil targets, and the
# within-bin interpolation are all deterministic IEEE arithmetic (bin
# width 2.5 is dyadic), so the estimate matches bit for bit.
ORACLES["binned_quantiles"] = """
    WITH binned AS (
      SELECT event_type,
             CAST(least(greatest(floor((value - 0.0) / 2.5), 0), 199) AS BIGINT) AS bin,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cums AS (
      SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS total
      FROM binned
    ),
    qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
    hits AS (
      SELECT event_type, q, bin, c, cum, total,
             greatest(ceil(q * total), 1) AS target
      FROM cums, qs
    )
    SELECT event_type, q,
           round(0.0 + 2.5 * (bin + (target - (cum - c)) / c), 6) AS est_value,
           total::BIGINT AS n
    FROM hits
    WHERE cum >= target AND cum - c < target
"""

# Trailing-window trend operators: bucket counts, window frames, and the
# z-score / EWMA arithmetic are identical IEEE double expressions in both
# engines; EWMA weights are emitted as full-precision reprs so the SQL
# literal parses back to the exact double Spark computes with.
_BUCKET_COUNTS_SQL = """
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
"""

ORACLES["anomaly_zscore"] = f"""
    WITH counts AS ({_BUCKET_COUNTS_SQL}),
    scored AS (
      SELECT name, i_time, n,
             count(n) OVER w AS seen,
             avg(n) OVER w AS mu,
             stddev_samp(n) OVER w AS sd
      FROM counts
      WINDOW w AS (PARTITION BY name ORDER BY i_time
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT name, i_time, n,
           round(mu, 6) AS mean_n,
           round(CASE WHEN sd > 0 THEN (n - mu) / sd ELSE 0.0 END, 6) AS zscore,
           (abs(CASE WHEN sd > 0 THEN (n - mu) / sd ELSE 0.0 END) > 2.0) AS is_anomaly
    FROM scored WHERE seen = 24
"""

_EWMA_W = [repr((1.0 - 0.3) ** j) for j in range(8)]
ORACLES["ewma_smooth"] = f"""
    WITH counts AS ({_BUCKET_COUNTS_SQL}),
    lags AS (
      SELECT name, i_time, n,
             {", ".join(f"lag(n, {j}) OVER w AS x{j}" for j in range(1, 8))}
      FROM counts WINDOW w AS (PARTITION BY name ORDER BY i_time)
    )
    SELECT name, i_time, n,
           round((n * {_EWMA_W[0]}
                  {" ".join(f"+ CASE WHEN x{j} IS NULL THEN 0.0 ELSE {_EWMA_W[j]} * x{j} END" for j in range(1, 8))})
                 / ({_EWMA_W[0]}
                  {" ".join(f"+ CASE WHEN x{j} IS NULL THEN 0.0 ELSE {_EWMA_W[j]} END" for j in range(1, 8))}),
                 6) AS ewma
    FROM lags
"""

ORACLES["rolling_distinct_users"] = """
    WITH pairs AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS d
      FROM events
    ),
    contrib AS (
      SELECT u, d + off * 86400 AS w_end
      FROM pairs CROSS JOIN range(0, 7) t(off)
    )
    SELECT w_end, count(DISTINCT u) AS n_users
    FROM contrib
    WHERE w_end <= (SELECT max(d) FROM pairs)
    GROUP BY 1
"""

ORACLES["funnel_conversion"] = f"""
    WITH s1 AS (
      SELECT user_id AS u, min(epoch(ts)) AS t
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id AS u, min(epoch(e.ts)) AS t
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND epoch(e.ts) > s1.t GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id AS u, min(epoch(e.ts)) AS t
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND epoch(e.ts) > s2.t GROUP BY 1
    ),
    c AS (
      SELECT 1 AS stage, 'signup' AS step_name, count(*) AS n_users FROM s1
      UNION ALL SELECT 2, 'click', count(*) FROM s2
      UNION ALL SELECT 3, 'purchase', count(*) FROM s3
    )
    SELECT stage, step_name, n_users,
           {round6_ratio_sql("n_users", "first_value(n_users) OVER w0")} AS conversion
    FROM c
    WINDOW w0 AS (ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING)
"""

ORACLES["tfidf_top_terms"] = """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS dft FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    ranked AS (
      SELECT doc_id, token, tf, tf * ln(n / dft) AS score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tf * ln(n / dft) DESC, token
             ) AS rank
      FROM tf JOIN dfreq USING (token), n
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
           CAST(tf AS BIGINT) AS tf, round(score, 6) AS score
    FROM ranked WHERE rank <= 3
"""

ORACLES["bigram_lm_score"] = "WITH" + _BIGRAM_COUNTS_SQL + _BIGRAM_SCORE_SQL

ORACLES["normalize_dedup"] = r"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000, '  ' || translate(text, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!! '
      FROM documents WHERE doc_id % 5 = 0
    ),
    norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 \t\n\f\r]', '', 'g'),
               '[ \t\n\f\r]+', ' ', 'g'))) AS digest
      FROM docs
    )
    SELECT digest, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM norm GROUP BY 1 HAVING count(*) > 1
"""

ORACLES["containment_pairs"] = rf"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, substr(text, 1, CAST(floor(length(text) * 0.6) AS INT))
      FROM documents WHERE doc_id % 7 = 0
    ),
    norm AS (
      SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS n0 FROM docs
    ),
    idx AS (
      SELECT doc_id, n0,
             unnest(generate_series(1, greatest(length(n0) - 7, 1))) AS i
      FROM norm
    ),
    sh AS (SELECT DISTINCT doc_id, substr(n0, i, 8) AS s FROM idx),
    {_shingle_overlap_sql()}
    SELECT id_a, id_b, {round6_ratio_sql("shared", "least(sa.sz, sb.sz)")} AS containment
    FROM shared
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE {round6_ratio_sql("shared", "least(sa.sz, sb.sz)")} >= 0.8
"""

ORACLES["kmeans_clusters"] = f"""
    WITH {_kmeans_sql("id, v, cid, dist")},
    {_km_assign_sql(3, "b.id", "id, cid, dist")}
    SELECT cid AS cluster_id, count(*) AS n_vecs,
           CAST(round(sum(CAST(dist AS DECIMAL(38,12))), 6) AS DOUBLE) AS inertia
    FROM a3 GROUP BY 1
"""


# --- round-4 event-profiling oracles ---

ORACLES["session_transitions"] = f"""
    WITH {_session_steps_sql("pairs")},
    cnt AS (
      SELECT from_type, to_type, count(*) AS n_transitions
      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           {round6_ratio_sql("n_transitions", "sum(n_transitions) OVER w0")} AS share
    FROM cnt
    WINDOW w0 AS (PARTITION BY from_type)
"""

ORACLES["interval_coverage"] = """
    WITH iv AS (
      SELECT user_id, epoch(ts) - 300 AS s, epoch(ts) + 300 AS e FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER pw IS NULL OR s > max(e) OVER pw
                  THEN 1 ELSE 0 END AS new_i
      FROM iv
      WINDOW pw AS (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl AS (
      SELECT user_id, s, e,
             sum(new_i) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
      FROM isl GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_intervals,
           round(sum(i_e - i_s), 6) AS covered_sec,
           round(max(i_e - i_s), 6) AS longest_sec
    FROM merged GROUP BY 1
"""

ORACLES["seasonal_baseline"] = f"""
    WITH counts AS ({_BUCKET_COUNTS_SQL}),
    slotted AS (
      SELECT name, i_time, n,
             CAST(floor(i_time / 3600.0) AS BIGINT) % 24 AS slot
      FROM counts
    ),
    base AS (SELECT name, slot, avg(n) AS b FROM slotted GROUP BY 1, 2)
    SELECT s.name, s.i_time, s.n, s.slot,
           round(b, 6) AS baseline,
           round(s.n / b, 6) AS ratio
    FROM slotted s JOIN base USING (name, slot)
"""

ORACLES["key_skew_stats"] = f"""
    WITH pk AS (
      SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
    )
    SELECT event_type AS name,
           CAST(sum(c) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           {round6_ratio_sql("max(c)", "sum(c)")}
               AS top_share,
           round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
           {round6_ratio_dec_sql("sum(c::HUGEINT * c)", "sum(c)::HUGEINT * sum(c)")} AS hhi
    FROM pk GROUP BY 1
"""

ORACLES["event_pivot"] = """
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS i_time,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events GROUP BY 1
"""

ORACLES["doc_chunks"] = r"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, ws,
             CASE WHEN len(ws) <= 24 THEN 1
                  ELSE CAST(ceil((len(ws) - 24) / 16.0) AS BIGINT) + 1 END AS nc
      FROM w
    ),
    x AS (
      SELECT doc_id, ws, unnest(range(0, nc)) AS i FROM m
    )
    SELECT doc_id, i AS chunk_idx,
           len(ws[(i*16+1):(i*16+24)]) AS n_words,
           md5(array_to_string(ws[(i*16+1):(i*16+24)], ' ')) AS digest
    FROM x
"""

ORACLES["inverted_index"] = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    pairs AS (SELECT DISTINCT doc_id, term FROM tok)
    SELECT term, count(*) AS doc_freq,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',') AS top_postings
    FROM pairs GROUP BY 1 HAVING count(*) >= 10
"""

ORACLES["heavy_hitters"] = r"""
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    exact AS (SELECT term, count(*) AS exact_n FROM tok GROUP BY 1),
    top AS (SELECT term, exact_n FROM exact ORDER BY exact_n DESC, term LIMIT 20),
    js AS (SELECT unnest(range(0, 4)) AS j),
    counters AS (
      SELECT j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 11))::BIGINT % 16 AS bkt,
             count(*) AS c
      FROM tok CROSS JOIN js GROUP BY 1, 2
    ),
    probes AS (
      SELECT term, exact_n, j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 11))::BIGINT % 16 AS bkt
      FROM top CROSS JOIN js
    ),
    est AS (
      SELECT p.term, p.exact_n, min(c.c) AS est_n
      FROM probes p JOIN counters c ON p.j = c.j AND p.bkt = c.bkt
      GROUP BY 1, 2
    )
    SELECT term, exact_n, CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - exact_n AS BIGINT) AS overcount
    FROM est
"""

ORACLES["bloom_filter_join"] = f"""
    WITH bkeys AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    pkeys AS (SELECT DISTINCT c_custkey AS k FROM customer),
    js AS (SELECT unnest(range(0, 3)) AS j),
    bpos AS (
      SELECT k, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 11))::BIGINT % 16384 AS pos
      FROM bkeys CROSS JOIN js
    ),
    bloom AS (
      SELECT pos // 32 AS w,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
      FROM bpos GROUP BY 1
    ),
    ppos AS (
      SELECT k, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 11))::BIGINT % 16384 AS pos
      FROM pkeys CROSS JOIN js
    ),
    hits AS (
      SELECT p.k,
             bool_and((coalesce(b.bits, 0) & (1::BIGINT << CAST(p.pos % 32 AS INT))) <> 0) AS cand
      FROM (SELECT k, pos, pos // 32 AS w FROM ppos) p
      LEFT JOIN bloom b ON p.w = b.w
      GROUP BY 1
    ),
    truth AS (
      SELECT count(*) AS n_true FROM pkeys WHERE k IN (SELECT k FROM bkeys)
    ),
    nb AS (SELECT count(*) AS n_build FROM bkeys),
    cand AS (
      SELECT count(*) AS n_probe,
             CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates
      FROM hits
    )
    SELECT n_build, n_probe, n_candidates, n_true,
           CAST(n_candidates - n_true AS BIGINT) AS n_false_pos,
           {round6_ratio_sql("n_candidates - n_true", "greatest(n_probe - n_true, 1)")} AS fp_rate
    FROM cand, truth, nb
"""

ORACLES["salted_join"] = """
    SELECT o_orderpriority,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
"""

ORACLES["unpivot_roundtrip"] = f"""
    -- the Spark side pivots the DECLARED type list (pivot_counts'
    -- contract — a fixed column set is what makes pivot scale-sane),
    -- so the melt only ever yields those five types; mirror the filter
    SELECT name, i_time, n FROM ({_BUCKET_COUNTS_SQL})
    WHERE name IN ('click', 'error', 'purchase', 'signup', 'view')
"""

ORACLES["cluster_quality"] = """
    WITH base AS (
      SELECT label AS lbl, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    percell AS (
      SELECT lbl, pos,
             CAST(sum(CAST(v[pos] AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
      FROM base CROSS JOIN range(1, 65) t(pos)
      GROUP BY 1, 2
    ),
    cents AS (SELECT lbl, list(m ORDER BY pos) AS cvec FROM percell GROUP BY 1),
    dists AS (
      SELECT b.lbl, list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(b.v, c.cvec),
                             s -> (s[1] - s[2]) * (s[1] - s[2]))),
            (x, y) -> x + y) AS d
      FROM base b JOIN cents c ON b.lbl = c.lbl
    ),
    coh AS (
      SELECT lbl, count(*) AS n_vecs,
             CAST(sum(CAST(d AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS coh
      FROM dists GROUP BY 1
    ),
    sep AS (
      SELECT a.lbl, min(list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(a.cvec, b.cvec),
                             s -> (s[1] - s[2]) * (s[1] - s[2]))),
            (x, y) -> x + y)) AS sep
      FROM cents a JOIN cents b ON a.lbl <> b.lbl GROUP BY 1
    )
    SELECT coh.lbl AS label, n_vecs,
           round(coh, 6) AS cohesion,
           round(sep, 6) AS separation,
           round(coh / sep, 6) AS quality_ratio
    FROM coh JOIN sep ON coh.lbl = sep.lbl
"""

ORACLES["pagerank_transitions"] = f"""
    WITH
    {_session_steps_sql("prs")},
    edges AS (
      SELECT from_type AS s, to_type AS t2, count(*) AS w
      FROM prs WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS (SELECT s AS node FROM edges UNION SELECT t2 FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    ow AS (SELECT s, sum(w) AS ow FROM edges GROUP BY 1),
    norm AS (SELECT s, t2, w / ow AS p FROM edges JOIN ow USING (s)),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
    ),
    c1 AS (
      SELECT t2, sum(r.rank * p) AS c
      FROM norm JOIN r0 r ON norm.s = r.node GROUP BY 1
    ),
    d1 AS (
      SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm
      FROM r0 WHERE node NOT IN (SELECT s FROM ow)
    ),
    r1 AS (
      SELECT node,
             CAST(0.15000000000000002 AS DOUBLE) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE)
               * (coalesce(c, CAST(0 AS DOUBLE))
                  + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
      FROM nodes LEFT JOIN c1 ON nodes.node = c1.t2
    ),
    c2 AS (
      SELECT t2, sum(r.rank * p) AS c
      FROM norm JOIN r1 r ON norm.s = r.node GROUP BY 1
    ),
    d2 AS (
      SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm
      FROM r1 WHERE node NOT IN (SELECT s FROM ow)
    ),
    r2 AS (
      SELECT node,
             CAST(0.15000000000000002 AS DOUBLE) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE)
               * (coalesce(c, CAST(0 AS DOUBLE))
                  + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
      FROM nodes LEFT JOIN c2 ON nodes.node = c2.t2
    )
    SELECT node, {round6_bridge_sql("rank")} AS rank FROM r2
"""

ORACLES["asof_tolerance"] = """
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) - epoch_us(s.ts) AS usec_since_signup
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    WHERE epoch(p.ts) - epoch(s.ts) <= 604800.0
"""

ORACLES["boilerplate_chunks"] = rf"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, ws,
             CASE WHEN len(ws) <= 8 THEN 1
                  ELSE CAST(ceil((len(ws) - 8) / 8.0) AS BIGINT) + 1 END AS nc
      FROM w
    ),
    x AS (SELECT doc_id, ws, unnest(range(0, nc)) AS i FROM m),
    c AS (
      SELECT doc_id, md5(array_to_string(ws[(i*8+1):(i*8+8)], ' ')) AS dg FROM x
    ),
    b AS (
      SELECT dg FROM (
        SELECT dg, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1
      ) WHERE nd >= 2
    )
    SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN dg IN (SELECT dg FROM b) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           {round6_ratio_sql(
               "sum(CASE WHEN dg IN (SELECT dg FROM b) THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS boiler_frac
    FROM c GROUP BY 1
"""

ORACLES["pmi_pairs"] = r"""
    WITH raw AS (
      SELECT doc_id AS d,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    tok AS (SELECT DISTINCT d, t FROM raw),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
    tdf AS (SELECT t, count(*) AS tdf FROM tok GROUP BY 1),
    co AS (
      SELECT a.t AS ta, b.t AS tb, count(*) AS pair_docs
      FROM tok a JOIN tok b ON a.d = b.d AND a.t < b.t
      GROUP BY 1, 2 HAVING count(*) >= 30
    )
    SELECT ta, tb, pair_docs,
           round(ln((pair_docs * (SELECT nd FROM n)) * 1.0
                    / (da.tdf * db.tdf)), 6) AS pmi
    FROM co JOIN tdf da ON co.ta = da.t JOIN tdf db ON co.tb = db.t
"""

ORACLES["value_drift"] = """
    WITH scal AS (
      SELECT min(value) AS vmin, max(value) AS vmax,
             CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2) AS BIGINT) AS mid
      FROM events
    ),
    binned AS (
      SELECT event_type AS name,
             CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal) THEN 1 ELSE 2 END AS h,
             CASE WHEN ((SELECT vmax FROM scal) - (SELECT vmin FROM scal)) / 10 <= 0
                  THEN 0
                  ELSE CAST(least(floor((value - (SELECT vmin FROM scal))
                                 / (((SELECT vmax FROM scal) - (SELECT vmin FROM scal)) / 10)),
                            9) AS BIGINT) END AS bin
      FROM events
    ),
    counts AS (SELECT name, h, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3),
    tot AS (SELECT name, h, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1, 2),
    grid AS (
      SELECT name, h, n, gs.bin
      FROM tot CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) gs
    ),
    dense AS (
      SELECT g.name, g.h, g.bin, g.n,
             (coalesce(c.c, 0) + 1) * 1.0 / (g.n + 10) AS q
      FROM grid g LEFT JOIN counts c
        ON g.name = c.name AND g.h = c.h AND g.bin = c.bin
    ),
    q1 AS (SELECT name, bin, q AS q1, n AS n_first FROM dense WHERE h = 1),
    q2 AS (SELECT name, bin, q AS q2, n AS n_second FROM dense WHERE h = 2)
    SELECT q1.name, n_first, n_second,
           round(sum((q2 - q1.q1) * ln(q2 / q1.q1)), 6) AS psi
    FROM q1 JOIN q2 ON q1.name = q2.name AND q1.bin = q2.bin
    GROUP BY 1, 2, 3
"""

ORACLES["period_delta"] = f"""
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    , d AS (
      SELECT name, i_time, n, lag(n) OVER w AS prev_n
      FROM counts WINDOW w AS (PARTITION BY name ORDER BY i_time)
    )
    SELECT name, i_time, n, prev_n,
           n - prev_n AS delta,
           {round6_ratio_signed_sql("n - prev_n", "prev_n")} AS pct_change
    FROM d WHERE prev_n IS NOT NULL
"""

ORACLES["minhash_calibration"] = f"""
    WITH {_SHINGLE_CTE},
    {_minhash_sig_sql()},
    {_LSH_CANDIDATES_SQL},
    {_LSH_EST_SQL},
    filt AS (SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh_n
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ex AS (
        -- integer round-half-up (mirrors the Spark side): exact-rational
        -- jaccards on a 7th-decimal midpoint round differently between
        -- engines with a bare round(double, 6)
        SELECT shared.id_a, shared.id_b,
               {round6_ratio_sql("sh_n", "sa.sz + sb.sz - sh_n")} AS jaccard
        FROM shared
        JOIN sizes sa ON shared.id_a = sa.doc_id
        JOIN sizes sb ON shared.id_b = sb.doc_id
    )
    SELECT f.id_a, f.id_b, f.est_jaccard,
           coalesce(ex.jaccard, CAST(0.0 AS DOUBLE)) AS jaccard,
           round(f.est_jaccard - coalesce(ex.jaccard, CAST(0.0 AS DOUBLE)), 6) AS err
    FROM filt f LEFT JOIN ex ON f.id_a = ex.id_a AND f.id_b = ex.id_b
"""

ORACLES["zorder_layout"] = """
    WITH base AS (
      SELECT user_id % 65536 AS x,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 65536 AS y,
             user_id AS k,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
      FROM events
    ),
    z AS (
      SELECT ((((x >> 0) & 1) << 0) + (((x >> 1) & 1) << 2) + (((x >> 2) & 1) << 4) + (((x >> 3) & 1) << 6) + (((x >> 4) & 1) << 8) + (((x >> 5) & 1) << 10) + (((x >> 6) & 1) << 12) + (((x >> 7) & 1) << 14) + (((x >> 8) & 1) << 16) + (((x >> 9) & 1) << 18) + (((x >> 10) & 1) << 20) + (((x >> 11) & 1) << 22) + (((x >> 12) & 1) << 24) + (((x >> 13) & 1) << 26) + (((x >> 14) & 1) << 28) + (((x >> 15) & 1) << 30)
              + (((y >> 0) & 1) << 1) + (((y >> 1) & 1) << 3) + (((y >> 2) & 1) << 5) + (((y >> 3) & 1) << 7) + (((y >> 4) & 1) << 9) + (((y >> 5) & 1) << 11) + (((y >> 6) & 1) << 13) + (((y >> 7) & 1) << 15) + (((y >> 8) & 1) << 17) + (((y >> 9) & 1) << 19) + (((y >> 10) & 1) << 21) + (((y >> 11) & 1) << 23) + (((y >> 12) & 1) << 25) + (((y >> 13) & 1) << 27) + (((y >> 14) & 1) << 29) + (((y >> 15) & 1) << 31)) AS zv, k, h
      FROM base
    )
    SELECT zv >> 12 AS z_bucket,
           count(*) AS n_rows,
           count(DISTINCT k) AS n_keys,
           count(DISTINCT h) AS n_hours,
           max(h) - min(h) AS hour_span
    FROM z GROUP BY 1
"""

ORACLES["cube_revenue"] = """
    WITH per_order AS (
      SELECT l_orderkey, l_returnflag,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev,
             count(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(o_orderpriority, 'ALL') AS priority,
           round(CAST(sum(rev) AS DOUBLE), 2) AS revenue,
           CAST(sum(n) AS BIGINT) AS n_items
    FROM per_order JOIN orders ON l_orderkey = o_orderkey
    GROUP BY CUBE (l_returnflag, o_orderpriority)
"""

ORACLES["mad_outliers"] = f"""
    WITH med AS (
      SELECT event_type AS name,
             quantile_cont(CAST(value AS DOUBLE), 0.5) AS m
      FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type AS name,
             quantile_cont(abs(CAST(e.value AS DOUBLE) - med.m), 0.5) AS d,
             any_value(med.m) AS m
      FROM events e JOIN med ON e.event_type = med.name
      GROUP BY 1
    )
    SELECT e.event_type AS name,
           count(*) AS n,
           round(any_value(mad.m), 6) AS median,
           round(any_value(mad.d), 6) AS mad,
           CAST(sum(CASE WHEN abs(CAST(e.value AS DOUBLE) - mad.m)
                              > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad.d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           {round6_ratio_sql(
               "sum(CASE WHEN abs(CAST(e.value AS DOUBLE) - mad.m) > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad.d THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS outlier_frac
    FROM events e JOIN mad ON e.event_type = mad.name
    GROUP BY 1
"""

ORACLES["freq_spectrum"] = rf"""
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    counts AS (SELECT t, count(*) AS f FROM tok GROUP BY 1),
    spec AS (SELECT f AS freq, count(*) AS n_tokens FROM counts GROUP BY 1)
    SELECT freq, n_tokens,
           {round6_ratio_sql(
               "sum(freq * n_tokens) OVER (ORDER BY freq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
               "sum(freq * n_tokens) OVER ()",
           )}
             AS cum_mass_share
    FROM spec
"""

ORACLES["schema_profile"] = f"""
    SELECT 'event_id' AS column_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           {round6_ratio_sql(
               "sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS null_rate,
           count(DISTINCT event_id) AS n_distinct,
           CAST(min(event_id) AS VARCHAR) AS min_str,
           CAST(max(event_id) AS VARCHAR) AS max_str
    FROM events
    UNION ALL
    SELECT 'user_id', count(*),
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           {round6_ratio_sql("sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)", "count(*)")},
           count(DISTINCT user_id),
           CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', count(*),
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           {round6_ratio_sql("sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)", "count(*)")},
           count(DISTINCT event_type),
           CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'props', count(*),
           CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           {round6_ratio_sql("sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)", "count(*)")},
           count(DISTINCT props),
           CAST(min(props) AS VARCHAR), CAST(max(props) AS VARCHAR)
    FROM events
"""

ORACLES["fk_conformance"] = f"""
    WITH o_orph AS (
      SELECT count(*) AS n_orphans, count(DISTINCT o_custkey) AS n_orphan_keys
      FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ),
    li_orph AS (
      SELECT count(*) AS n_orphans, count(DISTINCT l_orderkey) AS n_orphan_keys
      FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT 'orders.o_custkey' AS fk,
           (SELECT count(*) FROM orders) AS n_child,
           n_orphans, n_orphan_keys,
           {round6_ratio_sql(
               "n_orphans",
               "greatest((SELECT count(*) FROM orders), 1)",
           )} AS orphan_rate
    FROM o_orph
    UNION ALL
    SELECT 'lineitem.l_orderkey',
           (SELECT count(*) FROM lineitem),
           n_orphans, n_orphan_keys,
           {round6_ratio_sql("n_orphans", "greatest((SELECT count(*) FROM lineitem), 1)")}
    FROM li_orph
"""

ORACLES["snapshot_diff"] = """
    WITH new_docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text,
             lang
      FROM documents WHERE doc_id % 31 <> 0
      UNION ALL
      SELECT doc_id + 5000000, text, lang FROM documents WHERE doc_id % 29 = 0
    ),
    o AS (SELECT doc_id, md5(text || chr(31) || lang) AS d FROM documents),
    n AS (SELECT doc_id, md5(text || chr(31) || lang) AS d FROM new_docs),
    j AS (
      SELECT o.d AS d_old, n.d AS d_new
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT CASE WHEN d_old IS NULL THEN 'added'
                WHEN d_new IS NULL THEN 'removed'
                WHEN d_old <> d_new THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_keys
    FROM j GROUP BY 1
"""

ORACLES["knn_join"] = """
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT q_id, vec_id,
             round(list_cosine_similarity(v, qv), 6) AS cosine
      FROM q CROSS JOIN c WHERE vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
"""

ORACLES["fuzzy_match"] = """
    WITH dirty AS (
      SELECT c_custkey + 1000000 AS d_id,
             substring(c_name, 1, 9 + c_custkey % 8)
               || substring(c_name, 11 + c_custkey % 8) AS d_name,
             c_nationkey
      FROM customer
    ),
    cand AS (
      SELECT d_id, c.c_custkey AS cid, levenshtein(d_name, c.c_name) AS dist
      FROM dirty JOIN customer c USING (c_nationkey)
      WHERE levenshtein(d_name, c.c_name) <= 2
    ),
    agg AS (
      SELECT d_id, count(*) AS n_candidates, min(dist) AS best_dist
      FROM cand GROUP BY 1
    ),
    best AS (
      SELECT cand.d_id, min(cid) AS best_id
      FROM cand JOIN agg ON cand.d_id = agg.d_id AND cand.dist = agg.best_dist
      GROUP BY 1
    )
    SELECT agg.d_id AS dirty_id, n_candidates, best_dist, best_id
    FROM agg JOIN best ON agg.d_id = best.d_id
"""

ORACLES["interarrival"] = f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id) AS g
      FROM events
    ),
    rk AS (
      SELECT user_id, g,
             row_number() OVER (PARTITION BY user_id ORDER BY g) AS r,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM gaps WHERE g IS NOT NULL
    ),
    pick AS (
      SELECT user_id, count(*) AS n_gaps, max(g) AS mx,
             max(CASE WHEN r = (n-1)//2 + 1 THEN g END) AS v50lo,
             max(CASE WHEN r = (n-1)//2 + 2 THEN g END) AS v50hi,
             max((n-1) % 2) AS k50,
             max(CASE WHEN r = (9*(n-1))//10 + 1 THEN g END) AS v90lo,
             max(CASE WHEN r = (9*(n-1))//10 + 2 THEN g END) AS v90hi,
             max((9*(n-1)) % 10) AS k90
      FROM rk GROUP BY 1
    )
    SELECT user_id, n_gaps,
           {round6_ratio_dec_sql(
               "(2*v50lo + k50*(coalesce(v50hi, v50lo) - v50lo))::HUGEINT",
               "2000000::HUGEINT",
           )} AS median_gap,
           {round6_ratio_dec_sql(
               "(10*v90lo + k90*(coalesce(v90hi, v90lo) - v90lo))::HUGEINT",
               "10000000::HUGEINT",
           )} AS p90_gap,
           {round6_ratio_dec_sql("mx::HUGEINT", "1000000::HUGEINT")} AS max_gap
    FROM pick
"""

ORACLES["label_agreement"] = f"""
    WITH c AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS q_id, q.label AS ql, c.vec_id AS nid, c.label AS nl,
             round(list_cosine_similarity(c.v, q.v), 6) AS cosine
      FROM c q JOIN c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT q_id, ql, nl,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nid) AS rnk
      FROM scored
    ),
    per AS (
      SELECT q_id, ql,
             CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM ranked WHERE rnk <= 10 GROUP BY 1, 2
    )
    SELECT ql AS label, count(*) AS n_vecs,
           {round6_ratio_sql("sum(m)", "10 * count(*)")} AS mean_agreement,
           CAST(sum(CASE WHEN m * 2 < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
    FROM per GROUP BY 1
"""

ORACLES["lsh_recall"] = f"""
    WITH {_srp_planes_sql(8)},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_SRP_BUCKETS_SQL},
    qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
    qb AS (
      SELECT q_id, qv, b AS qbucket
      FROM qs JOIN buckets ON buckets.vec_id = qs.q_id
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT qs.q_id, e.vec_id,
               row_number() OVER (PARTITION BY qs.q_id
                                  ORDER BY round(list_cosine_similarity(e.v, qs.qv), 6) DESC,
                                           e.vec_id) AS rnk
        FROM qs JOIN e ON e.vec_id <> qs.q_id
      ) WHERE rnk <= 10
    ),
    cand AS (
      SELECT qb.q_id, e.vec_id, qb.qv, e.v
      FROM qb, e JOIN buckets bk ON e.vec_id = bk.vec_id
      WHERE bit_count(xor(CAST(bk.b AS BIGINT), CAST(qb.qbucket AS BIGINT))) <= 2
        AND e.vec_id <> qb.q_id
    ),
    napprox AS (SELECT q_id, count(*) AS n_candidates FROM cand GROUP BY 1),
    atop AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
                                           vec_id) AS rnk
        FROM cand
      ) WHERE rnk <= 10
    ),
    hits AS (
      SELECT a.q_id, CAST(count(*) AS BIGINT) AS h
      FROM atop a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
      GROUP BY 1
    )
    SELECT n.q_id, n.n_candidates,
           {round6_ratio_sql("coalesce(h, 0)", "10")} AS recall
    FROM napprox n LEFT JOIN hits ON n.q_id = hits.q_id
"""

ORACLES["trend_slope"] = """
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS i_time,
             count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    mins AS (SELECT name, min(i_time) AS m FROM counts GROUP BY 1),
    xy AS (
      SELECT counts.name,
             CAST((i_time - m) / 86400 AS BIGINT) AS x,
             y
      FROM counts JOIN mins ON counts.name = mins.name
    ),
    s AS (
      SELECT name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM xy GROUP BY 1
    )
    SELECT name, n AS n_buckets,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS intercept,
           round(CASE WHEN n * syy - sy * sy > 0
                      THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                            * CAST(n * sxy - sx * sy AS DOUBLE))
                           / (CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                      ELSE 1.0 END, 6) AS r2
    FROM s
    WHERE n >= 2 AND n * sxx - sx * sx > 0
"""

ORACLES["fd_check"] = """
    WITH p1 AS (
      SELECT o_orderkey AS l, o_custkey AS r FROM orders GROUP BY 1, 2
    ),
    g1 AS (SELECT l, count(*) AS nr FROM p1 GROUP BY 1),
    p2 AS (
      SELECT o_orderkey AS l, o_orderpriority AS r FROM orders GROUP BY 1, 2
    ),
    g2 AS (SELECT l, count(*) AS nr FROM p2 GROUP BY 1),
    p3 AS (
      SELECT o_custkey AS l, o_orderpriority AS r FROM orders GROUP BY 1, 2
    ),
    g3 AS (SELECT l, count(*) AS nr FROM p3 GROUP BY 1)
    SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_lhs,
           CAST(sum(nr) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM g1
    UNION ALL
    SELECT 'o_orderkey->o_orderpriority', count(*),
           CAST(sum(nr) AS BIGINT),
           CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
    FROM g2
    UNION ALL
    SELECT 'o_custkey->o_orderpriority', count(*),
           CAST(sum(nr) AS BIGINT),
           CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
    FROM g3
"""

ORACLES["event_debounce"] = f"""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w >= 60.0
                  THEN 1 ELSE 0 END AS k
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT user_id, count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS n_kept,
           {round6_ratio_sql("count(*) - sum(k)", "count(*)")} AS drop_rate
    FROM flagged GROUP BY 1
"""

ORACLES["count_correlation"] = f"""
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.name AS key_a, b.name AS key_b, a.n AS x, b.n AS y
      FROM counts a JOIN counts b
        ON a.i_time = b.i_time AND a.name < b.name
    ),
    {_pearson_sql("key_a, key_b", "n_buckets", "corr")}
"""

ORACLES["revenue_deciles"] = """
    WITH per_cust AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders GROUP BY 1
    ),
    tiled AS (
      SELECT o_custkey, revenue,
             ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS tile
      FROM per_cust
    )
    SELECT tile, count(*) AS n,
           round(CAST(min(revenue) AS DOUBLE), 2) AS min_value,
           round(CAST(max(revenue) AS DOUBLE), 2) AS max_value,
           round(CAST(sum(revenue) AS DOUBLE), 2) AS sum_value
    FROM tiled GROUP BY 1
"""

ORACLES["winsorize"] = f"""
    WITH cuts AS (
      SELECT event_type AS cname,
             quantile_cont(CAST(value AS DOUBLE), 0.05) AS lo,
             quantile_cont(CAST(value AS DOUBLE), 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type AS name, count(*) AS n,
           round(any_value(lo), 6) AS lo_cut,
           round(any_value(hi), 6) AS hi_cut,
           CAST(sum(CASE WHEN CAST(value AS DOUBLE) < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN CAST(value AS DOUBLE) > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           {round6_bridge_sql("CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*)")} AS mean_raw,
           {round6_bridge_sql(
               "CAST(sum(CAST(least(greatest(CAST(value AS DOUBLE), lo), hi) AS DECIMAL(28,10))) AS DOUBLE) / count(*)",
           )} AS mean_winsorized
    FROM events e JOIN cuts ON e.event_type = cuts.cname
    GROUP BY 1
"""

ORACLES["impute_median"] = f"""
    WITH nulled AS (
      SELECT event_type,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(value AS DOUBLE) END AS v
      FROM events
    ),
    med AS (
      SELECT event_type AS mname, quantile_cont(v, 0.5) AS m
      FROM nulled GROUP BY 1
    )
    SELECT n.event_type AS name, count(*) AS n,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
           round(any_value(m), 6) AS median_used,
           {round6_bridge_sql(
               "CAST(sum(CAST(coalesce(v, m) AS DECIMAL(28,10))) AS DOUBLE) / count(*)",
           )} AS mean_after
    FROM nulled n JOIN med ON n.event_type = med.mname
    GROUP BY 1
"""

ORACLES["source_scorecard"] = rf"""
    WITH dg AS (
      SELECT source, doc_id, md5(text) AS d, length(text) AS nc
      FROM documents
    ),
    cnts AS (SELECT d, count(*) AS c FROM dg GROUP BY 1),
    q AS (
            WITH stats AS (SELECT doc_id, {_QUALITY_STATS_SQL} FROM documents)
            SELECT doc_id, {_QUALITY_SQL} AS quality FROM stats
        )
    SELECT dg.source, count(*) AS n_docs,
           {round6_ratio_dec_sql("sum(nc)::HUGEINT", "count(*)")} AS mean_chars,
           {round6_ratio_sql("sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)", "count(*)")} AS dup_frac,
           {round6_ratio_dec_sql(
               "sum(CAST(round(quality * 1000000) AS BIGINT))::HUGEINT",
               "count(*)::HUGEINT * 1000000",
           )} AS mean_quality
    FROM dg JOIN cnts USING (d) JOIN q USING (doc_id)
    GROUP BY 1
"""

ORACLES["langid_metrics"] = rf"""
    WITH pred AS (
      SELECT doc_id, lang AS t, lang_pred FROM (
            WITH {_LANG_SCORES_SQL},
            pred AS (
                SELECT doc_id, lang,
                       {_LANG_PRED_SQL} AS lang_pred
                FROM scores
            )
            SELECT doc_id, lang, lang_pred FROM pred
        )
    ),
    conf AS (SELECT t, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2),
    row_s AS (SELECT t, CAST(sum(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
    col_s AS (SELECT lang_pred AS t, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
    diag AS (SELECT t, n AS tp FROM conf WHERE t = lang_pred)
    SELECT row_s.t AS lang, n_true,
           coalesce(n_pred, 0) AS n_pred,
           coalesce(tp, 0) AS tp,
           CASE WHEN coalesce(n_pred, 0) > 0
                THEN {round6_ratio_sql("coalesce(tp, 0)", "n_pred")} ELSE 0.0 END AS precision,
           CASE WHEN n_true > 0
                THEN {round6_ratio_sql("coalesce(tp, 0)", "n_true")} ELSE 0.0 END AS recall,
           {round6_ratio_sql("2 * coalesce(tp, 0)", "coalesce(n_pred, 0) + n_true")} AS f1
    FROM row_s LEFT JOIN col_s ON row_s.t = col_s.t
    LEFT JOIN diag ON row_s.t = diag.t
"""

ORACLES["conversion_latency"] = f"""
    WITH first_a AS (
      SELECT user_id, min(epoch_us(ts)) AS ta FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    lat AS (
      SELECT e.user_id, min(epoch_us(e.ts)) - any_value(ta) AS l_us
      FROM events e JOIN first_a USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > ta
      GROUP BY 1
    ),
    ns AS (SELECT count(*) AS n_started FROM first_a),
    rk AS (
      SELECT l_us,
             row_number() OVER (ORDER BY l_us, user_id) AS r,
             count(*) OVER () AS n
      FROM lat
    ),
    pick AS (
      SELECT count(*) AS n_converted,
             sum(l_us) AS sum_us,
             max(CASE WHEN r = (n-1)//2 + 1 THEN l_us END) AS v50lo,
             max(CASE WHEN r = (n-1)//2 + 2 THEN l_us END) AS v50hi,
             max((n-1) % 2) AS k50,
             max(CASE WHEN r = (9*(n-1))//10 + 1 THEN l_us END) AS v90lo,
             max(CASE WHEN r = (9*(n-1))//10 + 2 THEN l_us END) AS v90hi,
             max((9*(n-1)) % 10) AS k90
      FROM rk
    ),
    c AS (
      SELECT n_converted,
             {round6_ratio_dec_sql(
                 "(2*v50lo + k50*(coalesce(v50hi, v50lo) - v50lo))::HUGEINT",
                 "2000000::HUGEINT",
             )} AS p50_sec,
             {round6_ratio_dec_sql(
                 "(10*v90lo + k90*(coalesce(v90hi, v90lo) - v90lo))::HUGEINT",
                 "10000000::HUGEINT",
             )} AS p90_sec,
             {round6_ratio_dec_sql("sum_us::HUGEINT", "1000000::HUGEINT * n_converted")} AS mean_sec
      FROM pick
    )
    SELECT n_started, n_converted,
           {round6_ratio_sql("n_converted", "n_started")} AS conv_rate,
           p50_sec, p90_sec, mean_sec
    FROM ns, c
"""

ORACLES["supplier_pareto"] = """
    WITH per AS (
      SELECT l_suppkey AS k,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      FROM lineitem GROUP BY 1
    ),
    named AS (
      SELECT k, s_name, rev FROM per JOIN supplier ON k = s_suppkey
    ),
    ranked AS (
      SELECT k, s_name, rev,
             sum(rev) OVER (ORDER BY rev DESC, k
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(rev) OVER () AS tot
      FROM named
    )
    SELECT k AS entity_key, s_name AS entity_name,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share,
           CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 AS in_head
    FROM ranked
"""

ORACLES["gini_activity"] = """
    WITH per_key AS (
      SELECT event_type AS name, user_id AS k, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT name, c,
             row_number() OVER (PARTITION BY name ORDER BY c ASC, k ASC) AS i
      FROM per_key
    ),
    s AS (
      SELECT name,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(i * c) AS BIGINT) AS sic
      FROM ranked GROUP BY 1
    )
    SELECT name, n_keys, sc AS n_rows,
           round(2.0 * CAST(sic AS DOUBLE) / CAST(n_keys * sc AS DOUBLE)
                 - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE), 6) AS gini
    FROM s
"""

ORACLES["dedup_recall"] = rf"""
    WITH corpus2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000,
             substring(text, 1, CAST(floor(length(text) * 0.6) AS INT))
      FROM documents WHERE doc_id % 4 = 0
    ),
    norm AS (
      SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS n
      FROM corpus2
    ),
    idx AS (
      SELECT doc_id, n,
             unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
      FROM norm
    ),
    sh AS (SELECT DISTINCT doc_id, substr(n, i, 8) AS s FROM idx),
    {_minhash_sig_sql()},
    {_LSH_CANDIDATES_SQL},
    est AS (
      SELECT c.id_a, c.id_b,
             round(sum(CASE WHEN sa.hv = sb.hv THEN 1 ELSE 0 END) / 32.0, 6)
                 AS ej
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY 1, 2
    ),
    found AS (SELECT id_a, id_b FROM est WHERE ej >= 0.2),
    truth AS (
      SELECT doc_id AS id_a, doc_id + 4000000 AS id_b
      FROM documents WHERE doc_id % 4 = 0
    ),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    nf AS (SELECT count(*) AS n_found FROM found),
    nh AS (
      SELECT count(*) AS n_hit
      FROM found JOIN truth ON found.id_a = truth.id_a AND found.id_b = truth.id_b
    )
    SELECT n_truth, n_found, n_hit,
           {round6_ratio_sql("n_hit", "greatest(n_truth, 1)")} AS recall,
           {round6_ratio_sql("n_hit", "greatest(n_found, 1)")} AS precision_lb
    FROM nt, nf, nh
"""

ORACLES["audience_overlap"] = f"""
    WITH pairs AS (
      SELECT DISTINCT event_type AS g, user_id AS k FROM events
    ),
    sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1),
    shared AS (
      SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_shared
      FROM pairs a JOIN pairs b ON a.k = b.k AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT group_a, group_b,
           sa.n AS n_a, sb.n AS n_b, n_shared,
           {round6_ratio_sql("n_shared", "sa.n + sb.n - n_shared")} AS jaccard,
           {round6_ratio_sql("n_shared", "sa.n")} AS containment_a_in_b
    FROM shared
    JOIN sizes sa ON shared.group_a = sa.g
    JOIN sizes sb ON shared.group_b = sb.g
"""

ORACLES["changepoints"] = """
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT name, i_time,
             count(n) OVER wb AS cb,
             sum(CAST(n AS DOUBLE)) OVER wb AS sb,
             sum(CAST(n AS DOUBLE) * n) OVER wb AS qb,
             count(n) OVER wa AS ca,
             sum(CAST(n AS DOUBLE)) OVER wa AS sa,
             sum(CAST(n AS DOUBLE) * n) OVER wa AS qa
      FROM counts
      WINDOW wb AS (PARTITION BY name ORDER BY i_time
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
             wa AS (PARTITION BY name ORDER BY i_time
                    ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
    ),
    scored AS (
      SELECT name, i_time,
             round(CASE
               WHEN sqrt(((qb/7 - (sb/7)*(sb/7)) + (qa/7 - (sa/7)*(sa/7))) / 2) > 0
                 THEN abs(sa/7 - sb/7)
                      / sqrt(((qb/7 - (sb/7)*(sb/7)) + (qa/7 - (sa/7)*(sa/7))) / 2)
               WHEN abs(sa/7 - sb/7) > 0 THEN CAST('infinity' AS DOUBLE)
               ELSE 0.0 END, 6) AS score
      FROM win WHERE cb = 7 AND ca = 7
    ),
    ranked AS (
      SELECT name, i_time, score,
             row_number() OVER (PARTITION BY name ORDER BY score DESC, i_time) AS rn
      FROM scored
    )
    SELECT name,
           max(CASE WHEN rn = 1 THEN i_time END) AS cp_time,
           max(CASE WHEN rn = 1 THEN score END) AS cp_score,
           CAST(sum(CASE WHEN score >= 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shifts
    FROM ranked GROUP BY name
"""

ORACLES["temperature_mix"] = f"""
    WITH counts AS (
      SELECT lang AS name, count(*) AS n FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM counts),
    weighted AS (
      SELECT name, n,
             {round6_ratio_sql("n", "total")} AS share,
             sqrt(n * 1.0 / total) AS w
      FROM counts, tot
    ),
    wsum AS (SELECT sum(w) AS ws FROM weighted),
    planned AS (
      SELECT name, n, share,
             round(w / ws, 6) AS p_target,
             round(1000 * w / ws, 6) AS raw
      FROM weighted, wsum
    ),
    base AS (
      SELECT name, n, share, p_target,
             CAST(floor(raw) AS BIGINT) AS b,
             raw - floor(raw) AS frac
      FROM planned
    ),
    short AS (SELECT 1000 - sum(b) AS s FROM base),
    ranked AS (
      SELECT base.*, s,
             row_number() OVER (ORDER BY frac DESC, name) AS rk
      FROM base, short
    )
    SELECT name,
           CAST(n AS BIGINT) AS n,
           share,
           p_target,
           CAST(b + CASE WHEN rk <= s THEN 1 ELSE 0 END AS BIGINT) AS target_n,
           CAST(least(b + CASE WHEN rk <= s THEN 1 ELSE 0 END, n) AS BIGINT) AS feasible_n,
           {round6_ratio_sql(
               "least(b + CASE WHEN rk <= s THEN 1 ELSE 0 END, n)",
               "n",
           )} AS sample_rate
    FROM ranked
"""

ORACLES["grouped_weighted_sample"] = """
    WITH pr AS (
      SELECT doc_id, lang, n_chars,
             -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 11))::BIGINT + 1)
                 / 17592186044416.0) / n_chars AS priority
      FROM documents
      WHERE n_chars > 0
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars, priority,
             row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rn
      FROM pr
    )
    SELECT doc_id, lang, n_chars, round(priority, 6) AS priority
    FROM ranked WHERE rn <= 20
"""

ORACLES["decayed_topk"] = """
    WITH endt AS (SELECT max(epoch_us(ts)) AS e FROM events),
    scored AS (
      SELECT user_id,
             exp((epoch_us(ts) - e) * (ln(2) / (86400.0 * 7 * 1000000.0))) AS s
      FROM events, endt
    )
    SELECT user_id,
           round(sum(s), 6) AS decayed_score,
           CAST(count(*) AS BIGINT) AS n_events
    FROM scored GROUP BY user_id
    ORDER BY decayed_score DESC, user_id
    LIMIT 20
"""

ORACLES["pseudonym_audit"] = """
    WITH pairs AS (
      SELECT DISTINCT user_id AS id,
             substr(md5('r5' || user_id::VARCHAR), 1, 16) AS sur
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ids,
           CAST(count(DISTINCT sur) AS BIGINT) AS n_surrogates,
           CAST(count(*) - count(DISTINCT sur) AS BIGINT) AS n_collisions
    FROM pairs
"""

ORACLES["winnow_pairs"] = rf"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS n
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS p,
             ('0x' || substr(md5(substr(n, i, 8)), 1, 11))::BIGINT AS h
      FROM (SELECT doc_id, n,
                   unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
            FROM norm)
    ),
    win AS (
      SELECT doc_id, p,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS cnt
      FROM grams
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE p <= greatest(cnt - 3, 1)),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
    kept AS (SELECT fps.* FROM fps JOIN rare USING (fp)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           {round6_ratio_sql("n_shared", "sa.sz + sb.sz - n_shared")} AS score
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE {round6_ratio_sql("n_shared", "sa.sz + sb.sz - n_shared")} >= 0.2
"""

ORACLES["editdist_pairs"] = rf"""
    WITH ascii_docs AS (
      -- byte-based DuckDB levenshtein == code-point Spark levenshtein
      -- only on ASCII text; scope the certification accordingly
      SELECT * FROM documents WHERE NOT regexp_matches(text, '[^\x00-\x7F]')
    ),
    tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text),
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS t
      FROM ascii_docs
    ),
    {_SIMHASH_BITS_SQL},
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY 1
    ),
    norm AS (
      SELECT doc_id,
             substr(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g'), 1, 160) AS pref
      FROM ascii_docs
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
    )
    SELECT id_a, id_b, hamming,
           CAST(levenshtein(na.pref, nb.pref) AS BIGINT) AS edit_dist
    FROM cand
    JOIN norm na ON na.doc_id = id_a
    JOIN norm nb ON nb.doc_id = id_b
    WHERE levenshtein(na.pref, nb.pref) <= 40
"""

ORACLES["hll_distinct"] = """
    WITH h AS (
      SELECT event_type, md5(user_id::VARCHAR) AS m FROM events
    ),
    r AS (
      SELECT event_type,
             ('0x' || substr(m, 1, 2))::BIGINT AS reg,
             ('0x' || substr(m, 3, 10))::BIGINT AS v
      FROM h
    ),
    regs AS (
      SELECT event_type, reg,
             max(CASE WHEN v = 0 THEN 41 ELSE 41 - length(bin(v)) END) AS rho
      FROM r GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             count(*) AS present,
             sum(pow(2.0, -rho)) AS s
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT event_type, present,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                 / (s + (256.0 - present)) AS raw,
             256.0 - present AS zeros
      FROM agg
    ),
    fin AS (
      SELECT event_type,
             CAST(present AS BIGINT) AS n_registers,
             round(CASE WHEN raw <= 2.5 * 256.0 AND zeros > 0
                        THEN 256.0 * ln(256.0 / zeros)
                        ELSE raw END, 6) AS est_distinct
      FROM est
    ),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT fin.event_type, n_registers, est_distinct, exact_distinct,
           round((est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
    FROM fin JOIN ex ON fin.event_type = ex.event_type
"""

ORACLES["bpe_pairs"] = """
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    vocab AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
    pairs AS (
      SELECT n, substr(token, i, 2) AS pair
      FROM (SELECT token, n, unnest(generate_series(1, length(token) - 1)) AS i
            FROM vocab WHERE length(token) >= 2)
    )
    SELECT pair,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(sum(n) AS BIGINT) AS weight
    FROM pairs GROUP BY 1
    ORDER BY weight DESC, pair
    LIMIT 50
"""

ORACLES["spearman_activity"] = f"""
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT name, i_time,
             2 * rank() OVER (PARTITION BY name ORDER BY n)
                 + count(*) OVER (PARTITION BY name, n) - 1 AS r2
      FROM counts
    ),
    pairs AS (
      SELECT a.name AS key_a, b.name AS key_b, a.r2 AS x, b.r2 AS y
      FROM ranked a JOIN ranked b
        ON a.i_time = b.i_time AND a.name < b.name
    ),
    {_pearson_sql("key_a, key_b", "n_buckets", "spearman")}
"""

ORACLES["quality_auc"] = f"""
    WITH d AS (
      SELECT source, n_chars, (lang = 'en') AS pos FROM documents
    ),
    r AS (
      SELECT source, pos,
             2 * rank() OVER (PARTITION BY source ORDER BY n_chars)
                 + count(*) OVER (PARTITION BY source, n_chars) - 1 AS r2
      FROM d
    ),
    a AS (
      SELECT source,
             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg,
             sum(CASE WHEN pos THEN r2 ELSE 0 END) AS r2pos
      FROM r GROUP BY 1
    )
    SELECT source,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           {round6_ratio_dec_sql(
               "r2pos::HUGEINT - n_pos::HUGEINT * (n_pos + 1)",
               "2::HUGEINT * n_pos::HUGEINT * n_neg",
           )} AS auc
    FROM a WHERE n_pos > 0 AND n_neg > 0
"""

ORACLES["triangle_cooccurrence"] = f"""
    WITH occ AS (
      SELECT DISTINCT user_id AS u,
             event_type || ':' ||
                 CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) AS VARCHAR) AS cell
      FROM events
    ),
    small AS (SELECT cell FROM occ GROUP BY cell HAVING count(*) <= 200),
    o2 AS (SELECT occ.* FROM occ JOIN small USING (cell)),
    edges AS (
      SELECT a.u AS a, b.u AS b
      FROM o2 a JOIN o2 b ON a.cell = b.cell AND a.u < b.u
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    tris AS (
      SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pn AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT ta AS node FROM tris
        UNION ALL SELECT tb FROM tris
        UNION ALL SELECT tc FROM tris
      ) GROUP BY 1
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY 1
    )
    SELECT deg.node,
           CAST(degree AS BIGINT) AS degree,
           CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN degree >= 2
                THEN {round6_ratio_dec_sql(
                         "2 * coalesce(triangles, 0)",
                         "degree::HUGEINT * (degree - 1)",
                     )}
                ELSE 0.0 END AS clustering
    FROM deg LEFT JOIN pn ON deg.node = pn.node
"""

ORACLES["context_budget"] = f"""
    WITH toks AS (
      SELECT len(regexp_extract_all(lower(text), '[a-z]+')) AS t FROM documents
    ),
    cuts AS (SELECT unnest([64, 128, 256, 512]) AS cutoff),
    tot AS (SELECT count(*) AS nd, sum(t) AS nt FROM toks),
    agg AS (
      SELECT cutoff,
             sum(CASE WHEN t > cutoff THEN 1 ELSE 0 END) AS n_docs_over,
             sum(greatest(t - cutoff, 0)) AS tokens_lost
      FROM toks CROSS JOIN cuts GROUP BY 1
    )
    SELECT CAST(cutoff AS BIGINT) AS cutoff,
           CAST(n_docs_over AS BIGINT) AS n_docs_over,
           {round6_ratio_sql("n_docs_over", "nd")}
               AS frac_docs_over,
           CAST(tokens_lost AS BIGINT) AS tokens_lost,
           {round6_ratio_sql("tokens_lost", "nt")}
               AS frac_tokens_lost
    FROM agg, tot
"""

ORACLES["bigram_holdout"] = r"""
    WITH words AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 11))::BIGINT % 10 AS bkt,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    idx AS (
      SELECT doc_id, bkt, w, unnest(generate_series(1, len(w) - 1)) AS i
      FROM words WHERE len(w) >= 2
    ),
    grams AS (SELECT doc_id, bkt, w[i] || ' ' || w[i + 1] AS bg FROM idx),
    corpus AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS cbg
      FROM grams WHERE bkt < 8 GROUP BY 1
    ),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cbg) AS BIGINT) AS cw1
      FROM corpus GROUP BY 1
    ),
    vocab AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(w) AS t FROM words WHERE bkt < 8)
    ),
    per_doc AS (
      SELECT doc_id, bg, count(*) AS m
      FROM grams WHERE bkt >= 8 GROUP BY 1, 2
    ),
    j AS (
      SELECT p.doc_id, p.m,
             coalesce(c.cbg, 0) AS cbg,
             coalesce(x.cw1, 0) AS cw1
      FROM per_doc p
      LEFT JOIN corpus c USING (bg)
      LEFT JOIN ctx x ON split_part(p.bg, ' ', 1) = x.w1
    )
    SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN cbg = 0 THEN m ELSE 0 END) AS BIGINT) AS oov_bigrams,
           round(
             CAST(sum(CAST(m * ln((cbg + 1) / (cw1 + vocab.v)) AS DECIMAL(28,12))) AS DOUBLE)
             / sum(m), 6) AS lm_score
    FROM j, vocab
    GROUP BY 1
"""

ORACLES["theilsen_trend"] = f"""
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.name,
             CAST(b.n - a.n AS BIGINT) AS sn,
             CAST(b.i_time - a.i_time AS BIGINT) AS sd,
             CAST(b.n - a.n AS DOUBLE) / CAST(b.i_time - a.i_time AS DOUBLE) AS s
      FROM counts a JOIN counts b
        ON a.name = b.name AND a.i_time < b.i_time
    ),
    rk AS (
      SELECT name, sn, sd,
             row_number() OVER (PARTITION BY name ORDER BY s, sn, sd) AS r,
             count(*) OVER (PARTITION BY name) AS n
      FROM pairs
    ),
    pick AS (
      SELECT name, count(*) AS n_pairs,
             max(CASE WHEN r = (n-1)//2 + 1 THEN sn END) AS nlo,
             max(CASE WHEN r = (n-1)//2 + 1 THEN sd END) AS dlo,
             max(CASE WHEN r = (n-1)//2 + 2 THEN sn END) AS nhi,
             max(CASE WHEN r = (n-1)//2 + 2 THEN sd END) AS dhi,
             max((n-1) % 2) AS k
      FROM rk GROUP BY 1
    ),
    med AS (
      SELECT name, CAST(n_pairs AS BIGINT) AS n_pairs,
             CASE WHEN k = 0 THEN 3600::HUGEINT * nlo::HUGEINT
                  ELSE 1800::HUGEINT * (nlo::HUGEINT * coalesce(dhi, dlo)::HUGEINT
                                        + coalesce(nhi, nlo)::HUGEINT * dlo::HUGEINT)
             END AS mnum,
             CASE WHEN k = 0 THEN dlo::HUGEINT
                  ELSE dlo::HUGEINT * coalesce(dhi, dlo)::HUGEINT
             END AS mden
      FROM pick
    ),
    sz AS (SELECT name, CAST(count(*) AS BIGINT) AS n_buckets FROM counts GROUP BY 1)
    SELECT sz.name, n_buckets, n_pairs,
           {round6_ratio_dec_signed_sql("mnum", "mden")} AS slope_per_hour
    FROM sz JOIN med USING (name)
"""

ORACLES["session_paths"] = f"""
    WITH {_secs_sessions_sql("event_id, ts, event_type")},
    p AS (
      SELECT event_type || ' > ' ||
                 lead(event_type, 1) OVER w || ' > ' ||
                 lead(event_type, 2) OVER w AS path,
             lead(event_type, 2) OVER w AS last3
      FROM s
      WINDOW w AS (PARTITION BY user_id, sess ORDER BY secs, event_id)
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n
    FROM p WHERE last3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
"""

ORACLES["benford_totalprice"] = f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    base AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM base)
    SELECT digit, n,
           {round6_ratio_sql("n", "t")} AS obs_freq,
           round(log10(1.0 + 1.0 / digit), 6) AS exp_freq,
           round(n * 1.0 / t - log10(1.0 + 1.0 / digit), 6) AS deviation
    FROM base, tot
"""

ORACLES["rfm_segments"] = f"""
    WITH endt AS (SELECT max(epoch_us(ts)) AS e FROM events),
    per_user AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_s,
             count(*) AS freq,
             sum(CAST(value AS DECIMAL(18,6))) AS mon
      FROM events GROUP BY 1
    ),
    tiled AS (
      SELECT user_id,
             e - last_s AS rec_sec,
             freq, mon,
             ntile(3) OVER (ORDER BY (e - last_s) / 86400000000.0 ASC, user_id) AS r_tile,
             ntile(3) OVER (ORDER BY freq DESC, user_id) AS f_tile,
             ntile(3) OVER (ORDER BY mon DESC, user_id) AS m_tile
      FROM per_user, endt
    )
    SELECT CAST(r_tile AS BIGINT) AS r_tile,
           CAST(f_tile AS BIGINT) AS f_tile,
           CAST(m_tile AS BIGINT) AS m_tile,
           CAST(count(*) AS BIGINT) AS n_users,
           {round6_ratio_dec_sql(
               "sum(rec_sec)::HUGEINT",
               "count(*)::HUGEINT * 86400000000",
           )} AS avg_recency_days,
           {round6_ratio_sql("sum(freq)", "count(*)")} AS avg_frequency,
           {round6_ratio_dec_signed_sql(
               "CAST(sum(mon) * 1000000 AS HUGEINT)",
               "count(*)::HUGEINT * 1000000",
           )} AS avg_monetary
    FROM tiled GROUP BY 1, 2, 3
"""

ORACLES["ks_drift"] = f"""
    WITH {_MIDPOINT_SQL},
    {_HALF_VALUE_COUNTS_SQL},
    {_ECDF_STEPS_SQL}
    , agg AS (
      -- integer gap max first, ONE exact ratio after (mirror of
      -- _round6_ratio_dec in HUGEINT — see operators/profiling.ks_drift)
      SELECT name,
             max(abs(cum1::HUGEINT * n2 - cum2::HUGEINT * n1)) AS gapnum,
             CAST(min(n1) AS BIGINT) AS n1,
             CAST(min(n2) AS BIGINT) AS n2
      FROM stepped
      WHERE n1 > 0 AND n2 > 0
      GROUP BY 1
    )
    SELECT name, n1, n2,
           {round6_ratio_dec_sql("gapnum", "n1::HUGEINT * n2")} AS ks
    FROM agg
"""

ORACLES["lateness_audit"] = f"""
    WITH late AS (
      SELECT event_type AS name,
             max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - epoch_us(ts) AS late_us
      FROM events
    ),
    rk AS (
      SELECT name, late_us,
             row_number() OVER (PARTITION BY name ORDER BY late_us) AS r,
             count(*) OVER (PARTITION BY name) AS n
      FROM late
    ),
    pick AS (
      SELECT name,
             count(*) AS n_events,
             sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS n_late,
             max(late_us) AS mx,
             max(CASE WHEN r = (19*(n-1))//20 + 1 THEN late_us END) AS alo,
             max(CASE WHEN r = (19*(n-1))//20 + 2 THEN late_us END) AS ahi,
             max((19*(n-1)) % 20) AS ak,
             max(CASE WHEN r = (99*(n-1))//100 + 1 THEN late_us END) AS blo,
             max(CASE WHEN r = (99*(n-1))//100 + 2 THEN late_us END) AS bhi,
             max((99*(n-1)) % 100) AS bk
      FROM rk GROUP BY 1
    )
    SELECT name,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_late AS BIGINT) AS n_late,
           {round6_ratio_dec_sql("mx::HUGEINT", "1000000::HUGEINT")} AS max_late_sec,
           {round6_ratio_dec_sql(
               "(20*alo + ak*(coalesce(ahi, alo) - alo))::HUGEINT",
               "20000000::HUGEINT",
           )} AS p95_late_sec,
           {round6_ratio_dec_sql(
               "(100*blo + bk*(coalesce(bhi, blo) - blo))::HUGEINT",
               "100000000::HUGEINT",
           )} AS p99_late_sec
    FROM pick
"""

ORACLES["dup_inflation"] = f"""
    WITH d AS (
      SELECT source AS "group", md5(text) AS digest,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    per_digest AS (
      SELECT "group", digest, count(*) AS n, min(tok) AS t
      FROM d GROUP BY 1, 2
    )
    SELECT "group",
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(n * t) AS BIGINT) AS tokens_total,
           CAST(sum(t) AS BIGINT) AS tokens_unique,
           CASE WHEN sum(t) = 0 THEN 0.0
                ELSE {round6_ratio_dec_sql("sum(n::HUGEINT * t)", "sum(t)::HUGEINT")}
           END AS inflation
    FROM per_digest GROUP BY 1
"""

ORACLES["norm_outliers"] = """
    WITH nr AS (
      SELECT label,
             round(sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                                    (a, b) -> a + b)), 6) AS nrm
      FROM embeddings
    ),
    mom AS (
      SELECT label,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(CAST(nrm AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mean_n,
             sqrt(greatest(
               CAST(sum(CAST(nrm * nrm AS DECIMAL(38,12))) AS DOUBLE) / count(*)
                 - (CAST(sum(CAST(nrm AS DECIMAL(38,12))) AS DOUBLE) / count(*))
                 * (CAST(sum(CAST(nrm AS DECIMAL(38,12))) AS DOUBLE) / count(*)),
               0.0)) AS std_n
      FROM nr GROUP BY 1
    ),
    outs AS (
      SELECT nr.label, count(*) AS n_outliers
      FROM nr JOIN mom USING (label)
      WHERE abs(nrm - mean_n) > 2.0 * std_n
      GROUP BY 1
    )
    SELECT mom.label, n_vecs,
           round(mean_n, 6) AS mean_norm,
           round(std_n, 6) AS std_norm,
           CAST(coalesce(n_outliers, 0) AS BIGINT) AS n_outliers
    FROM mom LEFT JOIN outs ON mom.label = outs.label
"""

ORACLES["autocorr_hourly"] = f"""
    WITH counts AS (
      SELECT event_type AS name,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS i_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.name, a.n AS x, b.n AS y
      FROM counts a JOIN counts b
        ON a.name = b.name AND a.i_time + 3600 = b.i_time
    ),
    {_pearson_sql("name", "n_pairs", "autocorr")}
"""

ORACLES["transition_entropy"] = f"""
    WITH {_secs_sessions_sql("event_id, event_type")},
    steps AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id, sess
                                    ORDER BY secs, event_id) AS to_t
      FROM s
    ),
    counts AS (
      SELECT from_type, to_t, count(*) AS c
      FROM steps WHERE to_t IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, sum(c) AS n FROM counts GROUP BY 1),
    ent AS (
      SELECT counts.from_type,
             CAST(min(n) AS BIGINT) AS n_transitions,
             round(CAST(sum(CAST(-(c * 1.0 / n) * log2(c * 1.0 / n)
                                 AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy_bits
      FROM counts JOIN tot USING (from_type)
      GROUP BY 1
    ),
    top AS (
      SELECT from_type, to_t AS top_next FROM (
        SELECT from_type, to_t,
               row_number() OVER (PARTITION BY from_type ORDER BY c DESC, to_t) AS rn
        FROM counts
      ) WHERE rn = 1
    )
    SELECT ent.from_type, n_transitions, entropy_bits, top_next
    FROM ent JOIN top USING (from_type)
"""

ORACLES["join_size_est"] = """
    WITH ja AS (SELECT unnest(generate_series(0, 3)) AS j),
    ca AS (
      SELECT j,
             ('0x' || substr(md5(j::VARCHAR || ':' || CAST(o_custkey AS VARCHAR)), 1, 11))::BIGINT % 1024 AS bkt,
             count(*) AS c
      FROM orders CROSS JOIN ja GROUP BY 1, 2
    ),
    cb AS (
      SELECT j,
             ('0x' || substr(md5(j::VARCHAR || ':' || CAST(c_custkey AS VARCHAR)), 1, 11))::BIGINT % 1024 AS bkt,
             count(*) AS c
      FROM customer CROSS JOIN ja GROUP BY 1, 2
    ),
    dot AS (
      SELECT ca.j, sum(ca.c * cb.c) AS dotp
      FROM ca JOIN cb ON ca.j = cb.j AND ca.bkt = cb.bkt
      GROUP BY 1
    ),
    est AS (SELECT CAST(min(dotp) AS BIGINT) AS est_size FROM dot),
    ka AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS c FROM orders GROUP BY 1),
    kb AS (SELECT CAST(c_custkey AS VARCHAR) AS k, count(*) AS c FROM customer GROUP BY 1),
    ex AS (
      SELECT CAST(coalesce(sum(ka.c * kb.c), 0) AS BIGINT) AS exact_size
      FROM ka JOIN kb USING (k)
    )
    SELECT est_size, exact_size,
           CAST(est_size - exact_size AS BIGINT) AS overcount
    FROM est, ex
"""

ORACLES["skyline_docs"] = f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS toks,
             {round6_ratio_sql(
                 "len(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))",
                 "greatest(len(regexp_extract_all(lower(text), '[a-z]+')), 1)",
             )} AS uniq_ratio
      FROM documents
    ),
    gx AS (SELECT toks AS x, max(uniq_ratio) AS gymax FROM d GROUP BY 1),
    th AS (
      SELECT x,
             max(gymax) OVER (ORDER BY x DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ymax_gt
      FROM gx
    )
    SELECT d.doc_id, d.toks, d.uniq_ratio
    FROM d JOIN th ON d.toks = th.x
    WHERE ymax_gt IS NULL OR d.uniq_ratio > ymax_gt
"""

ORACLES["weighted_median_len"] = """
    WITH d AS (
      SELECT lang, n_chars AS v,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    agg AS (SELECT lang, v, CAST(sum(w) AS BIGINT) AS w FROM d GROUP BY 1, 2),
    st AS (
      SELECT lang, v,
             sum(w) OVER (PARTITION BY lang ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(w) OVER (PARTITION BY lang) AS tot
      FROM agg
    )
    SELECT lang,
           CAST(min(tot) AS BIGINT) AS total_weight,
           CAST(min(v) AS BIGINT) AS wmedian
    FROM st WHERE 2 * cum >= tot GROUP BY 1
"""

ORACLES["langid_confusion"] = f"""
    WITH {_LANG_SCORES_SQL},
    pred AS (
        SELECT lang AS true_lang,
               {_LANG_PRED_SQL} AS lang_pred
        FROM scores
    )
    SELECT true_lang, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
"""

ORACLES["scd2_intervals"] = """
    WITH o AS (
      SELECT user_id, event_type, event_id, ts, epoch_us(ts) AS us,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_state
      FROM events
    ),
    r AS (
      SELECT user_id, event_type, us,
             sum(CASE WHEN prev_state IS NULL OR prev_state <> event_type
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM o
    ),
    per_run AS (
      SELECT user_id, run,
             min(event_type) AS state,
             CAST(min(us) AS BIGINT) AS valid_from_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM r GROUP BY 1, 2
    )
    SELECT user_id, state, valid_from_us,
           coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run),
                    253402300799999999) AS valid_to_us,
           n_events
    FROM per_run
"""

ORACLES["distinctive_terms"] = """
    WITH toks AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    cnt AS (SELECT source, token, count(*) AS n FROM toks GROUP BY 1, 2),
    gterm AS (SELECT token, CAST(sum(n) AS BIGINT) AS gn FROM cnt GROUP BY 1),
    gtot AS (SELECT source, CAST(sum(n) AS BIGINT) AS ng FROM cnt GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM cnt),
    scored AS (
      SELECT cnt.source, cnt.token, CAST(cnt.n AS BIGINT) AS n,
             round(
               ln((cnt.n + 1.0) / (gtot.ng - cnt.n + 1.0))
               - ln((gterm.gn - cnt.n + 1.0) / (tot.N - gtot.ng - (gterm.gn - cnt.n) + 1.0)),
               6) AS log_odds
      FROM cnt
      JOIN gterm USING (token)
      JOIN gtot USING (source), tot
      WHERE cnt.n >= 3
    )
    SELECT source, token, n, log_odds, rank FROM (
      SELECT scored.*,
             CAST(row_number() OVER (PARTITION BY source
                 ORDER BY log_odds DESC, token) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 5
"""

ORACLES["categorical_drift"] = f"""
    WITH {_MIDPOINT_SQL},
    counts AS (
      SELECT event_type AS category,
             CAST(sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal)
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal)
                           THEN 0 ELSE 1 END) AS BIGINT) AS c2
      FROM events GROUP BY 1
    ),
    tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM counts),
    contribs AS (
      SELECT category, c1, c2,
             (c1 - n1 * (c1 + c2) * 1.0 / (n1 + n2))
                 * (c1 - n1 * (c1 + c2) * 1.0 / (n1 + n2))
                 / (n1 * (c1 + c2) * 1.0 / (n1 + n2))
             + (c2 - n2 * (c1 + c2) * 1.0 / (n1 + n2))
                 * (c2 - n2 * (c1 + c2) * 1.0 / (n1 + n2))
                 / (n2 * (c1 + c2) * 1.0 / (n1 + n2)) AS contrib_raw
      FROM counts, tot
    )
    SELECT category, c1, c2,
           round(contrib_raw, 6) AS contrib,
           round(CAST(sum(CAST(contrib_raw AS DECIMAL(28,12))) OVER () AS DOUBLE), 6) AS chi2
    FROM contribs
"""

ORACLES["k_anonymity"] = f"""
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, class_size,
           min(class_size) OVER () AS min_k,
           {round6_ratio_sql(
               "sum(CASE WHEN class_size < 2 THEN class_size ELSE 0 END) OVER ()",
               "sum(class_size) OVER ()",
           )} AS pct_lt_2,
           {round6_ratio_sql(
               "sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) OVER ()",
               "sum(class_size) OVER ()",
           )} AS pct_lt_5,
           {round6_ratio_sql(
               "sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END) OVER ()",
               "sum(class_size) OVER ()",
           )} AS pct_lt_10
    FROM classes
"""

ORACLES["dp_noisy_counts"] = """
    WITH counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
    ),
    draw AS (
      SELECT event_type, n,
             (CAST(concat('0x', substr(md5('dp' || chr(31) || event_type), 1, 12))
                   AS BIGINT) + 0.5) / 281474976710656.0 - 0.5 AS u
      FROM counts
    )
    SELECT event_type, n,
           round(greatest(
             n + (CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END)
                 * (-(1.0 / 0.5)) * ln(1.0 - 2.0 * abs(u)),
             0.0), 6) AS noisy_n
    FROM draw
"""

ORACLES["calibration_bins"] = f"""
    WITH scored AS (
      SELECT least(greatest((n_chars - 50) / 550.0, 0.0), 1.0) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    bins AS (
      SELECT CAST(least(floor(s * 10), 9) AS INTEGER) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             sum(s) AS ssum,
             CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    g AS (
      SELECT bin, n, pos, ssum / n AS mean_score, pos * 1.0 / n AS frac_pos,
             pos * 1.0 / n - ssum / n AS gap_raw
      FROM bins
    )
    SELECT bin, n,
           round(mean_score, 6) AS mean_score,
           {round6_ratio_sql("pos", "n")} AS frac_pos,
           round(gap_raw, 6) AS gap,
           round(CAST(sum(CAST(abs(gap_raw) * n AS DECIMAL(28,12))) OVER ()
                 AS DOUBLE) / sum(n) OVER (), 6) AS ece
    FROM g
"""

ORACLES["filter_sweep"] = f"""
    WITH scored AS (
      SELECT least(n_chars / 500.0, 1.0) AS s, CAST(n_chars AS DOUBLE) AS w
      FROM documents
    ),
    t AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
    pairs AS (SELECT CAST(threshold AS DOUBLE) AS threshold, s, w FROM scored CROSS JOIN t)
    SELECT threshold,
           CAST(sum(CASE WHEN s >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {round6_ratio_sql(
               "sum(CASE WHEN s >= threshold THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS pct_kept,
           round(sum(CASE WHEN s >= threshold THEN w ELSE 0.0 END), 6) AS w_kept,
           round(sum(CASE WHEN s >= threshold THEN w ELSE 0.0 END) / sum(w), 6)
               AS pct_w_kept
    FROM pairs GROUP BY 1
"""

ORACLES["vocab_growth"] = """
    WITH scal AS (
      SELECT CAST(min(doc_id) AS BIGINT) AS lo, CAST(max(doc_id) AS BIGINT) AS hi
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    tb AS (
      SELECT CAST(least(((doc_id - lo) * 10) // greatest(hi - lo + 1, 1) + 1, 10)
                  AS BIGINT) AS bucket,
             token, doc_id
      FROM toks, scal
    ),
    pb AS (
      SELECT bucket, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS bucket_tokens
      FROM tb GROUP BY 1
    ),
    fs AS (SELECT token, min(bucket) AS bucket FROM tb GROUP BY 1),
    nf AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_terms FROM fs GROUP BY 1)
    SELECT pb.bucket, n_docs, bucket_tokens,
           CAST(coalesce(new_terms, 0) AS BIGINT) AS new_terms,
           CAST(sum(bucket_tokens) OVER (ORDER BY pb.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(new_terms, 0)) OVER (ORDER BY pb.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
    FROM pb LEFT JOIN nf USING (bucket)
"""

ORACLES["burstiness"] = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    per_doc AS (
      SELECT token, doc_id, CAST(count(*) AS BIGINT) AS x FROM toks GROUP BY 1, 2
    ),
    per_term AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(x) AS BIGINT) AS total_n,
             CAST(sum(x * x) AS BIGINT) AS sumsq
      FROM per_doc GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS N FROM documents),
    ranked AS (
      SELECT token, n_docs, total_n, sumsq, N,
             CAST(row_number() OVER (ORDER BY n_docs DESC, token) AS BIGINT) AS rank
      FROM per_term, nd
      WHERE n_docs >= 5
    )
    SELECT token, n_docs, total_n,
           round(((sumsq - N * (total_n * 1.0 / N) * (total_n * 1.0 / N))
                  / (N - 1)) / (total_n * 1.0 / N), 6) AS fano,
           rank
    FROM ranked WHERE rank <= 40
"""

ORACLES["forecast_eval"] = f"""
    WITH hourly AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT grp, y,
             lag(y, 1) OVER (PARTITION BY grp ORDER BY hour) AS p1,
             lag(y, 24) OVER (PARTITION BY grp ORDER BY hour) AS ps
      FROM hourly
    )
    SELECT grp AS event_type,
           CAST(count(p1) AS BIGINT) AS n_eval_naive,
           coalesce({round6_ratio_sql("sum(abs(y - p1))", "count(p1)")}, -1.0) AS mae_naive,
           coalesce(round(sqrt(sum((y - p1) * (y - p1)) * 1.0 / count(p1)), 6), -1.0)
               AS rmse_naive,
           CAST(count(ps) AS BIGINT) AS n_eval_seasonal,
           coalesce({round6_ratio_sql("sum(abs(y - ps))", "count(ps)")}, -1.0) AS mae_seasonal,
           coalesce(round(sqrt(sum((y - ps) * (y - ps)) * 1.0 / count(ps)), 6), -1.0)
               AS rmse_seasonal
    FROM l GROUP BY grp
"""
ORACLES["prefix_jaccard_pairs"] = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM toks GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS overlap
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, sa.s AS size_a, sb.s AS size_b, overlap,
           {round6_ratio_sql("overlap", "sa.s + sb.s - overlap")} AS jaccard
    FROM shared
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE overlap * 1.0 / (sa.s + sb.s - overlap) >= 0.95
"""

ORACLES["entity_clusters"] = """
    WITH RECURSIVE dirty AS (
      SELECT c_custkey + 1000000 AS d_id,
             substring(c_name, 1, 9 + c_custkey % 8)
               || substring(c_name, 11 + c_custkey % 8) AS d_name,
             c_nationkey
      FROM customer
    ),
    p AS (
      SELECT d_id AS a, c.c_custkey AS b
      FROM dirty JOIN customer c USING (c_nationkey)
      WHERE levenshtein(d_name, c.c_name) <= 2
    ),
    edges AS (
      SELECT a, b FROM p UNION SELECT b, a FROM p
    ),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
    )
    SELECT node, min(r) AS entity_id FROM reach GROUP BY 1
"""
ORACLES["incremental_rollup"] = """
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS cnt,
           round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_value,
           round(CAST(min(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6) AS min_value,
           round(CAST(max(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6) AS max_value
    FROM events GROUP BY 1, 2
"""

ORACLES["corr_matrix"] = """
    WITH d AS (
      SELECT CAST(l_discount AS DECIMAL(19,6)) AS a,
             CAST(l_extendedprice AS DECIMAL(19,6)) AS b,
             CAST(l_quantity AS DECIMAL(19,6)) AS c,
             CAST(l_tax AS DECIMAL(19,6)) AS t
      FROM lineitem
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(a) AS sa, sum(b) AS sb, sum(c) AS sc, sum(t) AS st,
             sum(a*a) AS qa, sum(b*b) AS qb, sum(c*c) AS qc, sum(t*t) AS qt,
             sum(a*b) AS pab, sum(a*c) AS pac, sum(a*t) AS pat,
             sum(b*c) AS pbc, sum(b*t) AS pbt, sum(c*t) AS pct
      FROM d
    ),
    pairs AS (
      SELECT 'l_discount' AS col_x, 'l_extendedprice' AS col_y, n,
             CAST(pab AS DOUBLE) AS pxy, CAST(sa AS DOUBLE) AS sx, CAST(sb AS DOUBLE) AS sy,
             CAST(qa AS DOUBLE) AS qx, CAST(qb AS DOUBLE) AS qy FROM g
      UNION ALL
      SELECT 'l_discount', 'l_quantity', n, CAST(pac AS DOUBLE), CAST(sa AS DOUBLE),
             CAST(sc AS DOUBLE), CAST(qa AS DOUBLE), CAST(qc AS DOUBLE) FROM g
      UNION ALL
      SELECT 'l_discount', 'l_tax', n, CAST(pat AS DOUBLE), CAST(sa AS DOUBLE),
             CAST(st AS DOUBLE), CAST(qa AS DOUBLE), CAST(qt AS DOUBLE) FROM g
      UNION ALL
      SELECT 'l_extendedprice', 'l_quantity', n, CAST(pbc AS DOUBLE), CAST(sb AS DOUBLE),
             CAST(sc AS DOUBLE), CAST(qb AS DOUBLE), CAST(qc AS DOUBLE) FROM g
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax', n, CAST(pbt AS DOUBLE), CAST(sb AS DOUBLE),
             CAST(st AS DOUBLE), CAST(qb AS DOUBLE), CAST(qt AS DOUBLE) FROM g
      UNION ALL
      SELECT 'l_quantity', 'l_tax', n, CAST(pct AS DOUBLE), CAST(sc AS DOUBLE),
             CAST(st AS DOUBLE), CAST(qc AS DOUBLE), CAST(qt AS DOUBLE) FROM g
    )
    SELECT col_x, col_y, n,
           round((n * pxy - sx * sy)
                 / sqrt((n * qx - sx * sx) * (n * qy - sy * sy)), 6) AS r
    FROM pairs
"""

ORACLES["mutual_info"] = """
    WITH cells AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, hod, n,
             sum(n) OVER () AS tot,
             sum(n) OVER (PARTITION BY event_type) AS nx,
             sum(n) OVER (PARTITION BY hod) AS ny
      FROM cells
    ),
    p AS (
      SELECT event_type, hod, n,
             ln((n / (tot * 1.0)) / ((nx / (tot * 1.0)) * (ny / (tot * 1.0)))) AS pmi_raw,
             (n / (tot * 1.0)) AS pxy
      FROM w
    )
    SELECT event_type, hod, n,
           round(pmi_raw, 6) AS pmi,
           round(CAST(sum(CAST(pxy * pmi_raw AS DECIMAL(28,12))) OVER () AS DOUBLE), 6) AS mi
    FROM p
"""

ORACLES["lift_curve"] = f"""
    WITH scored AS (
      SELECT least(greatest((n_chars - 50) / 550.0, 0.0), 1.0) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    bins AS (
      SELECT CAST(least(floor(s * 10), 9) AS INTEGER) AS bin,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    )
    SELECT bin, n, pos,
           CAST(sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
           CAST(sum(pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
           {round6_ratio_sql("sum(pos) OVER wc", "sum(pos) OVER wt")} AS capture,
           {round6_ratio_dec_sql(
               "sum(pos) OVER wc * sum(n) OVER wt",
               "sum(n) OVER wc * (sum(pos) OVER wt)::HUGEINT",
           )} AS lift
    FROM bins
    WINDOW wc AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING), wt AS ()
"""
ORACLES["topk_churn"] = f"""
    WITH {_MIDPOINT_SQL},
    counts AS (
      SELECT user_id AS key,
             CAST(sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
             CAST(sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal)
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_2
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT key, n_1, n_2,
             CAST(row_number() OVER (ORDER BY n_1 DESC, key) AS BIGINT) AS r1,
             CAST(row_number() OVER (ORDER BY n_2 DESC, key) AS BIGINT) AS r2
      FROM counts
    )
    SELECT key, n_1, n_2,
           CAST(CASE WHEN r1 <= 20 AND n_1 > 0 THEN r1 ELSE 0 END AS BIGINT) AS rank_1,
           CAST(CASE WHEN r2 <= 20 AND n_2 > 0 THEN r2 ELSE 0 END AS BIGINT) AS rank_2,
           CASE WHEN r1 <= 20 AND n_1 > 0 AND r2 <= 20 AND n_2 > 0 THEN 'stayed'
                WHEN r2 <= 20 AND n_2 > 0 THEN 'entered'
                ELSE 'exited' END AS status
    FROM ranked
    WHERE (r1 <= 20 AND n_1 > 0) OR (r2 <= 20 AND n_2 > 0)
"""

ORACLES["embedding_moments"] = f"""
    WITH vals AS (
      SELECT unnest(range(len(embedding))) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    comp AS (
      SELECT dim,
             CASE WHEN v >= 0
               THEN  CAST(floor( v * 1000000000000.0 + 0.5) AS HUGEINT)
               ELSE -CAST(floor(-v * 1000000000000.0 + 0.5) AS HUGEINT)
             END AS q
      FROM vals
    ),
    agg AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             sum(q)::HUGEINT AS q1, sum(q*q)::HUGEINT AS q2
      FROM comp GROUP BY 1
    )
    SELECT CAST(dim AS INT) AS dim, n,
      {round6_ratio_dec_signed_sql("q1", "1000000000000::HUGEINT*n")} AS mean_v,
      {round6_ratio_dec_sql("n*q2 - q1*q1", "1000000000000000000000000::HUGEINT*n*n")} AS var_v
    FROM agg
"""

ORACLES["embedding_drift"] = """
    WITH dims AS (
      SELECT label, vec_id % 2 = 0 AS a,
             unnest(range(len(embedding))) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    per_dim AS (
      SELECT label, dim,
             sum(CASE WHEN a THEN v ELSE 0.0 END) AS sa,
             sum(CASE WHEN a THEN 0.0 ELSE v END) AS sb
      FROM dims GROUP BY 1, 2
    ),
    counts AS (
      SELECT label,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM embeddings GROUP BY 1
    ),
    per_label AS (
      SELECT label, sum(sa * sb) AS dot, sum(sa * sa) AS na2, sum(sb * sb) AS nb2
      FROM per_dim GROUP BY 1
    )
    SELECT p.label, n_a, n_b,
           CASE WHEN sqrt(na2) * sqrt(nb2) > 0
                THEN round(dot / (sqrt(na2) * sqrt(nb2)), 6)
                ELSE -1.0 END AS cos_means,
           round(sqrt(na2 / (n_a * 1.0 * n_a)
                      - 2.0 * dot / (n_a * 1.0 * n_b)
                      + nb2 / (n_b * 1.0 * n_b)), 6) AS l2_shift
    FROM per_label p JOIN counts c ON p.label = c.label
    WHERE n_a > 0 AND n_b > 0
"""

ORACLES["ols2_fit"] = """
    WITH d AS (
      SELECT l_returnflag AS grp,
             CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
             CAST(l_quantity AS DECIMAL(19,6)) AS x1,
             CAST(l_discount AS DECIMAL(19,6)) AS x2
      FROM lineitem
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(x1*x1) AS DOUBLE) AS s11, CAST(sum(x2*x2) AS DOUBLE) AS s22,
             CAST(sum(x1*x2) AS DOUBLE) AS s12,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x1*y) AS DOUBLE) AS s1y, CAST(sum(x2*y) AS DOUBLE) AS s2y,
             CAST(sum(y*y) AS DOUBLE) AS syy
      FROM d GROUP BY 1
    ),
    solved AS (
      SELECT grp, n, sy, s1y, s2y, syy, s1, s2, s11, s22,
             n * (s11 * s22 - s12 * s12)
               - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS det,
             sy * (s11 * s22 - s12 * s12)
               - s1 * (s1y * s22 - s12 * s2y)
               + s2 * (s1y * s12 - s11 * s2y) AS det0,
             n * (s1y * s22 - s12 * s2y)
               - sy * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS det1,
             n * (s11 * s2y - s1y * s12)
               - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - s11 * s2) AS det2
      FROM g
    ),
    coef AS (
      SELECT grp, n, sy, s1y, s2y, syy,
             det0 / det AS b0,
             det1 / det AS b1,
             det2 / det AS b2,
             syy - sy * sy / n AS sst,
             abs(det) > 1e-9 * greatest(abs(n * s11 * s22), 1.0) AS ok
      FROM solved
    )
    SELECT grp AS l_returnflag, n,
           round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
           round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / sst, 6) AS r2
    FROM coef WHERE ok AND sst > 0
"""
ORACLES["json_schema_profile"] = f"""
    WITH tot AS (SELECT count(*) AS n FROM events),
    -- json_valid guard: Spark's from_json returns a NULL map on
    -- malformed JSON (row silently contributes no keys) while DuckDB's
    -- json_keys hard-errors; the denominator (tot) stays ALL rows on
    -- both sides
    pairs AS (
      SELECT unnest(json_keys(props)) AS key, props FROM events
      WHERE json_valid(props)
    ),
    ext AS (
      SELECT key, json_extract_string(props, '$.' || key) AS v FROM pairs
    )
    SELECT key,
           CAST(count(*) AS BIGINT) AS n_present,
           {round6_ratio_sql("count(*)", "SELECT n FROM tot")} AS pct_present,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN regexp_matches(v,
                '^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
    FROM ext GROUP BY 1
"""

ORACLES["expectations_audit"] = f"""
    WITH g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN coalesce(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END)
                  AS BIGINT) AS v1,
             CAST(sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE)
                  THEN 0 ELSE 1 END) AS BIGINT) AS v2,
             CAST(sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS v3,
             CAST(sum(CASE WHEN coalesce(regexp_matches(o_orderpriority, '^[1-5]-'),
                  FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v4
      FROM orders
    )
    SELECT 'totalprice_positive' AS constraint, v1 AS n_violations, n AS n_rows,
           {round6_ratio_sql("v1", "n")} AS pct_violated FROM g
    UNION ALL
    SELECT 'status_in_domain', v2, n, {round6_ratio_sql("v2", "n")} FROM g
    UNION ALL
    SELECT 'orderdate_not_null', v3, n, {round6_ratio_sql("v3", "n")} FROM g
    UNION ALL
    SELECT 'priority_format', v4, n, {round6_ratio_sql("v4", "n")} FROM g
"""

ORACLES["grouped_histogram"] = """
    WITH scal AS (
      SELECT min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi
      FROM events
    ),
    binned AS (
      SELECT event_type AS grp,
             CASE WHEN hi - lo > 0 THEN
               CAST(least(floor((CAST(value AS DOUBLE) - lo) * 20 / (hi - lo)),
                          19) AS INTEGER)
             ELSE 0 END AS bin,
             lo, hi - lo AS w
      FROM events, scal
    )
    SELECT grp AS event_type, bin,
           round(min(lo) + bin * min(w) / 20, 6) AS bin_lo,
           round(min(lo) + (bin + 1) * min(w) / 20, 6) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY 1, 2
"""

ORACLES["pit_state_join"] = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_state IS NULL OR prev_state <> event_type
                     THEN 1 ELSE 0 END AS chg
      FROM ordered
    ),
    runs AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM flagged
    ),
    per_run AS (
      SELECT user_id, run, min(event_type) AS state,
             min(us) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
      FROM runs GROUP BY 1, 2
    ),
    hist AS (
      SELECT user_id, state, valid_from_us,
             coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run),
                      253402300799999999) AS valid_to_us,
             n_events
      FROM per_run
    ),
    probes AS (
      SELECT event_id, user_id, epoch_us(ts) + 1800 * 1000000 AS probe_us
      FROM events WHERE event_id % 7 = 0
    )
    SELECT p.event_id, p.user_id, p.probe_us, h.state, h.valid_from_us, h.n_events
    FROM probes p JOIN hist h
      ON p.user_id = h.user_id
     AND p.probe_us >= h.valid_from_us AND p.probe_us < h.valid_to_us
"""
ORACLES["cdc_upsert"] = """
    WITH base AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    ),
    changes AS (
      SELECT c_custkey, 'upd_' || c_name AS c_name, c_acctbal + 100 AS c_acctbal,
             c_custkey % 6 AS seq,
             CASE WHEN c_custkey % 10 = 3 THEN 'D' ELSE 'U' END AS op
      FROM customer WHERE c_custkey % 3 = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT c_custkey, c_name, c_acctbal, op,
               row_number() OVER (PARTITION BY c_custkey
                   ORDER BY seq DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END) AS rn
        FROM changes
      ) WHERE rn = 1
    ),
    survivors AS (
      SELECT b.* FROM base b ANTI JOIN latest l ON b.c_custkey = l.c_custkey
    )
    SELECT c_custkey, c_name, round(c_acctbal, 6) AS c_acctbal FROM survivors
    UNION ALL
    SELECT c_custkey, c_name, round(c_acctbal, 6) FROM latest WHERE op <> 'D'
"""

ORACLES["encoding_audit"] = f"""
    WITH per_doc AS (
      SELECT source AS grp,
             length(text) - length(replace(text, chr(65533), '')) AS r,
             CASE WHEN regexp_matches(text,
                  '[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]') THEN 1 ELSE 0 END AS c,
             CASE WHEN regexp_matches(text,
                  '[' || chr(194) || chr(195) || '][' || chr(128) || '-' || chr(191) || ']')
                  THEN 1 ELSE 0 END AS m,
             length(text) AS len
      FROM documents
    )
    SELECT grp AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {round6_ratio_sql(
               "sum(CASE WHEN r > 0 THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS pct_repl_docs,
           {round6_ratio_sql("sum(c)", "count(*)")} AS pct_ctrl_docs,
           {round6_ratio_sql("sum(m)", "count(*)")} AS pct_mojibake_docs,
           {round6_ratio_dec_sql("sum(r)::HUGEINT * 10000", "greatest(sum(len), 1)")}
             AS repl_per_10k_chars
    FROM per_doc GROUP BY 1
"""

ORACLES["token_fertility"] = f"""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS t,
             len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) AS w,
             length(text) AS c
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS tokens,
           CAST(sum(w) AS BIGINT) AS words,
           {round6_ratio_sql("sum(t)", "sum(w)")}
               AS fertility,
           {round6_ratio_sql("sum(c)", "sum(t)")}
               AS chars_per_token
    FROM per_doc GROUP BY 1
"""

ORACLES["calendar_heatmap"] = f"""
    WITH cells AS (
      SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, dow, hod, n,
           {round6_ratio_sql("n", "sum(n) OVER w0")} AS share
    FROM cells
    WINDOW w0 AS (PARTITION BY event_type)
"""
ORACLES["attribution_split"] = """
    WITH conv AS (
      SELECT user_id AS u, event_id AS cid, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id AS u, event_type AS touch_type, event_id AS tid,
             epoch_us(ts) AS tus
      FROM events WHERE event_type <> 'purchase'
    ),
    j AS (
      SELECT cid, touch_type, tid, tus
      FROM conv JOIN touch USING (u)
      WHERE tus < cus AND tus >= cus - 86400000000
    ),
    scored AS (
      SELECT touch_type,
             CASE WHEN row_number() OVER (PARTITION BY cid ORDER BY tus, tid) = 1
                  THEN 1 ELSE 0 END AS f,
             CASE WHEN row_number() OVER (PARTITION BY cid ORDER BY tus DESC, tid DESC) = 1
                  THEN 1 ELSE 0 END AS l,
             CAST(1.0 / count(*) OVER (PARTITION BY cid) AS DECIMAL(28,12)) AS lin
      FROM j
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(f) AS BIGINT) AS conv_first,
           CAST(sum(l) AS BIGINT) AS conv_last,
           round(CAST(sum(lin) AS DOUBLE), 6) AS credit_linear
    FROM scored GROUP BY 1
"""

ORACLES["split_leakage_audit"] = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM toks GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ov
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT id_a, id_b FROM shared
      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      WHERE ov * 1.0 / (sa.s + sb.s - ov) >= 0.95
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT
                       % 1000000 < 900000 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT
                       % 1000000 < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    cells AS (
      SELECT least(a.split, b.split) AS split_a,
             greatest(a.split, b.split) AS split_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM p JOIN sp a ON p.id_a = a.doc_id JOIN sp b ON p.id_b = b.doc_id
      GROUP BY 1, 2
    )
    SELECT split_a, split_b, n_pairs,
           split_a <> split_b AS cross_split,
           {round6_ratio_sql("n_pairs", "sum(n_pairs) OVER ()")} AS pct_of_pairs
    FROM cells
"""

ORACLES["group_quantiles"] = """
    WITH cells AS (
      SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), [0.25, 0.5, 0.75, 0.9, 0.99]) AS qs
      FROM events GROUP BY 1
    )
    SELECT event_type,
           CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p,
           round(unnest(qs), 6) AS q
    FROM cells
"""

ORACLES["assoc_rules"] = f"""
    WITH items AS (
      SELECT DISTINCT
             CAST(user_id AS VARCHAR) || chr(31)
               || strftime(date_trunc('day', ts), '%Y-%m-%d') AS b,
             event_type AS item
      FROM events
    ),
    tot AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items),
    ic AS (SELECT item, CAST(count(*) AS BIGINT) AS ni FROM items GROUP BY 1),
    pc AS (
      SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b ON a.b = b.b AND a.item <> b.item
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_ab,
           {round6_ratio_sql("n_ab", "tot.n")} AS support,
           {round6_ratio_sql("n_ab", "ca.ni")} AS confidence,
           {round6_ratio_dec_sql("n_ab * tot.n", "ca.ni::HUGEINT * cb.ni")} AS lift
    FROM pc
    JOIN ic ca ON pc.item_a = ca.item
    JOIN ic cb ON pc.item_b = cb.item, tot
"""
ORACLES["session_entry_exit"] = f"""
    WITH {_us_sessions_sql("event_type, ts, event_id, epoch_us(ts) AS us", "ts")},
    numbered AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, sid
                                   ORDER BY us, event_id) AS rf,
                row_number() OVER (PARTITION BY user_id, sid
                                   ORDER BY us DESC, event_id DESC) AS rl
      FROM sess
    ),
    per_sess AS (
      SELECT user_id, sid,
             max(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
             max(CASE WHEN rl = 1 THEN event_type END) AS exit_type,
             CAST(count(*) AS BIGINT) AS n
      FROM numbered GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM per_sess),
    entries AS (
      SELECT entry_type AS event_type, CAST(count(*) AS BIGINT) AS n_entries,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
      FROM per_sess GROUP BY 1
    ),
    exits AS (
      SELECT exit_type AS event_type, CAST(count(*) AS BIGINT) AS n_exits
      FROM per_sess GROUP BY 1
    )
    SELECT coalesce(en.event_type, ex.event_type) AS event_type,
           CAST(coalesce(n_entries, 0) AS BIGINT) AS n_entries,
           CAST(coalesce(n_exits, 0) AS BIGINT) AS n_exits,
           CAST(coalesce(n_bounces, 0) AS BIGINT) AS n_bounces,
           {round6_ratio_sql(
               "coalesce(n_bounces, 0)",
               "greatest(coalesce(n_entries, 0), 1)",
           )} AS bounce_rate,
           {round6_ratio_sql("coalesce(n_exits, 0)", "SELECT total FROM tot")} AS exit_rate
    FROM entries en FULL OUTER JOIN exits ex USING (event_type), tot
"""

ORACLES["dist_overlap"] = f"""
    WITH scal AS (
      SELECT min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi
      FROM events
    ),
    cells AS (
      SELECT event_type AS grp,
             CASE WHEN hi - lo > 0 THEN
               CAST(least(floor((CAST(value AS DOUBLE) - lo) * 20 / (hi - lo)),
                          19) AS INTEGER)
             ELSE 0 END AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM events, scal GROUP BY 1, 2
    ),
    probs AS (
      SELECT grp, bin, n, sum(n) OVER (PARTITION BY grp) AS t FROM cells
    )
    SELECT a.grp AS group_a, b.grp AS group_b,
           {round6_ratio_dec_sql(
               "sum(least(a.n::HUGEINT * b.t, b.n::HUGEINT * a.t))",
               "max(a.t)::HUGEINT * max(b.t)",
           )} AS overlap
    FROM probs a JOIN probs b ON a.bin = b.bin AND a.grp < b.grp
    GROUP BY 1, 2
"""

ORACLES["label_centroid_dists"] = """
    WITH dims AS (
      SELECT label AS lbl, unnest(range(len(embedding))) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    sums AS (SELECT lbl, dim, sum(v) AS s FROM dims GROUP BY 1, 2),
    counts AS (SELECT label AS lbl, CAST(count(*) AS BIGINT) AS n
               FROM embeddings GROUP BY 1),
    dots AS (
      SELECT a.lbl AS label_a, b.lbl AS label_b,
             sum(a.s * b.s) AS dot, sum(a.s * a.s) AS na2, sum(b.s * b.s) AS nb2
      FROM sums a JOIN sums b ON a.dim = b.dim AND a.lbl < b.lbl
      GROUP BY 1, 2
    )
    SELECT label_a, label_b, ca.n AS n_a, cb.n AS n_b,
           CASE WHEN sqrt(na2) * sqrt(nb2) > 0
                THEN round(dot / (sqrt(na2) * sqrt(nb2)), 6)
                ELSE -1.0 END AS cos
    FROM dots
    JOIN counts ca ON dots.label_a = ca.lbl
    JOIN counts cb ON dots.label_b = cb.lbl
"""
ORACLES["trimmed_mean"] = """
    WITH cuts AS (
      SELECT event_type AS g,
             quantile_cont(CAST(value AS DOUBLE), 0.05) AS lo,
             quantile_cont(CAST(value AS DOUBLE), 0.95) AS hi
      FROM events GROUP BY 1
    ),
    j AS (
      SELECT e.event_type, CAST(e.value AS DOUBLE) AS v, c.lo, c.hi
      FROM events e JOIN cuts c ON e.event_type = c.g
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN v >= lo AND v <= hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_used,
           round(min(lo), 6) AS lo_cut,
           round(min(hi), 6) AS hi_cut,
           round(CAST(sum(CASE WHEN v >= lo AND v <= hi
                          THEN CAST(v AS DECIMAL(28,10)) END) AS DOUBLE)
                 / sum(CASE WHEN v >= lo AND v <= hi THEN 1 ELSE 0 END), 6)
               AS mean_trimmed
    FROM j GROUP BY 1
"""

ORACLES["hapax_rate"] = f"""
    WITH toks AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           {round6_ratio_sql("sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)", "count(*)")} AS hapax_share,
           {round6_ratio_sql("count(*)", "sum(n)")} AS ttr
    FROM cnt GROUP BY 1
"""

ORACLES["reconciliation_audit"] = f"""
    WITH per_key AS (
      SELECT l_orderkey AS okey,
             sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                      AS DECIMAL(28,8))) AS lsum
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderpriority,
             abs(CAST(o.o_totalprice AS DECIMAL(28,8))
                 - coalesce(lsum, CAST(0 AS DECIMAL(28,8)))) AS d
      FROM orders o LEFT JOIN per_key p ON o.o_orderkey = p.okey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_headers,
           CAST(sum(CASE WHEN d <= 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN d <= 0.01 THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatched,
           {round6_ratio_sql(
               "sum(CASE WHEN d <= 0.01 THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS pct_matched,
           {round6_ratio_dec_sql(
               "CAST(sum(d) * 100000000 AS HUGEINT)",
               "100000000::HUGEINT * count(*)",
           )} AS mean_abs_diff,
           CAST(round(max(d), 6) AS DOUBLE) AS max_abs_diff
    FROM j GROUP BY 1
"""

ORACLES["burst_windows"] = """
    WITH base AS (
      SELECT user_id AS key, epoch_us(ts) AS us FROM events
    ),
    sized AS (
      SELECT key, us,
             CAST(count(*) OVER (PARTITION BY key ORDER BY us
                  RANGE BETWEEN CURRENT ROW AND 300000000 FOLLOWING) AS BIGINT)
               AS burst
      FROM base
    ),
    mx AS (SELECT key, max(burst) AS max_burst FROM sized GROUP BY 1),
    starts AS (
      SELECT s.key, m.max_burst, min(s.us) AS burst_start_us
      FROM sized s JOIN mx m ON s.key = m.key AND s.burst = m.max_burst
      GROUP BY 1, 2
    )
    SELECT key, max_burst, burst_start_us, rank FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY max_burst DESC, key) AS BIGINT)
             AS rank
      FROM starts
    ) WHERE rank <= 20
"""
ORACLES["target_encoding"] = """
    WITH cats AS (
      SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(28,10))) AS s
      FROM events GROUP BY 1
    )
    SELECT category, n,
           round(CAST(s / n AS DOUBLE), 6) AS raw_mean,
           round((CAST(s AS DOUBLE) + 10.0 * CAST(sum(s) OVER () / sum(n) OVER ()
                  AS DOUBLE)) / (n + 10.0), 6) AS encoded
    FROM cats
"""

ORACLES["hierarchical_shares"] = """
    WITH cells AS (
      SELECT r_name AS level1, n_name AS level2,
             sum(CAST(o_totalprice AS DECIMAL(28,8))) AS t
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT level1, level2,
           CAST(round(t, 6) AS DOUBLE) AS total,
           round(CAST(t / sum(t) OVER (PARTITION BY level1) AS DOUBLE), 6)
               AS share_of_parent,
           CAST(round(sum(t) OVER (PARTITION BY level1), 6) AS DOUBLE)
               AS parent_total,
           round(CAST(sum(t) OVER (PARTITION BY level1) / sum(t) OVER ()
                 AS DOUBLE), 6) AS parent_share
    FROM cells
"""

ORACLES["negative_pairs"] = """
    WITH dv AS (SELECT min(date_trunc('day', ts)) AS d FROM events),
    vocab AS (
      SELECT array_agg(DISTINCT event_type ORDER BY event_type) AS items,
             CAST(count(DISTINCT event_type) AS BIGINT) AS nv
      FROM events, dv WHERE date_trunc('day', ts) = d
    ),
    d1 AS (SELECT min(date_trunc('day', ts)) AS d FROM events),
    base AS (
      SELECT DISTINCT user_id AS "user", event_type AS pos_item
      FROM events, d1 WHERE date_trunc('day', ts) = d
    ),
    slots AS (
      SELECT "user", pos_item, CAST(unnest([0, 1, 2]) AS INTEGER) AS slot FROM base
    ),
    cand AS (
      SELECT "user", pos_item, slot,
             items[CAST(('0x' || substr(md5('neg' || chr(31)
                 || CAST("user" AS VARCHAR) || chr(31) || pos_item || chr(31)
                 || CAST(slot AS VARCHAR)), 1, 11))::BIGINT % nv AS INTEGER) + 1]
               AS neg_item
      FROM slots, vocab
    )
    SELECT c."user", c.pos_item, c.slot, c.neg_item
    FROM cand c
    ANTI JOIN base b ON c."user" = b."user" AND c.neg_item = b.pos_item
"""
ORACLES["mrr_sessions"] = f"""
    WITH {_us_sessions_sql("event_type, epoch_us(ts) AS us, event_id", "us")},
    posd AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, sid
                                   ORDER BY us, event_id) AS pos
      FROM sess
    ),
    per_sess AS (
      SELECT user_id, sid,
             min(CASE WHEN event_type = 'purchase' THEN pos END) AS first_pos
      FROM posd GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(first_pos) AS BIGINT) AS n_with_target,
           {round6_bridge_sql(
               "CAST(sum(coalesce(CAST(1.0 / first_pos AS DECIMAL(28,12)), CAST(0 AS DECIMAL(28,12)))) AS DOUBLE) / count(*)",
           )} AS mrr,
           CASE WHEN count(first_pos) = 0 THEN -1.0
                ELSE {round6_ratio_sql("sum(first_pos)", "count(first_pos)")}
           END AS mean_first_pos
    FROM per_sess
"""

ORACLES["crosscorr_types"] = """
    WITH hourly AS (
      SELECT event_type AS t, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2
    ),
    a AS (SELECT hour, y AS ya FROM hourly WHERE t = 'view'),
    b AS (SELECT hour, y AS yb FROM hourly WHERE t = 'purchase'),
    lags AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS INTEGER) AS lag),
    j AS (
      SELECT l.lag, a.ya, b.yb
      FROM lags l
      JOIN a ON TRUE
      JOIN b ON b.hour = a.hour + to_hours(l.lag)
    )
    SELECT lag, CAST(count(*) AS BIGINT) AS n,
           CASE WHEN count(*) * sum(ya * ya) - sum(ya) * sum(ya) > 0
                 AND count(*) * sum(yb * yb) - sum(yb) * sum(yb) > 0
                THEN round((count(*) * sum(ya * yb) - sum(ya) * sum(yb))
                           / sqrt((count(*) * sum(ya * ya) - sum(ya) * sum(ya))
                                  * (count(*) * sum(yb * yb) - sum(yb) * sum(yb))), 6)
                ELSE 0.0 END AS r
    FROM j GROUP BY 1
"""

ORACLES["delta_attribution"] = f"""
    WITH {_MIDPOINT_SQL},
    keys AS (
      SELECT user_id AS key,
             sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal)
                      THEN CAST(value AS DECIMAL(28,8))
                      ELSE CAST(0 AS DECIMAL(28,8)) END) AS m1,
             sum(CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal)
                      THEN CAST(0 AS DECIMAL(28,8))
                      ELSE CAST(value AS DECIMAL(28,8)) END) AS m2
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT key, m1, m2, m2 - m1 AS delta, sum(m2 - m1) OVER () AS total
      FROM keys
    )
    SELECT key, round(CAST(m1 AS DOUBLE), 6) AS m1,
           round(CAST(m2 AS DOUBLE), 6) AS m2,
           round(CAST(delta AS DOUBLE), 6) AS delta,
           round(CASE WHEN total <> 0 THEN CAST(delta / total AS DOUBLE) END, 6)
               AS pct_of_total_delta,
           rank
    FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY abs(delta) DESC, key) AS BIGINT)
             AS rank
      FROM d
    ) WHERE rank <= 20
"""
ORACLES["bernoulli_ht_audit"] = """
    WITH tagged AS (
      SELECT c_mktsegment AS stratum,
             CASE c_mktsegment WHEN 'BUILDING' THEN 0.2 WHEN 'MACHINERY' THEN 0.2
                  WHEN 'AUTOMOBILE' THEN 0.5 WHEN 'HOUSEHOLD' THEN 0.5
                  WHEN 'FURNITURE' THEN 0.5 ELSE 1.0 END AS p,
             CAST(c_acctbal AS DECIMAL(28,8)) AS v,
             CASE WHEN ('0x' || substr(md5('ht' || CAST(c_custkey AS VARCHAR)), 1, 11))
                       ::BIGINT % 1000000
                  < CAST((CASE c_mktsegment WHEN 'BUILDING' THEN 0.2
                          WHEN 'MACHINERY' THEN 0.2 WHEN 'AUTOMOBILE' THEN 0.5
                          WHEN 'HOUSEHOLD' THEN 0.5 WHEN 'FURNITURE' THEN 0.5
                          ELSE 1.0 END) * 1000000 AS BIGINT)
                  THEN 1 ELSE 0 END AS s
      FROM customer
    ),
    g AS (
      SELECT stratum, min(p) AS p, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n_sampled,
             sum(v) AS truth,
             sum(CASE WHEN s = 1 THEN v END) AS ssum
      FROM tagged GROUP BY 1
    )
    SELECT stratum, round(p, 6) AS rate, n, n_sampled,
           round(CAST(truth AS DOUBLE), 6) AS true_total,
           round(coalesce(CAST(ssum AS DOUBLE), 0.0) / p, 6) AS ht_estimate,
           round(abs(coalesce(CAST(ssum AS DOUBLE), 0.0) / p - CAST(truth AS DOUBLE))
                 / abs(CAST(truth AS DOUBLE)), 6) AS rel_err
    FROM g
"""

ORACLES["markov_accuracy"] = f"""
    WITH {_MIDPOINT_SQL},
    pairs AS (
      SELECT event_type AS f,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
             epoch_us(ts) <= (SELECT mid FROM scal) AS train
      FROM events
    ),
    p2 AS (SELECT * FROM pairs WHERE t IS NOT NULL),
    counts AS (
      SELECT f, t, count(*) AS n FROM p2 WHERE train GROUP BY 1, 2
    ),
    model AS (
      SELECT f, t AS pred FROM (
        SELECT *, row_number() OVER (PARTITION BY f ORDER BY n DESC, t) AS rn
        FROM counts
      ) WHERE rn = 1
    ),
    test AS (SELECT * FROM p2 WHERE NOT train),
    scored AS (
      SELECT test.f, test.t, model.pred
      FROM test LEFT JOIN model ON test.f = model.f
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM p2 WHERE train) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(pred) AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN pred = t THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           {round6_ratio_sql("sum(CASE WHEN pred = t THEN 1 ELSE 0 END)", "count(*)")} AS accuracy,
           {round6_ratio_sql(
               "sum(CASE WHEN pred = t THEN 1 ELSE 0 END)",
               "count(pred)",
           )} AS covered_accuracy
    FROM scored
"""

ORACLES["vocab_drift"] = """
    WITH scal AS (
      SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2.0) AS BIGINT) AS mid
      FROM documents
    ),
    toks AS (
      SELECT doc_id <= (SELECT mid FROM scal) AS h1,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    cnt AS (
      SELECT token,
             CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS n2
      FROM toks GROUP BY 1
    ),
    filt AS (SELECT * FROM cnt WHERE n1 + n2 >= 5),
    probs AS (
      SELECT token, n1, n2,
             n1 / (sum(n1) OVER () * 1.0) AS p1,
             n2 / (sum(n2) OVER () * 1.0) AS p2
      FROM filt
    ),
    scored AS (
      SELECT token, n1, n2, p1, p2,
             0.5 * ((CASE WHEN n1 > 0
                          THEN p1 * ln(p1 / ((p1 + p2) / 2)) ELSE 0.0 END)
                  + (CASE WHEN n2 > 0
                          THEN p2 * ln(p2 / ((p1 + p2) / 2)) ELSE 0.0 END)) AS js
      FROM probs
    )
    SELECT token, n1, n2, round(p1, 6) AS p1, round(p2, 6) AS p2,
           round(js, 6) AS js_term, rank
    FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY abs(p1 - p2) DESC, token) AS BIGINT)
             AS rank
      FROM scored
    ) WHERE rank <= 20
"""
ORACLES["bootstrap_ci_mean"] = f"""
    WITH rows_b AS (
      SELECT CAST(event_id AS VARCHAR) AS id, CAST(value AS DOUBLE) AS v,
             unnest(range(50)) AS b
      FROM events
    ),
    drawn AS (
      SELECT b, v,
             (CAST(('0x' || substr(md5('boot' || chr(31) || id || chr(31)
                   || CAST(b AS VARCHAR)), 1, 11)) AS BIGINT) + 0.5)
               / 17592186044416.0 AS u
      FROM rows_b
    ),
    weighted AS (
      SELECT b, v,
             CASE WHEN u < 0.367879441171 THEN 0
                  WHEN u < 0.735758882343 THEN 1
                  WHEN u < 0.919698602929 THEN 2
                  WHEN u < 0.981011843124 THEN 3
                  WHEN u < 0.996340153173 THEN 4
                  WHEN u < 0.999405815182 THEN 5
                  WHEN u < 0.999916758851 THEN 6
                  WHEN u < 0.999989750803 THEN 7
                  WHEN u < 0.999998874797 THEN 8
                  ELSE 9 END AS w
      FROM drawn
    ),
    per_b AS (
      SELECT b, sum(w * v) / (sum(w) * 1.0) AS mean_b FROM weighted GROUP BY 1
    ),
    cen AS (
      SELECT mean_b,
             mean_b - (SELECT floor(min(mean_b)) FROM per_b) AS d
      FROM per_b
    ),
    stats AS (
      SELECT {round6_bridge_sql(
                 "sqrt(greatest( (count(*) * sum(d * d) - sum(d) * sum(d)) / (count(*) * (count(*) - 1.0)), 0.0))",
             )} AS se,
             {round6_bridge_sql("quantile_cont(mean_b, 0.025)")} AS ci_lo,
             {round6_bridge_sql("quantile_cont(mean_b, 0.975)")} AS ci_hi
      FROM cen
    ),
    overall AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum({cents_sql("value")})::HUGEINT AS cents,
             100::HUGEINT * count(*) AS den
      FROM events
    )
    SELECT n,
           {round6_ratio_dec_signed_sql("cents", "den")} AS mean,
           se, ci_lo, ci_hi
    FROM overall, stats
"""

ORACLES["seasonal_quantile_bands"] = """
    WITH cells AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hod,
             quantile_cont(CAST(value AS DOUBLE), [0.1, 0.5, 0.9]) AS qs
      FROM events GROUP BY 1
    )
    SELECT hod,
           CAST(unnest([0.1, 0.5, 0.9]) AS DOUBLE) AS p,
           round(unnest(qs), 6) AS q
    FROM cells
"""


ORACLES["bm25_topk"] = """
    WITH q(query_id, term) AS (
      VALUES (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
             (1, 'window'), (1, 'agg'), (1, 'sort'),
             (2, 'vector'), (2, 'scan'),
             (3, 'stream'), (3, 'batch'), (3, 'merge')
    ),
    toks AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS dl,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM (SELECT doc_id, any_value(dl) AS dl FROM toks GROUP BY 1)
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
      FROM toks WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT doc_id, tf.term,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats
    ),
    scored AS (
      SELECT query_id, doc_id,
             CAST(round(sum(CAST(w AS DECIMAL(38,12))), 6) AS DOUBLE) AS score
      FROM contrib JOIN q ON contrib.term = q.term
      GROUP BY 1, 2
    )
    SELECT query_id, rank, doc_id, score FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""

ORACLES["rrf_fusion"] = """
    WITH base AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    qs AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS query_id,
             id AS q_id, v AS qv
      FROM base ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 4
    ),
    scored AS (
      SELECT query_id, b.id,
             round(list_cosine_similarity(b.v, qv), 6) AS cos,
             round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(list_zip(b.v, qv),
                                s -> (s[1] - s[2]) * (s[1] - s[2]))),
               (x, y) -> x + y), 6) AS l2
      FROM base b CROSS JOIN qs WHERE b.id <> q_id
    ),
    ranked AS (
      SELECT query_id, id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, id) AS BIGINT) AS rank_cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY l2 ASC, id) AS BIGINT) AS rank_l2
      FROM scored
    ),
    cl AS (SELECT query_id, id, rank_cos FROM ranked WHERE rank_cos <= 50),
    ll AS (SELECT query_id, id, rank_l2 FROM ranked WHERE rank_l2 <= 50),
    fused AS (
      SELECT COALESCE(cl.query_id, ll.query_id) AS query_id,
             COALESCE(cl.id, ll.id) AS id,
             CAST(COALESCE(rank_cos, 0) AS BIGINT) AS rank_cos,
             CAST(COALESCE(rank_l2, 0) AS BIGINT) AS rank_l2,
             round(COALESCE(1.0 / (60 + rank_cos), 0.0)
                   + COALESCE(1.0 / (60 + rank_l2), 0.0), 6) AS rrf_score
      FROM cl FULL OUTER JOIN ll
        ON cl.query_id = ll.query_id AND cl.id = ll.id
    )
    SELECT query_id, rank, vec_id, rrf_score, rank_cos, rank_l2 FROM (
      SELECT query_id, id AS vec_id, rrf_score, rank_cos, rank_l2,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, id) AS BIGINT) AS rank
      FROM fused
    ) WHERE rank <= 10
"""

ORACLES["semdedup"] = f"""
    WITH {_kmeans_sql()},
    {_km_assign_sql(3)},
    pairs AS (
      SELECT l.cid, r.id AS id,
             round(list_cosine_similarity(l.v, r.v), 6) AS cos
      FROM a3 l JOIN a3 r ON l.cid = r.cid AND l.id < r.id
    ),
    drop0 AS (SELECT DISTINCT cid, id FROM pairs WHERE cos >= 0.35),
    dropped AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped FROM drop0 GROUP BY 1),
    sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM a3 GROUP BY 1)
    SELECT s.cid AS cluster_id, n_vecs,
           COALESCE(n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
           n_vecs - COALESCE(n_dropped, CAST(0 AS BIGINT)) AS n_kept
    FROM sizes s LEFT JOIN dropped d ON s.cid = d.cid
"""


ORACLES["interval_proration"] = """
    WITH ordered AS (
      SELECT user_id, event_id, value, epoch(ts) AS t,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, value, t,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    ),
    ivs AS (
      SELECT user_id, session_id, min(t) AS s, max(t) AS e,
             CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS v
      FROM sess GROUP BY 1, 2
    ),
    bk AS (
      SELECT s, e, v,
             unnest(generate_series(CAST(floor(s / 3600.0) AS BIGINT),
                                    CAST(floor(e / 3600.0) AS BIGINT))) AS bkt
      FROM ivs
    ),
    al AS (
      SELECT CAST(bkt * 3600 AS BIGINT) AS bucket_start,
             CASE WHEN e = s THEN v * 1.0
                  ELSE v * ((least(e, (bkt + 1) * 3600.0) - greatest(s, bkt * 3600.0))
                            / (e - s))
             END AS alloc
      FROM bk
    )
    SELECT bucket_start,
           CAST(round(sum(CAST(alloc AS DECIMAL(38,12))), 6) AS DOUBLE) AS allocated,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM al GROUP BY 1
"""

ORACLES["conformal_coverage"] = f"""
    WITH base AS (
      SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
             CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') THEN 'train'
                  WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
                       IN ('8','9','a','b') THEN 'cal'
                  ELSE 'test' END AS split
      FROM events
    ),
    pred AS (
      SELECT grp,
             CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS pred
      FROM base WHERE split = 'train' GROUP BY 1
    ),
    cal AS (
      SELECT base.grp, round(abs(v - pred), 6) AS resid
      FROM base JOIN pred ON base.grp = pred.grp WHERE split = 'cal'
    ),
    ranked AS (
      SELECT grp, resid,
             row_number() OVER (PARTITION BY grp ORDER BY resid) AS rn,
             count(*) OVER (PARTITION BY grp) AS n_cal
      FROM cal
    ),
    qh AS (
      SELECT grp, resid AS qhat, CAST(n_cal AS BIGINT) AS n_cal
      FROM ranked
      WHERE rn = least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal)
    ),
    test AS (
      SELECT base.grp, v, pred
      FROM base JOIN pred ON base.grp = pred.grp WHERE split = 'test'
    )
    SELECT t.grp AS "group", max(n_cal) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           {round6_bridge_sql("max(pred)")} AS pred,
           max(qhat) AS qhat,
           {round6_ratio_sql(
               "sum(CASE WHEN round(abs(v - pred), 6) <= qhat THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS coverage
    FROM test t JOIN qh ON t.grp = qh.grp GROUP BY 1
"""

ORACLES["quantile_normalize"] = """
    WITH base AS (
      SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS v FROM documents
    ),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pool FROM base),
    pooled AS (
      SELECT CAST(row_number() OVER (ORDER BY v, grp) AS BIGINT) AS idx,
             v AS pooled_v
      FROM base
    ),
    idxed AS (
      SELECT grp, v,
             CAST(floor(percent_rank() OVER (PARTITION BY grp ORDER BY v)
                        * (n_pool - 1) + 0.5) AS BIGINT) + 1 AS idx
      FROM base CROSS JOIN np
    ),
    mapped AS (SELECT grp, v, pooled_v FROM idxed JOIN pooled USING (idx))
    SELECT grp AS "group", CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
             AS mean_raw,
           round(CAST(sum(CAST(pooled_v AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
             AS mean_mapped,
           round((CAST(sum(CAST(pooled_v * pooled_v AS DECIMAL(38,12))) AS DOUBLE)
                  - CAST(sum(CAST(pooled_v AS DECIMAL(38,12))) AS DOUBLE)
                    * CAST(sum(CAST(pooled_v AS DECIMAL(38,12))) AS DOUBLE) / count(*))
                 / count(*), 6) AS var_mapped
    FROM mapped GROUP BY 1
"""


ORACLES["media_signature_buckets"] = r"""
    WITH h AS (
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n,
             regexp_replace(hex(encode(text)), '(.).', '\1', 'g') AS nib
      FROM documents
    ),
    f AS (
      SELECT media_id, pos,
             (length(nib) - length(replace(nib, substr('0123456789ABCDEF', CAST(pos AS INTEGER) + 1, 1), '')))
               / CAST(greatest(n, 1) AS DOUBLE) AS fv
      FROM h CROSS JOIN range(0, 16) t(pos)
    ),
    m AS (
      SELECT pos,
             CAST(sum(CAST(fv AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mv
      FROM f GROUP BY 1
    ),
    sigs AS (
      SELECT media_id,
             CAST(sum(CASE WHEN fv > mv
                           THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS signature
      FROM f JOIN m USING (pos) GROUP BY 1
    )
    SELECT signature, CAST(count(*) AS BIGINT) AS n_media,
           CAST(min(media_id) AS BIGINT) AS min_media_id
    FROM sigs GROUP BY 1
"""

ORACLES["coactivity_kcore"] = f"""
    WITH {_COACTIVITY_EDGES_SQL},
    d1 AS (SELECT node, count(*) AS d FROM (
             SELECT a AS node FROM edges UNION ALL SELECT b FROM edges) GROUP BY 1),
    k1 AS (SELECT node FROM d1 WHERE d >= 40),
    e1 AS MATERIALIZED (
      SELECT e.a, e.b FROM edges e
      JOIN k1 ka ON e.a = ka.node JOIN k1 kb ON e.b = kb.node),
    d2 AS (SELECT node, count(*) AS d FROM (
             SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
    k2 AS (SELECT node FROM d2 WHERE d >= 40),
    e2 AS MATERIALIZED (
      SELECT e.a, e.b FROM e1 e
      JOIN k2 ka ON e.a = ka.node JOIN k2 kb ON e.b = kb.node),
    d3 AS (SELECT node, count(*) AS d FROM (
             SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
    k3 AS (SELECT node FROM d3 WHERE d >= 40),
    e3 AS MATERIALIZED (
      SELECT e.a, e.b FROM e2 e
      JOIN k3 ka ON e.a = ka.node JOIN k3 kb ON e.b = kb.node)
    SELECT CAST(1 AS BIGINT) AS round,
           CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
           CAST(count(*) // 2 AS BIGINT) AS n_edges
    FROM (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
    UNION ALL
    SELECT 2, CAST(count(DISTINCT node) AS BIGINT), CAST(count(*) // 2 AS BIGINT)
    FROM (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
    UNION ALL
    SELECT 3, CAST(count(DISTINCT node) AS BIGINT), CAST(count(*) // 2 AS BIGINT)
    FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
"""

ORACLES["weight_ess"] = """
    WITH base AS (
      SELECT lang AS "group", CAST(n_chars AS DOUBLE) AS w FROM documents
    ),
    agg AS (
      SELECT "group",
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE) AS q,
             max(w) AS mx
      FROM base GROUP BY 1
    )
    SELECT "group", n,
           round(s * s / q, 6) AS ess,
           round(s * s / q / n, 6) AS ess_ratio,
           round(mx / s, 6) AS max_share,
           round(sqrt((q - s * s / n) / n) / (s / n), 6) AS weight_cv
    FROM agg
"""


ORACLES["cvm_drift"] = f"""
    WITH {_MIDPOINT_SQL},
    {_HALF_VALUE_COUNTS_SQL},
    stepped AS (
      SELECT name, c1 + c2 AS m,
             sum(c1) OVER (PARTITION BY name ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
             sum(c2) OVER (PARTITION BY name ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
             sum(c1) OVER (PARTITION BY name) AS n1,
             sum(c2) OVER (PARTITION BY name) AS n2
      FROM counts
    ),
    agg AS (
      SELECT name,
             CAST(sum(CAST(m * (CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2)
                              * (CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2)
                           AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(min(n1) AS BIGINT) AS n1,
             CAST(min(n2) AS BIGINT) AS n2
      FROM stepped WHERE n1 > 0 AND n2 > 0
      GROUP BY 1
    )
    SELECT name, n1, n2,
           round(n1 * n2 / ((n1 + n2) * (n1 + n2)) * s, 6) AS cvm
    FROM agg
"""

ORACLES["table_fingerprint"] = """
    WITH h AS (
      SELECT source AS "group",
             ('0x' || substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR),
                                           CAST(lang AS VARCHAR),
                                           CAST(n_chars AS VARCHAR))), 1, 11))::BIGINT AS rh
      FROM documents
    )
    SELECT "group", CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(rh AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)
             AS fingerprint
    FROM h GROUP BY 1
"""

ORACLES["ipf_raking"] = """
    WITH cells AS (
      SELECT lang AS row, source AS col, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(n) AS DOUBLE) AS t,
             CAST(count(DISTINCT row) AS DOUBLE) AS nr,
             CAST(count(DISTINCT col) AS DOUBLE) AS nc
      FROM cells
    ),
    w0 AS (SELECT row, col, n, n * 1.0 AS w FROM cells),
    rm1 AS (SELECT row, CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS rm
            FROM w0 GROUP BY 1),
    w1 AS (SELECT w0.row, col, n, w * ((t / nr) / rm) AS w
           FROM w0 JOIN rm1 ON w0.row = rm1.row CROSS JOIN tot),
    cm1 AS (SELECT col, CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS cm
            FROM w1 GROUP BY 1),
    w2 AS (SELECT row, w1.col, n, w * ((t / nc) / cm) AS w
           FROM w1 JOIN cm1 ON w1.col = cm1.col CROSS JOIN tot),
    rm2 AS (SELECT row, CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS rm
            FROM w2 GROUP BY 1),
    w3 AS (SELECT w2.row, col, n, w * ((t / nr) / rm) AS w
           FROM w2 JOIN rm2 ON w2.row = rm2.row CROSS JOIN tot),
    cm2 AS (SELECT col, CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS cm
            FROM w3 GROUP BY 1),
    w4 AS (SELECT row, w3.col, n, w * ((t / nc) / cm) AS w
           FROM w3 JOIN cm2 ON w3.col = cm2.col CROSS JOIN tot)
    SELECT row, col, n, round(w / n, 6) AS weight FROM w4
"""


ORACLES["srm_audit"] = """
    WITH v AS (
      SELECT event_type AS "group",
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS vr
      FROM events
    ),
    agg AS (
      SELECT "group",
             CAST(sum(CASE WHEN vr = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vr = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM v GROUP BY 1
    )
    SELECT "group", n_a, n_b,
           round((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                   / ((n_a + n_b) / 2.0)
                 + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                   / ((n_a + n_b) / 2.0), 6) AS chi2,
           CAST(CASE WHEN (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                            / ((n_a + n_b) / 2.0)
                          + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                            / ((n_a + n_b) / 2.0) > 3.841
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM agg
"""

ORACLES["drift_fdr"] = f"""
    WITH {_MIDPOINT_SQL},
    {_HALF_VALUE_COUNTS_SQL},
    {_ECDF_STEPS_SQL},
    ksq AS (
      SELECT name,
             CAST(min(n1) AS BIGINT) AS n1,
             CAST(min(n2) AS BIGINT) AS n2,
             round(max(abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2)), 6) AS ks
      FROM stepped WHERE n1 > 0 AND n2 > 0
      GROUP BY 1
    ),
    withp AS (
      SELECT name AS key,
             least(1.0, 2.0 * exp(-2.0 * (n1 * n2 / (n1 + n2)) * ks * ks)) AS p
      FROM ksq
    ),
    ranked AS (
      SELECT key, p,
             CAST(row_number() OVER (ORDER BY p, key) AS BIGINT) AS rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM withp
    ),
    adj AS (
      SELECT key, p, rank,
             least(min(m * p / rank) OVER (ORDER BY rank DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) AS pa
      FROM ranked
    )
    SELECT key, round(p, 6) AS p, rank, round(pa, 6) AS p_adj,
           CAST(CASE WHEN round(pa, 6) <= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS reject
    FROM adj
"""

ORACLES["freshness_audit"] = """
    WITH anchor AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
    r AS (
      SELECT event_type AS grp, epoch_us(ts) AS t, gmax
      FROM events CROSS JOIN anchor
    )
    SELECT grp AS "group",
           CAST(count(*) AS BIGINT) AS n_events,
           round((max(gmax) - max(t)) / 1000000.0, 6) AS staleness_sec,
           CAST(sum(CASE WHEN t > gmax - 86400000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_window
    FROM r GROUP BY 1
"""


ORACLES["policy_replay"] = f"""
    WITH base AS (
      SELECT CAST(user_id AS VARCHAR) AS u, event_type AS arm,
             CAST(value AS DOUBLE) AS r
      FROM events
    ),
    arms AS (
      SELECT arm,
             CAST(row_number() OVER (ORDER BY arm) - 1 AS BIGINT) AS idx
      FROM (SELECT DISTINCT arm FROM base)
    ),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n_arms FROM arms),
    matched AS (
      SELECT b.arm, r,
             CASE WHEN b.arm = a.arm THEN 1 ELSE 0 END AS m
      FROM base b CROSS JOIN na
      JOIN arms a
        ON ('0x' || substr(md5(b.u), 1, 11))::BIGINT % na.n_arms = a.idx
    )
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_logged,
           CAST(sum(m) AS BIGINT) AS n_matched,
           CASE WHEN sum(m) > 0 THEN
             {round6_bridge_sql(
                 "CAST(sum(CAST(CASE WHEN m = 1 THEN r ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) / sum(m)",
             )}
           ELSE -1.0 END AS replay_mean
    FROM matched GROUP BY 1
"""

ORACLES["growth_accounting"] = """
    WITH grid AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS p
      FROM events
    ),
    cls AS (
      SELECT p,
             CASE WHEN lag(p) OVER (PARTITION BY u ORDER BY p) IS NULL THEN 'new'
                  WHEN lag(p) OVER (PARTITION BY u ORDER BY p) = p - 1 THEN 'retained'
                  ELSE 'resurrected' END AS c
      FROM grid
    ),
    per AS (
      SELECT p,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN c = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN c = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN c = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM cls GROUP BY 1
    )
    SELECT CAST(p * 604800 AS BIGINT) AS period_start,
           n_active, n_new, n_retained, n_resurrected,
           CASE WHEN lag(p) OVER (ORDER BY p) = p - 1
                THEN CAST(lag(n_active) OVER (ORDER BY p) - n_retained AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS n_churned
    FROM per
"""

ORACLES["vocab_coverage"] = f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
             sum(n) OVER (ORDER BY n DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER () AS total,
             CAST(count(*) OVER () AS BIGINT) AS vocab_size
      FROM cnt
    ),
    cuts(k) AS (VALUES (CAST(10 AS BIGINT)), (100), (1000))
    SELECT k, vocab_size,
           {round6_ratio_sql("cum", "total")} AS coverage
    FROM ranked JOIN cuts ON rank = least(k, vocab_size)
"""


ORACLES["ab_lift"] = """
    WITH base AS (
      SELECT event_type AS "group",
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END AS a,
             CAST(value AS DOUBLE) AS v
      FROM events
    ),
    agg AS (
      SELECT "group",
             CAST(sum(a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(a) AS BIGINT) AS n_b,
             CAST(sum(CAST(CASE WHEN a = 1 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS s_a,
             CAST(sum(CAST(CASE WHEN a = 0 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS s_b,
             CAST(sum(CAST(CASE WHEN a = 1 THEN v * v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS q_a,
             CAST(sum(CAST(CASE WHEN a = 0 THEN v * v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS q_b
      FROM base GROUP BY 1
    )
    SELECT "group", n_a, n_b,
           round(s_a / n_a, 6) AS mean_a,
           round(s_b / n_b, 6) AS mean_b,
           round(s_a / n_a - s_b / n_b, 6) AS lift,
           CASE WHEN ((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                      + ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b > 0
                THEN round((s_a / n_a - s_b / n_b)
                           / sqrt(((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                                  + ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b), 6)
                ELSE 0.0 END AS t_welch
    FROM agg WHERE n_a > 1 AND n_b > 1
"""

ORACLES["simpson_check"] = """
    WITH base AS (
      SELECT l_returnflag AS "group",
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    per AS (
      SELECT "group",
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS DECIMAL(38,12))) AS sx,
             sum(CAST(y AS DECIMAL(38,12))) AS sy,
             sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
             sum(CAST(x * x AS DECIMAL(38,12))) AS sxx
      FROM base GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(sum(n) AS BIGINT) AS pn,
             sum(sx) AS px, sum(sy) AS py, sum(sxy) AS pxy, sum(sxx) AS pxx
      FROM per
    )
    SELECT "group", n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope,
           round((pn * CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) * CAST(py AS DOUBLE))
                 / (pn * CAST(pxx AS DOUBLE) - CAST(px AS DOUBLE) * CAST(px AS DOUBLE)), 6)
             AS pooled_slope,
           CAST(CASE WHEN
                 round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 * round((pn * CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) * CAST(py AS DOUBLE))
                         / (pn * CAST(pxx AS DOUBLE) - CAST(px AS DOUBLE) * CAST(px AS DOUBLE)), 6)
                 < 0 THEN 1 ELSE 0 END AS BIGINT) AS flip
    FROM per CROSS JOIN pooled
"""

ORACLES["post_stratified_mean"] = f"""
    WITH per AS (
      SELECT event_type AS h,
             CAST(count(*) AS BIGINT) AS n_h,
             sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS s_h,
             sum({cents_sql("value")}) AS c_h
      FROM events GROUP BY 1
    ),
    agg AS (
      SELECT CAST(sum(n_h) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_strata,
             sum(c_h)::HUGEINT AS cents,
             100::HUGEINT * sum(n_h) AS den,
             {round6_bridge_sql(
                 "CAST(sum(CAST(CAST(s_h AS DOUBLE) / n_h AS DECIMAL(38,12))) AS DOUBLE) / count(*)",
             )} AS post_mean,
             {round6_ratio_sql("max(n_h)", "sum(n_h)")} AS max_stratum_share
      FROM per
    )
    SELECT n, n_strata,
           {round6_ratio_dec_signed_sql("cents", "den")} AS raw_mean,
           post_mean, max_stratum_share
    FROM agg
"""


ORACLES["capture_recapture"] = """
    WITH scal AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    base AS (
      SELECT user_id AS u,
             epoch_us(ts) <= lo + (hi - lo) / 4 AS in1,
             epoch_us(ts) >= hi - (hi - lo) / 4 AS in2
      FROM events CROSS JOIN scal
    ),
    per_unit AS (
      SELECT u,
             max(CASE WHEN in1 THEN 1 ELSE 0 END) AS s1,
             max(CASE WHEN in2 THEN 1 ELSE 0 END) AS s2
      FROM base GROUP BY 1
    ),
    agg AS (
      SELECT CAST(sum(s1) AS BIGINT) AS n1,
             CAST(sum(s2) AS BIGINT) AS n2,
             CAST(sum(s1 * s2) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS n_observed
      FROM per_unit
    )
    SELECT n1, n2, m, n_observed,
           round((n1 + 1) * (n2 + 1) / (m + 1) - 1.0, 6) AS chapman_est,
           round(n_observed / ((n1 + 1) * (n2 + 1) / (m + 1) - 1.0), 6) AS coverage
    FROM agg
"""

ORACLES["powerlaw_alpha"] = f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    base AS (SELECT CAST(n AS DOUBLE) AS x FROM cnt)
    SELECT CAST(sum(CASE WHEN x >= 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
           CAST(5 AS BIGINT) AS xmin,
           round(1.0 + sum(CASE WHEN x >= 5.0 THEN 1 ELSE 0 END)
                         / CAST(sum(CAST(CASE WHEN x >= 5.0 THEN ln(x / 4.5)
                                              ELSE 0.0 END AS DECIMAL(38,12)))
                                AS DOUBLE), 6) AS alpha,
           {round6_ratio_dec_sql(
               "sum(CASE WHEN x >= 5.0 THEN CAST(x AS BIGINT) ELSE 0 END)::HUGEINT",
               "sum(CAST(x AS BIGINT))::HUGEINT",
           )} AS tail_mass_share
    FROM base
"""

ORACLES["scale_drift"] = f"""
    WITH {_MIDPOINT_SQL},
    base AS (
      SELECT event_type AS name,
             CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal) THEN 1 ELSE 0 END AS h,
             CAST(value AS DOUBLE) AS v
      FROM events
    ),
    agg AS (
      SELECT name,
             CAST(sum(h) AS BIGINT) AS n1,
             CAST(count(*) - sum(h) AS BIGINT) AS n2,
             CAST(sum(CAST(CASE WHEN h = 1 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(CASE WHEN h = 0 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS s2,
             CAST(sum(CAST(CASE WHEN h = 1 THEN v * v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS q1,
             CAST(sum(CAST(CASE WHEN h = 0 THEN v * v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS q2
      FROM base GROUP BY 1
    )
    SELECT name, n1, n2,
           round(((q1 - s1 * s1 / n1) / (n1 - 1)) / ((q2 - s2 * s2 / n2) / (n2 - 1)), 6)
             AS var_ratio,
           round(ln(((q1 - s1 * s1 / n1) / (n1 - 1)) / ((q2 - s2 * s2 / n2) / (n2 - 1))), 6)
             AS log_ratio
    FROM agg WHERE n1 > 1 AND n2 > 1
      AND (q1 - s1 * s1 / n1) / (n1 - 1) > 0
      AND (q2 - s2 * s2 / n2) / (n2 - 1) > 0
"""


ORACLES["rbo_rankings"] = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY 1
    ),
    ranked AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS r1,
             CAST(row_number() OVER (ORDER BY df DESC, token) AS BIGINT) AS r2
      FROM cnt
    ),
    bth AS (SELECT greatest(r1, r2) AS mx FROM ranked WHERE r1 <= 50 AND r2 <= 50),
    per_mx AS (SELECT mx, CAST(count(*) AS BIGINT) AS c FROM bth GROUP BY 1),
    spine AS (SELECT unnest(range(1, 51)) AS d),
    ov AS (
      SELECT d, CAST(COALESCE(sum(c), 0) AS BIGINT) AS ov
      FROM spine LEFT JOIN per_mx ON mx <= d GROUP BY 1
    )
    SELECT CAST(50 AS BIGINT) AS k,
           round((1.0 - 0.5)
                 * CAST(sum(CAST(pow(0.5, d - 1) * (CAST(ov AS DOUBLE) / d)
                                 AS DECIMAL(38,12))) AS DOUBLE), 6) AS rbo,
           CAST(max(CASE WHEN d = 50 THEN ov END) AS BIGINT) AS overlap_at_k
    FROM ov
"""

ORACLES["churn_auc"] = f"""
    WITH scal AS (
      SELECT CAST(floor((min(epoch_us(o_orderdate)) + max(epoch_us(o_orderdate))) / 2) AS BIGINT) AS mid
      FROM orders
    ),
    before AS (
      SELECT o_custkey AS u, CAST(max(epoch_us(o_orderdate)) AS DOUBLE) AS score
      FROM orders CROSS JOIN scal WHERE epoch_us(o_orderdate) <= mid GROUP BY 1
    ),
    aft AS (
      SELECT DISTINCT o_custkey AS u
      FROM orders CROSS JOIN scal WHERE epoch_us(o_orderdate) > mid
    ),
    labeled AS (
      SELECT score, CASE WHEN aft.u IS NULL THEN 0 ELSE 1 END = 1 AS pos
      FROM before LEFT JOIN aft ON before.u = aft.u
    ),
    r AS (
      SELECT pos,
             2 * rank() OVER (ORDER BY score)
                 + count(*) OVER (PARTITION BY score) - 1 AS r2
      FROM labeled
    ),
    a AS (
      SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg,
             sum(CASE WHEN pos THEN r2 ELSE 0 END) AS r2pos
      FROM r
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           {round6_ratio_dec_sql(
               "r2pos::HUGEINT - n_pos::HUGEINT * (n_pos + 1)",
               "2::HUGEINT * n_pos::HUGEINT * n_neg",
           )} AS auc
    FROM a WHERE n_pos > 0 AND n_neg > 0
"""

ORACLES["session_gap_sweep"] = f"""
    WITH gaps AS (
      SELECT user_id AS u,
             epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
      FROM events
    ),
    agg AS (
      SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu,
             CAST(count(*) AS BIGINT) AS ne,
             CAST(sum(CASE WHEN gap > 900.0 THEN 1 ELSE 0 END) AS BIGINT) AS x900,
             CAST(sum(CASE WHEN gap > 1800.0 THEN 1 ELSE 0 END) AS BIGINT) AS x1800,
             CAST(sum(CASE WHEN gap > 3600.0 THEN 1 ELSE 0 END) AS BIGINT) AS x3600
      FROM gaps
    )
    SELECT CAST(900 AS BIGINT) AS gap_sec, nu + x900 AS n_sessions, ne AS n_events,
           {round6_ratio_sql("ne", "nu + x900")} AS events_per_session FROM agg
    UNION ALL
    SELECT 1800, nu + x1800, ne,
           {round6_ratio_sql("ne", "nu + x1800")}
    FROM agg
    UNION ALL
    SELECT 3600, nu + x3600, ne,
           {round6_ratio_sql("ne", "nu + x3600")}
    FROM agg
"""


ORACLES["langid_kappa"] = rf"""
    WITH {_LANG_SCORES_SQL},
    pred AS (
        SELECT lang AS a,
               {_LANG_PRED_SQL} AS b
        FROM scores
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
      FROM pred
    ),
    ma AS (SELECT a AS cls, CAST(count(*) AS BIGINT) AS na FROM pred GROUP BY 1),
    mb AS (SELECT b AS cls, CAST(count(*) AS BIGINT) AS nb FROM pred GROUP BY 1),
    cr AS (
      SELECT CAST(sum(COALESCE(na, 0) * COALESCE(nb, 0)) AS DECIMAL(38,0)) AS sp
      FROM ma FULL OUTER JOIN mb USING (cls)
    )
    SELECT n,
           {round6_ratio_sql("agree", "n")} AS po,
           {round6_ratio_dec_sql("CAST(sp AS HUGEINT)", "n::HUGEINT * n")} AS pe,
           {round6_ratio_dec_signed_sql(
               "agree::HUGEINT * n - CAST(sp AS HUGEINT)",
               "n::HUGEINT * n - CAST(sp AS HUGEINT)",
           )} AS kappa
    FROM tot CROSS JOIN cr
"""

ORACLES["event_study"] = f"""
    WITH anchors AS (
      SELECT user_id AS u, min(epoch_us(ts)) AS t0
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    j AS (
      SELECT e.user_id AS u, epoch_us(ts) AS t, CAST(value AS DOUBLE) AS v, t0
      FROM events e JOIN anchors a ON e.user_id = a.u
    ),
    o AS (
      SELECT u, CAST(floor((t - t0) / 86400000000) AS BIGINT) AS offset_day, v
      FROM j
    )
    SELECT offset_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users,
           {round6_bridge_sql("CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*)")} AS mean_value
    FROM o WHERE offset_day BETWEEN -5 AND 5 GROUP BY 1
"""

ORACLES["dedup_threshold_sweep"] = f"""
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS n
        FROM documents WHERE doc_id % 5 = 0
    ),
    idx AS (
        SELECT doc_id, n,
               unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
        FROM norm
    ),
    sh AS (SELECT DISTINCT doc_id, substr(n, i, 8) AS s FROM idx),
    {_shingle_overlap_sql()},
    pairs AS (
        SELECT id_a, id_b,
               {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} AS jaccard
        FROM shared
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} >= 0.05
    ),
    pa AS (
      SELECT CAST(COALESCE(sum(CASE WHEN jaccard >= 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS p0,
             CAST(COALESCE(sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS p1,
             CAST(COALESCE(sum(CASE WHEN jaccard >= 0.3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS p2
      FROM pairs
    ),
    best AS (SELECT id_b, max(jaccard) AS bj FROM pairs GROUP BY 1),
    da AS (
      SELECT CAST(COALESCE(sum(CASE WHEN bj >= 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d0,
             CAST(COALESCE(sum(CASE WHEN bj >= 0.2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d1,
             CAST(COALESCE(sum(CASE WHEN bj >= 0.3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d2
      FROM best
    )
    SELECT 0.1 AS threshold, p0 AS n_pairs, d0 AS n_dropped FROM pa CROSS JOIN da
    UNION ALL
    SELECT 0.2, p1, d1 FROM pa CROSS JOIN da
    UNION ALL
    SELECT 0.3, p2, d2 FROM pa CROSS JOIN da
"""


ORACLES["did_estimate"] = f"""
    WITH {_MIDPOINT_SQL},
    tset AS (SELECT user_id AS tu FROM events WHERE event_type = 'error'
             GROUP BY 1 HAVING count(*) >= 15),
    base AS (
      SELECT CASE WHEN tu IS NULL THEN 0 ELSE 1 END AS g,
             CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END AS p,
             CAST(value AS DOUBLE) AS v, user_id AS u
      FROM events CROSS JOIN scal LEFT JOIN tset ON user_id = tu
    ),
    agg AS (
      SELECT
        CAST(count(DISTINCT CASE WHEN g = 1 THEN u END) AS BIGINT) AS n_treated,
        CAST(count(DISTINCT CASE WHEN g = 0 THEN u END) AS BIGINT) AS n_control,
        CASE WHEN sum(CASE WHEN g = 1 AND p = 0 THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CAST(CASE WHEN g = 1 AND p = 0 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
                  / sum(CASE WHEN g = 1 AND p = 0 THEN 1 ELSE 0 END)
             ELSE 0.0 END AS t_pre,
        CASE WHEN sum(CASE WHEN g = 1 AND p = 1 THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CAST(CASE WHEN g = 1 AND p = 1 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
                  / sum(CASE WHEN g = 1 AND p = 1 THEN 1 ELSE 0 END)
             ELSE 0.0 END AS t_post,
        CASE WHEN sum(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CAST(CASE WHEN g = 0 AND p = 0 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
                  / sum(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END)
             ELSE 0.0 END AS c_pre,
        CASE WHEN sum(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CAST(CASE WHEN g = 0 AND p = 1 THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
                  / sum(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END)
             ELSE 0.0 END AS c_post
      FROM base
    )
    SELECT n_treated, n_control,
           round(t_pre, 6) AS t_pre, round(t_post, 6) AS t_post,
           round(c_pre, 6) AS c_pre, round(c_post, 6) AS c_post,
           round((t_post - t_pre) - (c_post - c_pre), 6) AS did
    FROM agg
"""

ORACLES["source_similarity"] = """
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    tf AS (SELECT g, t, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    gc AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS ng FROM tf),
    dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    w AS (
      SELECT tf.g, tf.t, tf * ln(1.0 + ng / df) AS w
      FROM tf JOIN dfq ON tf.t = dfq.t CROSS JOIN gc
    ),
    norms AS (
      SELECT g, sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      FROM w GROUP BY 1
    ),
    dots AS (
      SELECT a.g AS src_a, b.g AS src_b,
             CAST(sum(CAST(a.w * b.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
      FROM w a JOIN w b ON a.t = b.t AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           round(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots JOIN norms na ON na.g = src_a JOIN norms nb ON nb.g = src_b
"""

ORACLES["absorption_prob"] = f"""
    WITH ordered AS (
      SELECT user_id AS u, event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_type) AS s2
      FROM events
    ),
    trans AS (
      SELECT s, s2, CAST(count(*) AS BIGINT) AS n
      FROM ordered WHERE s2 IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT s, CAST(sum(n) AS BIGINT) AS t FROM trans GROUP BY 1),
    P AS (SELECT trans.s, s2, n / CAST(t AS DOUBLE) AS p
          FROM trans JOIN tot ON trans.s = tot.s),
    sts AS (SELECT DISTINCT s FROM (SELECT s FROM trans UNION SELECT s2 FROM trans)),
    r0 AS (SELECT s, CASE WHEN s = 'purchase' THEN 1.0 ELSE 0.0 END AS r FROM sts),
    a1 AS (SELECT P.s, CAST(sum(CAST(p * r AS DECIMAL(38,12))) AS DOUBLE) AS acc
           FROM P JOIN r0 ON P.s2 = r0.s GROUP BY 1),
    r1 AS (SELECT sts.s, CASE WHEN sts.s = 'purchase' THEN 1.0
                              ELSE COALESCE(acc, 0.0) END AS r
           FROM sts LEFT JOIN a1 ON sts.s = a1.s),
    a2 AS (SELECT P.s, CAST(sum(CAST(p * r AS DECIMAL(38,12))) AS DOUBLE) AS acc
           FROM P JOIN r1 ON P.s2 = r1.s GROUP BY 1),
    r2 AS (SELECT sts.s, CASE WHEN sts.s = 'purchase' THEN 1.0
                              ELSE COALESCE(acc, 0.0) END AS r
           FROM sts LEFT JOIN a2 ON sts.s = a2.s),
    a3 AS (SELECT P.s, CAST(sum(CAST(p * r AS DECIMAL(38,12))) AS DOUBLE) AS acc
           FROM P JOIN r2 ON P.s2 = r2.s GROUP BY 1),
    r3 AS (SELECT sts.s, CASE WHEN sts.s = 'purchase' THEN 1.0
                              ELSE COALESCE(acc, 0.0) END AS r
           FROM sts LEFT JOIN a3 ON sts.s = a3.s)
    SELECT s AS state, {round6_bridge_sql("r")} AS p_reach FROM r3
"""


ORACLES["bfs_reach"] = f"""
    WITH {_COACTIVITY_EDGES_SQL},
    nodes AS (SELECT DISTINCT node FROM
              (SELECT a AS node FROM edges UNION SELECT b FROM edges)),
    seeds AS (SELECT node AS seed FROM nodes
              ORDER BY md5(CAST(node AS VARCHAR)) LIMIT 3),
    und AS MATERIALIZED (
      SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
    v0 AS (SELECT seed, seed AS node FROM seeds),
    x1 AS (SELECT DISTINCT v0.seed, und.v AS node FROM v0 JOIN und ON v0.node = und.u),
    n1 AS MATERIALIZED (SELECT seed, node FROM x1
          WHERE NOT EXISTS (SELECT 1 FROM v0 WHERE v0.seed = x1.seed AND v0.node = x1.node)),
    v1 AS MATERIALIZED (SELECT * FROM v0 UNION ALL SELECT * FROM n1),
    x2 AS (SELECT DISTINCT n1.seed, und.v AS node FROM n1 JOIN und ON n1.node = und.u),
    n2 AS MATERIALIZED (SELECT seed, node FROM x2
          WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.seed = x2.seed AND v1.node = x2.node)),
    v2 AS MATERIALIZED (SELECT * FROM v1 UNION ALL SELECT * FROM n2),
    x3 AS (SELECT DISTINCT n2.seed, und.v AS node FROM n2 JOIN und ON n2.node = und.u),
    n3 AS MATERIALIZED (SELECT seed, node FROM x3
          WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.seed = x3.seed AND v2.node = x3.node)),
    v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM n3)
    SELECT seed, CAST(1 AS BIGINT) AS hop,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM v1 WHERE node <> seed GROUP BY 1
    UNION ALL
    SELECT seed, 2, CAST(count(*) AS BIGINT)
    FROM v2 WHERE node <> seed GROUP BY 1
    UNION ALL
    SELECT seed, 3, CAST(count(*) AS BIGINT)
    FROM v3 WHERE node <> seed GROUP BY 1
"""

ORACLES["audience_stability"] = """
    WITH grid AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS p
      FROM events
    ),
    sizes AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM grid GROUP BY 1),
    ov AS (
      SELECT g.p, CAST(count(*) AS BIGINT) AS o
      FROM grid g JOIN grid g2 ON g.u = g2.u AND g2.p = g.p + 1
      GROUP BY 1
    )
    SELECT CAST(s.p * 86400 AS BIGINT) AS period_start,
           CAST((s.p + 1) * 86400 AS BIGINT) AS next_start,
           s.n AS n_active, s2.n AS n_next,
           COALESCE(o, 0) AS n_overlap,
           round(COALESCE(o, 0)
                 / CAST(s.n + s2.n - COALESCE(o, 0) AS DOUBLE), 6) AS jaccard
    FROM sizes s JOIN sizes s2 ON s2.p = s.p + 1
    LEFT JOIN ov ON ov.p = s.p
"""

ORACLES["max_drawdown"] = """
    WITH per AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bkt,
             sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS s
      FROM events GROUP BY 1
    ),
    st AS (
      SELECT bkt,
             sum(s) OVER (ORDER BY bkt
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM per
    ),
    st2 AS (
      SELECT bkt, cum,
             max(cum) OVER (ORDER BY bkt
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM st
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(round(arg_max(cum, bkt), 6) AS DOUBLE) AS final_cum,
           CAST(round(max(cum), 6) AS DOUBLE) AS peak,
           CAST(round(max(peak - cum), 6) AS DOUBLE) AS max_drawdown
    FROM st2
"""


ORACLES["zonemap_prune"] = f"""
    WITH base AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x, o_orderkey AS id FROM orders
    ),
    nat AS (
      SELECT x, CAST(floor((row_number() OVER (ORDER BY id) - 1) / 64) AS BIGINT) AS c
      FROM base
    ),
    nstats AS (SELECT c, min(x) AS lo, max(x) AS hi FROM nat GROUP BY 1),
    srt AS (
      SELECT x, CAST(floor((row_number() OVER (ORDER BY x, id) - 1) / 64) AS BIGINT) AS c
      FROM base
    ),
    sstats AS (SELECT c, min(x) AS lo, max(x) AS hi FROM srt GROUP BY 1)
    SELECT 'natural' AS layout,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN hi < 50000.0 OR lo > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           {round6_ratio_sql(
               "sum(CASE WHEN hi < 50000.0 OR lo > 100000.0 THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS prune_rate
    FROM nstats
    UNION ALL
    SELECT 'sorted',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN hi < 50000.0 OR lo > 100000.0 THEN 1 ELSE 0 END) AS BIGINT),
           {round6_ratio_sql(
               "sum(CASE WHEN hi < 50000.0 OR lo > 100000.0 THEN 1 ELSE 0 END)",
               "count(*)",
           )}
    FROM sstats
"""

ORACLES["incremental_join"] = """
    WITH ob AS (SELECT o_orderkey FROM orders WHERE o_orderkey <= 30000),
    od AS (SELECT o_orderkey FROM orders WHERE o_orderkey > 30000),
    lb AS (SELECT l_orderkey AS o_orderkey, l_extendedprice FROM lineitem
           WHERE l_orderkey <= 30000),
    ld AS (SELECT l_orderkey AS o_orderkey, l_extendedprice FROM lineitem
           WHERE l_orderkey > 30000),
    fo AS (SELECT * FROM ob UNION ALL SELECT * FROM od),
    fl AS (SELECT * FROM lb UNION ALL SELECT * FROM ld)
    SELECT 'base' AS component, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(round(sum(CAST(l_extendedprice AS DECIMAL(38,12))), 6), 0) AS DOUBLE) AS value_sum
    FROM ob JOIN lb USING (o_orderkey)
    UNION ALL
    SELECT 'delta_l', CAST(count(*) AS BIGINT),
           CAST(COALESCE(round(sum(CAST(l_extendedprice AS DECIMAL(38,12))), 6), 0) AS DOUBLE)
    FROM od JOIN lb USING (o_orderkey)
    UNION ALL
    SELECT 'delta_r', CAST(count(*) AS BIGINT),
           CAST(COALESCE(round(sum(CAST(l_extendedprice AS DECIMAL(38,12))), 6), 0) AS DOUBLE)
    FROM ob JOIN ld USING (o_orderkey)
    UNION ALL
    SELECT 'delta_both', CAST(count(*) AS BIGINT),
           CAST(COALESCE(round(sum(CAST(l_extendedprice AS DECIMAL(38,12))), 6), 0) AS DOUBLE)
    FROM od JOIN ld USING (o_orderkey)
    UNION ALL
    SELECT 'full', CAST(count(*) AS BIGINT),
           CAST(COALESCE(round(sum(CAST(l_extendedprice AS DECIMAL(38,12))), 6), 0) AS DOUBLE)
    FROM fo JOIN fl USING (o_orderkey)
"""

ORACLES["theil_decomposition"] = """
    WITH base AS (
      SELECT source AS g, CAST(n_chars AS DOUBLE) AS v FROM documents
    ),
    dropped AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM base WHERE NOT (v > 0)
    ),
    pos AS (SELECT * FROM base WHERE v > 0),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(v AS DECIMAL(38,12))) AS s_g
      FROM pos GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s FROM per),
    wg AS (
      SELECT g,
             CAST(sum(CAST((v / (CAST(s AS DOUBLE) / n))
                           * ln(v / (CAST(s AS DOUBLE) / n))
                           AS DECIMAL(38,12))) AS DOUBLE) AS tsum,
             max(n) AS n
      FROM pos CROSS JOIN tot GROUP BY 1
    ),
    tt AS (
      SELECT CAST(sum(CAST(tsum AS DECIMAL(38,12))) AS DOUBLE) / max(n) AS theil_total
      FROM wg
    ),
    tb AS (
      SELECT CAST(sum(CAST(
               (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
               * ln((CAST(s_g AS DOUBLE) / n_g) / (CAST(s AS DOUBLE) / n))
             AS DECIMAL(38,12))) AS DOUBLE) AS theil_between
      FROM per CROSS JOIN tot
    )
    SELECT n, n_dropped,
           round(theil_total, 6) AS theil_total,
           round(theil_between, 6) AS theil_between,
           round(theil_total - theil_between, 6) AS theil_within
    FROM tot CROSS JOIN dropped CROSS JOIN tt CROSS JOIN tb
"""


ORACLES["wasserstein_drift"] = f"""
    WITH {_MIDPOINT_SQL},
    {_HALF_VALUE_COUNTS_SQL},
    stepped AS (
      SELECT name, v,
             sum(c1) OVER (PARTITION BY name ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
             sum(c2) OVER (PARTITION BY name ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
             sum(c1) OVER (PARTITION BY name) AS n1,
             sum(c2) OVER (PARTITION BY name) AS n2,
             lead(v) OVER (PARTITION BY name ORDER BY v) - v AS dv
      FROM counts
    )
    SELECT name,
           CAST(min(n1) AS BIGINT) AS n1,
           CAST(min(n2) AS BIGINT) AS n2,
           CAST(round(sum(CAST(abs(CAST(cum1 AS DOUBLE) / n1
                                   - CAST(cum2 AS DOUBLE) / n2) * dv
                               AS DECIMAL(38,12))), 6) AS DOUBLE) AS w1
    FROM stepped
    WHERE n1 > 0 AND n2 > 0 AND dv IS NOT NULL
    GROUP BY 1
"""

ORACLES["variance_decomposition"] = """
    WITH base AS (
      SELECT event_type AS a, CAST(hour(ts) AS BIGINT) AS b,
             CAST(value AS DOUBLE) AS v
      FROM events
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_c,
             sum(CAST(v AS DECIMAL(38,12))) AS s_c,
             sum(CAST(v * v AS DECIMAL(38,12))) AS q_c
      FROM base GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(n_c) AS BIGINT) AS n, sum(s_c) AS s, sum(q_c) AS q FROM cells
    ),
    ga AS (
      SELECT CAST(sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g
                           AS DECIMAL(38,12))) AS DOUBLE) AS ssq_a
      FROM (SELECT a, CAST(sum(n_c) AS BIGINT) AS n_g, sum(s_c) AS s_g
            FROM cells GROUP BY 1)
    ),
    gb AS (
      SELECT CAST(sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g
                           AS DECIMAL(38,12))) AS DOUBLE) AS ssq_b
      FROM (SELECT b, CAST(sum(n_c) AS BIGINT) AS n_g, sum(s_c) AS s_g
            FROM cells GROUP BY 1)
    ),
    gc AS (
      SELECT CAST(sum(CAST(CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n_c
                           AS DECIMAL(38,12))) AS DOUBLE) AS ssq_c
      FROM cells
    )
    SELECT n,
           round((ssq_a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
             AS eta2_a,
           round((ssq_b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
             AS eta2_b,
           round((ssq_c - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
             AS eta2_cells,
           round((CAST(q AS DOUBLE) - ssq_c)
                 / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
             AS residual_share
    FROM tot CROSS JOIN ga CROSS JOIN gb CROSS JOIN gc
"""

ORACLES["ship_lag_percentiles"] = """
    WITH j AS (
      SELECT o_orderpriority,
             (epoch_us(l_shipdate) - epoch_us(o_orderdate)) / 86400000000.0 AS lag_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cells AS (
      SELECT o_orderpriority,
             quantile_cont(CAST(lag_days AS DOUBLE), [0.5, 0.9, 0.99]) AS qs
      FROM j GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p,
           round(unnest(qs), 6) AS q
    FROM cells
"""


ORACLES["wilson_ci"] = f"""
    WITH agg AS (
      SELECT event_type AS "group",
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events GROUP BY 1
    )
    SELECT "group", n,
           {round6_ratio_sql("k", "n")} AS p_hat,
           round((k / CAST(n AS DOUBLE) + 1.959964 * 1.959964 / (2.0 * CAST(n AS DOUBLE)))
                   / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))
                 - 1.959964
                   * sqrt(k / CAST(n AS DOUBLE) * (1.0 - k / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                          + 1.959964 * 1.959964 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE)), 6) + 0.0 AS ci_lo,
           round((k / CAST(n AS DOUBLE) + 1.959964 * 1.959964 / (2.0 * CAST(n AS DOUBLE)))
                   / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))
                 + 1.959964
                   * sqrt(k / CAST(n AS DOUBLE) * (1.0 - k / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                          + 1.959964 * 1.959964 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE)), 6) AS ci_hi
    FROM agg
"""

ORACLES["mann_kendall"] = """
    WITH per AS (
      SELECT event_type AS g,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS b,
             CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT l.g, l.b AS bi,
             CASE WHEN r.x > l.x THEN 1 WHEN r.x < l.x THEN -1 ELSE 0 END AS t
      FROM per l JOIN per r ON l.g = r.g AND l.b < r.b
    ),
    agg AS (
      SELECT g, CAST(sum(t) AS BIGINT) AS s_stat,
             CAST(count(DISTINCT bi) + 1 AS BIGINT) AS n_buckets
      FROM pairs GROUP BY 1
    )
    SELECT g AS "group", n_buckets, s_stat,
           round(CASE WHEN s_stat > 0
                      THEN (s_stat - 1) / sqrt(CAST(n_buckets AS DOUBLE)
                           * (CAST(n_buckets AS DOUBLE) - 1.0)
                           * (2.0 * CAST(n_buckets AS DOUBLE) + 5.0) / 18.0)
                      WHEN s_stat < 0
                      THEN (s_stat + 1) / sqrt(CAST(n_buckets AS DOUBLE)
                           * (CAST(n_buckets AS DOUBLE) - 1.0)
                           * (2.0 * CAST(n_buckets AS DOUBLE) + 5.0) / 18.0)
                      ELSE 0.0 END, 6) AS z
    FROM agg
"""

ORACLES["peak_detection"] = """
    WITH per AS (
      SELECT event_type AS g,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    flagged AS (
      SELECT g, b, n,
             CASE WHEN lag(n) OVER w IS NOT NULL AND lead(n) OVER w IS NOT NULL
                       AND n > lag(n) OVER w AND n > lead(n) OVER w
                       AND CAST(n AS DOUBLE) >= 1.5 * CAST(least(lag(n) OVER w,
                                                                 lead(n) OVER w) AS DOUBLE)
                  THEN 1 ELSE 0 END AS is_peak
      FROM per
      WINDOW w AS (PARTITION BY g ORDER BY b)
    )
    SELECT g AS "group",
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(is_peak) AS BIGINT) AS n_peaks,
           CAST(COALESCE(max(CASE WHEN is_peak = 1 THEN n END), -1) AS BIGINT) AS max_peak,
           CAST(COALESCE(arg_max(CASE WHEN is_peak = 1 THEN b END,
                                 CASE WHEN is_peak = 1 THEN n * 1000000000 + b END), -1) AS BIGINT)
             AS max_peak_bucket
    FROM flagged GROUP BY 1
"""


ORACLES["hashing_trick_audit"] = f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    bucketed AS (
      SELECT token, n,
             ('0x' || substr(md5(token), 1, 11))::BIGINT % 1024 AS b
      FROM vocab
    ),
    per_bucket AS (
      SELECT b, CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS mass
      FROM bucketed GROUP BY 1
    )
    SELECT CAST(10 AS BIGINT) AS bits,
           CAST(sum(k) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_buckets_used,
           {round6_ratio_sql("sum(CASE WHEN k > 1 THEN k ELSE 0 END)", "sum(k)")} AS collision_rate,
           {round6_ratio_sql(
               "sum(CASE WHEN k > 1 THEN mass ELSE 0 END)",
               "sum(mass)",
           )} AS collided_mass_share
    FROM per_bucket
"""

ORACLES["path_conformance"] = f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, epoch(ts) AS t,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ),
    sess AS (
      SELECT user_id, event_type, t,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_type
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    ),
    coded AS (
      SELECT user_id, session_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY t, event_type) AS path
      FROM sess GROUP BY 1, 2
    ),
    dist AS (
      SELECT levenshtein(substr(path, 1, 20), 'vcp') AS edit_distance FROM coded
    ),
    hist AS (
      SELECT CAST(edit_distance AS BIGINT) AS edit_distance,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM dist GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS t FROM hist)
    SELECT edit_distance, n_sessions,
           {round6_ratio_sql("n_sessions", "t")} AS share
    FROM hist CROSS JOIN tot
"""

ORACLES["schema_drift"] = f"""
    WITH {_MIDPOINT_SQL},
    base AS (
      SELECT CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal) THEN 1 ELSE 2 END AS h,
             props AS j
      FROM events
    ),
    rows_ AS (
      SELECT CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             CAST(sum(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2
      FROM base
    ),
    -- json_valid: DuckDB json_keys hard-errors on malformed JSON where
    -- Spark json_object_keys returns NULL (row contributes no keys);
    -- r1/r2 denominators stay ALL rows on both sides
    keys_ AS (SELECT h, unnest(json_keys(j)) AS key FROM base
              WHERE json_valid(j)),
    cnt AS (
      SELECT key,
             CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM keys_ GROUP BY 1
    )
    SELECT key, n1, n2,
           {round6_ratio_sql("n1", "r1")} AS share1,
           {round6_ratio_sql("n2", "r2")} AS share2,
           CASE WHEN n1 = 0 THEN 'new'
                WHEN n2 = 0 THEN 'dropped'
                ELSE 'stable' END AS status
    FROM cnt CROSS JOIN rows_
"""


ORACLES["ratio_ci"] = """
    WITH per_unit AS (
      SELECT event_type AS g, user_id AS u,
             CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS y,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT g,
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(x) AS BIGINT) AS n_rows,
             CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
             CAST(sum(CAST(y * x AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(CAST(x AS DOUBLE) * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM per_unit GROUP BY 1
    )
    SELECT g AS "group", n_units, n_rows,
           round(sy / sx, 6) AS ratio,
           round(sqrt(CAST(n_units AS DOUBLE) / (n_units - 1)
                      * greatest(syy - 2.0 * (sy / sx) * sxy
                                 + (sy / sx) * (sy / sx) * sxx, 0.0)) / sx, 6)
             AS se_cluster,
           round(sy / sx - 1.959964
                 * sqrt(CAST(n_units AS DOUBLE) / (n_units - 1)
                        * greatest(syy - 2.0 * (sy / sx) * sxy
                                   + (sy / sx) * (sy / sx) * sxx, 0.0)) / sx, 6)
             AS ci_lo,
           round(sy / sx + 1.959964
                 * sqrt(CAST(n_units AS DOUBLE) / (n_units - 1)
                        * greatest(syy - 2.0 * (sy / sx) * sxy
                                   + (sy / sx) * (sy / sx) * sxx, 0.0)) / sx, 6)
             AS ci_hi
    FROM agg WHERE n_units > 1
"""

ORACLES["logrank_test"] = """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type AS ty FROM events
    ),
    endo AS (SELECT max(t) AS e FROM base),
    starts AS (SELECT u, min(t) AS t0 FROM base WHERE ty = 'signup' GROUP BY 1),
    convs AS (
      SELECT b.u, min(t) AS t1
      FROM base b JOIN starts s ON b.u = s.u
      WHERE ty = 'purchase' AND t > t0 GROUP BY 1
    ),
    users AS (
      SELECT starts.u,
             CASE WHEN substring(md5(CAST(starts.u AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END AS a,
             CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST(floor((COALESCE(t1, e) - t0) / 86400000000) AS BIGINT) AS dur
      FROM starts LEFT JOIN convs ON starts.u = convs.u CROSS JOIN endo
    ),
    periods AS (SELECT DISTINCT dur AS tt FROM users WHERE ev = 1),
    at_risk AS (SELECT users.*, tt FROM users JOIN periods ON dur >= tt),
    per_t AS (
      SELECT tt,
             CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN a = 1 AND ev = 1 AND dur = tt THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN a = 0 AND ev = 1 AND dur = tt THEN 1 ELSE 0 END) AS BIGINT) AS d2
      FROM at_risk GROUP BY 1
    ),
    sums AS (
      SELECT CAST(sum(CAST(d1 AS DECIMAL(38,12))) AS DOUBLE) AS obs_a,
             CAST(sum(CAST((d1 + d2) * CAST(n1 AS DOUBLE) / (n1 + n2)
                           AS DECIMAL(38,12))) AS DOUBLE) AS exp_a,
             CAST(sum(CAST(CASE WHEN n1 + n2 > 1
                                THEN (d1 + d2) * (CAST(n1 AS DOUBLE) / (n1 + n2))
                                     * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n2))
                                     * (CAST(n1 + n2 AS DOUBLE) - (d1 + d2))
                                     / (CAST(n1 + n2 AS DOUBLE) - 1.0)
                                ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS var_a
      FROM per_t
    ),
    counts AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(a) AS BIGINT) AS n_b
      FROM users
    )
    SELECT n_a, n_b,
           round(obs_a, 6) AS obs_a,
           round(exp_a, 6) AS exp_a,
           round((obs_a - exp_a) * (obs_a - exp_a) / var_a, 6) AS chi2
    FROM counts CROSS JOIN sums
"""


ORACLES["qq_shift_fit"] = f"""
    WITH {_MIDPOINT_SQL},
    base AS (
      SELECT event_type AS name,
             CASE WHEN epoch_us(ts) <= (SELECT mid FROM scal) THEN 1 ELSE 2 END AS h,
             CAST(value AS DOUBLE) AS v
      FROM events
    ),
    qs AS (
      SELECT name, h,
             quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
      FROM base GROUP BY 1, 2
    ),
    e1 AS (
      SELECT name, generate_subscripts(q, 1) - 1 AS i, unnest(q) AS q1
      FROM qs WHERE h = 1
    ),
    e2 AS (
      SELECT name, generate_subscripts(q, 1) - 1 AS i, unnest(q) AS q2
      FROM qs WHERE h = 2
    ),
    pairs AS (SELECT e1.name, q1, q2 FROM e1 JOIN e2 ON e1.name = e2.name AND e1.i = e2.i),
    agg AS (
      SELECT name,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(q1 AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(q2 AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(q1 * q2 AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(q1 * q1 AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM pairs GROUP BY 1
    )
    SELECT name,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept
    FROM agg WHERE n * sxx - sx * sx > 0
"""

ORACLES["chao1_richness"] = f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    vocab AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
    agg AS (
      -- coalesce mirrors Spark: over an empty vocabulary sum() is
      -- NULL; the 0 keeps the documented 0.0 sentinel NULL-free
      SELECT CAST(count(*) AS BIGINT) AS v_obs,
             CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
             CAST(coalesce(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f2
      FROM vocab
    )
    , rat AS (
      -- single exact integer ratios in HUGEINT (mirror of
      -- _round6_ratio_dec; the 2*f2*v_obs product passes the
      -- BIGINT*2e6 ceiling at corpus scale)
      SELECT v_obs, f1, f2,
             CASE WHEN f2 > 0
                  THEN 2::HUGEINT * f2 * v_obs + f1::HUGEINT * f1
                  ELSE 2::HUGEINT * v_obs + f1::HUGEINT * (f1 - 1) END AS num,
             CASE WHEN f2 > 0 THEN 2::HUGEINT * f2 ELSE 2::HUGEINT END AS den,
             CASE WHEN f2 > 0
                  THEN f1::HUGEINT * f1
                  ELSE f1::HUGEINT * (f1 - 1) END AS extra_num
      FROM agg
    )
    SELECT v_obs, f1, f2,
           {round6_ratio_dec_sql("num", "den")} AS chao1,
           CASE WHEN num > 0
                THEN {round6_ratio_dec_sql("extra_num", "num")}
                ELSE 0.0 END AS unseen_share
    FROM rat
"""

ORACLES["quality_rule_pack"] = rf"""
    WITH per_doc AS (
      SELECT
        len(regexp_split_to_array(trim(text), '\s+')) AS w,
        length(text)
          - length(regexp_replace(text, '\s', '', 'g')) AS sp,
        length(text) AS nc,
        (length(text) - length(replace(text, '...', ''))) // 3
          + (length(text) - length(replace(text, '…', '')))
          + (length(text) - length(replace(text, '#', ''))) AS sym,
        len(string_split(text, chr(10))) AS nl,
        len(list_filter(string_split(text, chr(10)),
                        x -> regexp_matches(x, '^ *[-*•]'))) AS bl,
        len(list_filter(string_split(text, chr(10)),
                        x -> regexp_matches(x, '(\.\.\.|…) *$'))) AS el,
        len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                        x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
        (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END
        ) AS sh,
        (contains(lower(text), 'lorem ipsum') OR contains(text, '{{')) AS boiler
      FROM documents
    ),
    flags AS (
      SELECT
        CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END AS r01,
        CASE WHEN 3 * w <= nc - sp AND nc - sp <= 10 * w THEN 1 ELSE 0 END AS r02,
        CASE WHEN 10 * sym <= w THEN 1 ELSE 0 END AS r03,
        CASE WHEN 10 * bl <= 9 * nl THEN 1 ELSE 0 END AS r04,
        CASE WHEN 10 * el <= 3 * nl THEN 1 ELSE 0 END AS r05,
        CASE WHEN 5 * aw >= 4 * w THEN 1 ELSE 0 END AS r06,
        CASE WHEN sh >= 2 THEN 1 ELSE 0 END AS r07,
        CASE WHEN boiler THEN 0 ELSE 1 END AS r08
      FROM per_doc
    ),
    agg AS (
      SELECT count(*) AS nd,
             sum(r01) AS r01, sum(r02) AS r02, sum(r03) AS r03,
             sum(r04) AS r04, sum(r05) AS r05, sum(r06) AS r06,
             sum(r07) AS r07, sum(r08) AS r08,
             sum(r01 * r02 * r03 * r04 * r05 * r06 * r07 * r08) AS allp
      FROM flags
    ),
    rows_out AS (
      SELECT 'r01_word_count' AS rule, nd, r01 AS np FROM agg
      UNION ALL SELECT 'r02_mean_word_len', nd, r02 FROM agg
      UNION ALL SELECT 'r03_symbol_ratio', nd, r03 FROM agg
      UNION ALL SELECT 'r04_bullet_lines', nd, r04 FROM agg
      UNION ALL SELECT 'r05_ellipsis_lines', nd, r05 FROM agg
      UNION ALL SELECT 'r06_alpha_words', nd, r06 FROM agg
      UNION ALL SELECT 'r07_stopword_hits', nd, r07 FROM agg
      UNION ALL SELECT 'r08_no_boilerplate', nd, r08 FROM agg
      UNION ALL SELECT 'all_rules', nd, allp FROM agg
    )
    SELECT rule,
           CAST(nd AS BIGINT) AS n_docs,
           CAST(np AS BIGINT) AS n_pass,
           {round6_ratio_sql("np", "greatest(nd, 1)")} AS pass_rate
    FROM rows_out
"""

ORACLES["dsir_weights"] = r"""
    WITH words AS (
      SELECT doc_id, lang AS grp,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    uni AS (SELECT doc_id, grp, unnest(w) AS g FROM words),
    bi AS (
      SELECT doc_id, grp, w[i] || ' ' || w[i + 1] AS g
      FROM (SELECT doc_id, grp, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM words WHERE len(w) >= 2)
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    db AS (
      SELECT doc_id, grp,
             ('0x' || substr(md5(g), 1, 11))::BIGINT % 256 AS b,
             count(*) AS m
      FROM grams GROUP BY 1, 2, 3
    ),
    raw AS (SELECT b, sum(m) AS cr FROM db GROUP BY 1),
    tgt AS (SELECT b, sum(m) AS ct FROM db WHERE grp = 'en' GROUP BY 1),
    rt AS (SELECT sum(cr) AS nr FROM raw),
    tt AS (SELECT coalesce(sum(ct), 0) AS nt FROM tgt),
    lam AS (
      SELECT raw.b,
             CAST(ln(((coalesce(ct, 0) + 1.0) * (nr + 256))
                     / ((cr + 1.0) * (nt + 256))) AS DECIMAL(28,12)) AS lam
      FROM raw LEFT JOIN tgt USING (b), rt, tt
    ),
    scored AS (
      SELECT doc_id, grp, CAST(sum(m) AS BIGINT) AS n_grams,
             CAST(round(sum(CAST(m AS DECIMAL(9,0)) * lam), 6) AS DOUBLE)
               AS log_weight
      FROM db JOIN lam USING (b) GROUP BY 1, 2
    )
    SELECT doc_id, grp, n_grams, log_weight
    FROM scored ORDER BY log_weight DESC, doc_id LIMIT 100
"""

ORACLES["packing_efficiency"] = rf"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS t
      FROM documents
    ),
    cum AS (
      SELECT doc_id, t,
             sum(t) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      FROM toks
    ),
    ls AS (SELECT unnest([128, 512, 2048]) AS L),
    per AS (
      SELECT L, t,
             CASE WHEN t > 0 THEN (e - 1) // L - (e - t) // L ELSE 0 END AS crossed,
             CASE WHEN t > 0 THEN (t + L - 1) // L ELSE 0 END AS naive
      FROM cum CROSS JOIN ls
    ),
    agg AS (
      SELECT L, count(*) AS nd, sum(t) AS tt,
             sum(CASE WHEN crossed >= 1 THEN 1 ELSE 0 END) AS ds,
             sum(crossed) AS tsplits, sum(naive) AS nc
      FROM per GROUP BY 1
    )
    SELECT CAST(L AS BIGINT) AS context_len,
           CAST(nd AS BIGINT) AS n_docs,
           CAST(tt AS BIGINT) AS total_tokens,
           CAST((tt + L - 1) // L AS BIGINT) AS packed_contexts,
           {round6_ratio_sql("tt", "greatest(((tt + L - 1) // L) * L, 1)")}
             AS packed_fill_rate,
           CAST(ds AS BIGINT) AS docs_split,
           CAST(tsplits AS BIGINT) AS total_splits,
           CAST(nc AS BIGINT) AS naive_contexts,
           {round6_ratio_sql("tt", "greatest(nc * L, 1)")} AS naive_fill_rate
    FROM agg
"""

ORACLES["token_budget_alloc"] = rf"""
    WITH toks AS (
      SELECT source AS grp,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS t
      FROM documents
    ),
    per_src AS (
      SELECT grp, CAST(sum(t) AS BIGINT) AS avail_tokens
      FROM toks GROUP BY 1 HAVING sum(t) >= 1
    ),
    tot AS (SELECT sum(avail_tokens) // 2 AS B FROM per_src),
    base AS (
      SELECT grp, avail_tokens,
             avail_tokens * 2 AS cap_tokens,
             CAST(sqrt(avail_tokens * 1.0) AS DECIMAL(27,12)) AS wq,
             CAST(CAST(sqrt(avail_tokens * 1.0) AS DECIMAL(27,12)) AS DOUBLE) AS wd,
             B
      FROM per_src, tot
    ),
    pre0 AS (
      SELECT *,
             row_number() OVER wo AS rk,
             coalesce(sum(cap_tokens) OVER
               (wo ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev,
             coalesce(sum(wq) OVER
               (wo ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS DECIMAL(27,12))) AS wprev,
             sum(cap_tokens) OVER
               (wo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cincl,
             sum(wq) OVER
               (wo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wincl
      FROM base
      WINDOW wo AS (ORDER BY cap_tokens / wd, grp)
    ),
    pre AS (SELECT *, max(wincl) OVER () AS W FROM pre0),
    flagged AS (
      SELECT *,
             CASE WHEN CAST(B - cprev AS DOUBLE) * wd
                       >= CAST(cap_tokens AS DOUBLE) * CAST(W - wprev AS DOUBLE)
                  THEN NULL ELSE rk END AS capfail
      FROM pre
    ),
    krow AS (
      SELECT coalesce(min(capfail) - 1, max(rk)) AS k FROM flagged
    ),
    level AS (
      SELECT k,
             CASE WHEN k = 0 THEN CAST(B AS DOUBLE) / CAST(W AS DOUBLE)
                  WHEN W - wincl > 0
                    THEN CAST(B - cincl AS DOUBLE) / CAST(W - wincl AS DOUBLE)
                  ELSE 0.0 END AS lam
      FROM flagged, krow
      WHERE rk = k OR (k = 0 AND rk = 1)
    ),
    out AS (
      SELECT grp, avail_tokens, cap_tokens,
             CASE WHEN rk <= k THEN cap_tokens
                  ELSE greatest(CAST(floor(lam * wd) AS BIGINT), 0) END AS alloc_tokens,
             CAST(CASE WHEN rk <= k THEN 1 ELSE 0 END AS BIGINT) AS capped,
             B
      FROM flagged, level
    )
    SELECT grp, avail_tokens, cap_tokens, alloc_tokens, capped,
           {round6_ratio_sql("alloc_tokens", "avail_tokens")} AS epochs,
           {round6_ratio_sql("alloc_tokens", "greatest(B, 1)")} AS budget_share
    FROM out
"""

ORACLES["shard_balance_audit"] = rf"""
    WITH per_doc AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT % 64
               AS shard,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS t
      FROM documents
    ),
    per_shard AS (
      SELECT shard, count(*) AS nd, sum(t) AS nt FROM per_doc GROUP BY 1
    ),
    spine AS (SELECT unnest(generate_series(0, 63)) AS shard),
    full_s AS (
      SELECT spine.shard, coalesce(nd, 0) AS nd, coalesce(nt, 0) AS nt
      FROM spine LEFT JOIN per_shard USING (shard)
    ),
    agg AS (
      SELECT 64::BIGINT AS n_shards,
             CAST(sum(CASE WHEN nd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_shards,
             CAST(sum(nd) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(max(nt) AS BIGINT) AS max_shard_tokens,
             CAST(min(nt) AS BIGINT) AS min_shard_tokens,
             sum(nd::HUGEINT * nd) AS snd2,
             sum(nt::HUGEINT * nt) AS snt2
      FROM full_s
    )
    SELECT n_shards, n_empty_shards, n_docs, n_tokens,
           max_shard_tokens, min_shard_tokens,
           {round6_ratio_dec_sql(
               "64::HUGEINT * snd2 - n_docs::HUGEINT * n_docs",
               "greatest(n_docs, 1)",
           )}
             AS doc_chi2,
           {round6_ratio_dec_sql(
               "64::HUGEINT * snt2 - n_tokens::HUGEINT * n_tokens",
               "greatest(n_tokens, 1)",
           )}
             AS token_chi2,
           {round6_ratio_dec_sql("64::HUGEINT * max_shard_tokens", "greatest(n_tokens, 1)")}
             AS token_imbalance
    FROM agg
"""

ORACLES["paragraph_dedup"] = f"""
    WITH paras AS (
      SELECT doc_id, trim(p, ' ' || chr(9) || chr(13)) AS p
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS p
            FROM documents)
    ),
    pg AS (
      SELECT doc_id, length(p) AS len, md5(p) AS dg
      FROM paras WHERE length(p) > 0
    ),
    dup AS (
      SELECT dg FROM (
        SELECT dg, count(DISTINCT doc_id) AS nd FROM pg GROUP BY 1
      ) WHERE nd >= 2
    ),
    m AS (
      SELECT doc_id, len,
             CASE WHEN dg IN (SELECT dg FROM dup) THEN 1 ELSE 0 END AS d
      FROM pg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(d) AS BIGINT) AS n_dup_paras,
           {round6_ratio_sql("sum(d)", "count(*)")} AS dup_para_frac,
           {round6_ratio_sql(
               "sum(CASE WHEN d = 1 THEN len ELSE 0 END)",
               "greatest(sum(len), 1)",
           )} AS dup_char_frac
    FROM m GROUP BY 1
"""

ORACLES["crossdoc_spans"] = rf"""
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    base AS (SELECT doc_id, len(w) AS nt, w FROM words),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, nt - 7)) AS p
      FROM base WHERE nt >= 8
    ),
    grams AS (
      SELECT doc_id, p, md5(array_to_string(w[p:p+7], ' ')) AS g FROM idx
    ),
    hot AS (
      SELECT g FROM (SELECT g, count(*) AS c FROM grams GROUP BY 1)
      WHERE c >= 2
    ),
    fl AS (SELECT doc_id, p FROM grams WHERE g IN (SELECT g FROM hot)),
    runs AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER win IS NULL OR p - lag(p) OVER win > 8
                  THEN 1 ELSE 0 END AS nw
      FROM fl WINDOW win AS (PARTITION BY doc_id ORDER BY p)
    ),
    isl AS (
      SELECT doc_id, p,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
      FROM runs
    ),
    spans AS (
      SELECT doc_id, i, max(p) - min(p) + 8 AS cov FROM isl GROUP BY 1, 2
    ),
    pd AS (
      SELECT doc_id, count(*) AS ns, sum(cov) AS dt FROM spans GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(coalesce(ns, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(dt, 0) AS BIGINT) AS dup_tokens,
           {round6_ratio_sql("coalesce(dt, 0)", "greatest(nt, 1)")} AS dup_token_frac
    FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id
"""

ORACLES["ppl_bucket_mix"] = rf"""
    WITH {_BIGRAM_COUNTS_SQL},
    score AS ({_BIGRAM_SCORE_SQL}),
    lab AS (
      SELECT s.doc_id, d.lang AS grp, n_bigrams, lm_score
      FROM score s JOIN documents d ON s.doc_id = d.doc_id
    ),
    tiered AS (
      SELECT grp, n_bigrams, lm_score,
             ntile(3) OVER (PARTITION BY grp
                            ORDER BY lm_score DESC, doc_id) AS bucket
      FROM lab
    ),
    per AS (
      SELECT grp, CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_bigrams) AS BIGINT) AS nb,
             min(lm_score) AS score_lo, max(lm_score) AS score_hi
      FROM tiered GROUP BY 1, 2
    )
    SELECT grp, bucket, n_docs, nb AS n_bigrams,
           {round6_ratio_sql("n_docs", "sum(n_docs) OVER (PARTITION BY grp)")}
             AS doc_share,
           {round6_ratio_sql("nb", "greatest(sum(nb) OVER (PARTITION BY grp), 1)")} AS mass_share,
           score_lo, score_hi
    FROM per
"""

ORACLES["tokenizer_drift"] = f"""
    WITH per AS (
      SELECT source AS grp,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]'))) AS BIGINT) AS tokens,
             CAST(sum(length(text)) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(tokens) AS ta, sum(chars) AS ca FROM per)
    SELECT grp, n_docs, tokens, chars,
           {round6_ratio_sql("chars", "greatest(tokens, 1)")} AS chars_per_token,
           {round6_ratio_dec_signed_sql(
               "chars::HUGEINT * ta - ca::HUGEINT * tokens",
               "greatest(tokens::HUGEINT * ta, 1)",
           )} AS drift
    FROM per, tot
"""

ORACLES["eval_contamination"] = rf"""
    WITH {_BENCH_TRIGRAMS_SQL},
    bsz AS (SELECT benchmark, CAST(count(*) AS BIGINT) AS nbg FROM bg GROUP BY 1),
    {_CORPUS_TRIGRAMS_SQL},
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    hits AS (
      SELECT benchmark, CAST(count(DISTINCT doc_id) AS BIGINT) AS dh,
             CAST(count(*) AS BIGINT) AS ov
      FROM cg JOIN bg USING (g) GROUP BY 1
    )
    SELECT b.benchmark, b.nbg AS n_bench_grams,
           coalesce(dh, 0) AS n_docs_hit,
           {round6_ratio_sql("coalesce(dh, 0)", "greatest(n, 1)")} AS hit_rate,
           coalesce(ov, 0) AS total_overlap
    FROM bsz b LEFT JOIN hits USING (benchmark), nd
"""

ORACLES["cluster_keep_best"] = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {_shingle_overlap_sql()},
    p AS (
        SELECT id_a, id_b FROM shared
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} >= 0.25
    ),
    {_REACH_SQL},
    cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
    {_quality_cte_sql("documents")},
    rk AS (
        SELECT cl.cluster_id, cl.doc_id, q.quality,
               row_number() OVER (PARTITION BY cl.cluster_id
                                  ORDER BY q.quality DESC, cl.doc_id) AS rn,
               count(*) OVER (PARTITION BY cl.cluster_id) AS nm
        FROM cl JOIN q USING (doc_id)
    )
    SELECT cluster_id, CAST(nm AS BIGINT) AS n_members,
           doc_id AS keep_doc_id, quality AS keep_score
    FROM rk WHERE rn = 1
"""

ORACLES["cross_source_dup"] = """
    WITH u AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 7000000, text, 'mirror' FROM documents
      WHERE doc_id % 7 = 0
    ),
    ds AS (
      SELECT md5(text) AS dg, source AS s, count(*) AS c
      FROM u GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.s AS src_a, b.s AS src_b, a.c AS ca, b.c AS cb
      FROM ds a JOIN ds b ON a.dg = b.dg
      WHERE a.s < b.s OR (a.s = b.s AND a.c >= 2)
    )
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS n_shared_digests,
           CAST(sum(CASE WHEN src_a = src_b THEN ca ELSE ca + cb END) AS BIGINT)
             AS n_docs_involved
    FROM pairs GROUP BY 1, 2
"""

ORACLES["dup_cluster_sizes"] = f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 15000000, text FROM documents WHERE doc_id % 15 = 0
    ),
    g AS (
      SELECT md5(text) AS dg, count(*) AS s, min(length(text)) AS len
      FROM u GROUP BY 1
    ),
    spec AS (
      SELECT s AS group_size,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(s) AS BIGINT) AS n_docs,
             CAST(sum(s - 1) AS BIGINT) AS n_docs_removable,
             CAST(sum((s - 1) * len) AS BIGINT) AS chars_removable
      FROM g GROUP BY 1
    )
    SELECT CAST(group_size AS BIGINT) AS group_size,
           n_groups, n_docs, n_docs_removable, chars_removable,
           {round6_ratio_sql("n_docs", "sum(n_docs) OVER ()")} AS doc_share
    FROM spec
"""

ORACLES["template_prefix"] = rf"""
    WITH pref AS (
      SELECT source AS grp,
             md5(array_to_string(
               (string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))[1:8],
               ' ')) AS pf
      FROM documents
    ),
    counts AS (SELECT grp, pf, count(*) AS c FROM pref GROUP BY 1, 2),
    rk AS (
      SELECT grp, c,
             row_number() OVER (PARTITION BY grp ORDER BY c DESC, pf) AS rn
      FROM counts
    ),
    agg AS (
      SELECT grp, CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_prefixes
      FROM counts GROUP BY 1
    )
    SELECT a.grp, n_docs, n_prefixes, CAST(c AS BIGINT) AS top_count,
           {round6_ratio_sql("c", "n_docs")}
             AS top_share
    FROM agg a JOIN rk ON a.grp = rk.grp AND rk.rn = 1
"""

# cluster_keep_best_lsh (VERDICT r9 #3): the scale-path composition —
# the dedup_clusters_lsh oracle (minhash → banding → candidate pairs →
# recursive reach) with its final cluster select swapped for the
# cluster_keep_best oracle's keep-best tail (quality CTEs + per-cluster
# argmax window). Built by string surgery so the three oracles can
# never drift apart expression-wise.
_KEEP_BEST_SPLIT = ORACLES["cluster_keep_best"].split(
    "cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),",
    1,
)
assert len(_KEEP_BEST_SPLIT) == 2, "cluster_keep_best split anchor missing"
_KEEP_BEST_TAIL = _KEEP_BEST_SPLIT[1]
ORACLES["cluster_keep_best_lsh"] = _sql_surgery(
    ORACLES["dedup_clusters_lsh"],
    "SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1",
    ", cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),"
    + _KEEP_BEST_TAIL,
)


# --- round-10 oracles ---

ORACLES["dup_line_stats"] = f"""
    WITH deco AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
                  THEN text || chr(10) || string_split(text, chr(10))[1]
                            || chr(10) || string_split(text, chr(10))[1]
                  ELSE text END AS t
      FROM documents
    ),
    lines AS (
      SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM deco
    ),
    ne AS (SELECT doc_id, l FROM lines WHERE length(trim(l)) > 0),
    pl AS (
      SELECT doc_id, md5(l) AS h, count(*) AS c, min(length(l)) AS len
      FROM ne GROUP BY 1, 2
    ),
    ag AS (
      SELECT doc_id, sum(c) AS nl, count(*) AS nd,
             sum(c * len) AS chars, sum((c - 1) * len) AS dupchars
      FROM pl GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(nl, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct_lines,
           {round6_ratio_sql(
               "coalesce(nl - nd, 0)",
               "greatest(coalesce(nl, 0), 1)",
           )} AS dup_line_frac,
           {round6_ratio_sql(
               "coalesce(dupchars, 0)",
               "greatest(coalesce(chars, 0), 1)",
           )} AS dup_char_frac
    FROM deco d LEFT JOIN ag ON d.doc_id = ag.doc_id
"""

ORACLES["quality_threshold_sweep"] = (f"""
    WITH{_quality_cte_sql("documents")},
    tok AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS t
      FROM documents
    ),
    b AS (SELECT q.doc_id, quality, t FROM q JOIN tok USING (doc_id)),
    tots AS (SELECT count(*) AS n, sum(t) AS tk FROM b),
    th AS (SELECT unnest(generate_series(1, 9)) AS i),
    sw AS (
      SELECT i,
             sum(CASE WHEN quality >= i / 10.0 THEN 1 ELSE 0 END) AS nk,
             sum(CASE WHEN quality >= i / 10.0 THEN t ELSE 0 END) AS tkk
      FROM b CROSS JOIN th GROUP BY 1
    )
    SELECT i / 10.0 AS threshold,
           CAST(nk AS BIGINT) AS n_docs_kept,
           CAST(tkk AS BIGINT) AS tokens_kept,
           {round6_ratio_sql("nk", "greatest(n, 1)")} AS doc_share,
           {round6_ratio_dec_sql("tkk::HUGEINT", "greatest(tk, 1)::HUGEINT")} AS token_share
    FROM sw, tots
""")

ORACLES["contamination_spans"] = f"""
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    base AS (SELECT doc_id, len(w) AS nt, w FROM words),
    idx AS (
      SELECT doc_id, nt, w, unnest(generate_series(1, nt - 12)) AS p
      FROM base WHERE nt >= 13
    ),
    grams AS (
      SELECT doc_id, nt, p, md5(array_to_string(w[p:p+12], ' ')) AS g FROM idx
    ),
    bidx AS (
      SELECT w, unnest(generate_series(1, nt - 12)) AS p
      FROM base WHERE doc_id < 9 AND nt >= 13
    ),
    bg AS (
      SELECT DISTINCT md5(array_to_string(w[p:p+12], ' ')) AS g FROM bidx
    ),
    fl AS (SELECT doc_id, nt, p FROM grams WHERE g IN (SELECT g FROM bg)),
    runs AS (
      SELECT doc_id, nt, p,
             CASE WHEN lag(p) OVER win IS NULL OR p - lag(p) OVER win > 53
                  THEN 1 ELSE 0 END AS nw
      FROM fl WINDOW win AS (PARTITION BY doc_id ORDER BY p)
    ),
    isl AS (
      SELECT doc_id, nt, p,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
      FROM runs
    ),
    spans AS (
      SELECT doc_id, i, count(*) AS nh,
             least(max(p) + 32, min(nt)) - greatest(min(p) - 20, 1) + 1 AS cov
      FROM isl GROUP BY 1, 2
    ),
    pd AS (
      SELECT doc_id, sum(nh) AS hits, count(*) AS ns, sum(cov) AS rt
      FROM spans GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(coalesce(hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(ns, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(rt, 0) AS BIGINT) AS rm_tokens,
           {round6_ratio_sql("coalesce(rt, 0)", "greatest(nt, 1)")} AS rm_token_frac
    FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id
"""

ORACLES["boundary_overlap"] = """
    WITH src AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 11000000,
             array_to_string(w[len(w)-7:len(w)], ' ')
               || ' continuation shard of the preceding record body'
      FROM src WHERE doc_id % 11 = 0 AND len(w) >= 8
    ),
    words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM u
    ),
    base AS (SELECT doc_id, len(w) AS nt, w FROM words WHERE len(w) >= 8),
    heads AS (
      SELECT doc_id AS id_b, CAST(nt AS BIGINT) AS n_tokens_b,
             md5(array_to_string(w[1:8], ' ')) AS g
      FROM base
    ),
    tails AS (
      SELECT doc_id AS id_a, CAST(nt AS BIGINT) AS n_tokens_a,
             md5(array_to_string(w[nt-7:nt], ' ')) AS g
      FROM base
    ),
    occ AS (
      SELECT g FROM (
        SELECT g, count(*) AS c FROM (
          SELECT g FROM heads UNION ALL SELECT g FROM tails
        ) GROUP BY 1
      ) WHERE c <= 50
    )
    SELECT id_a, id_b, n_tokens_a, n_tokens_b
    FROM tails JOIN occ USING (g) JOIN heads USING (g)
    WHERE id_a <> id_b
"""

ORACLES["pipeline_roi"] = (f"""
    WITH u AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 6000000, text, source FROM documents WHERE doc_id % 6 = 0
    ),{_quality_cte_sql("u")},
    tok AS (
      SELECT doc_id, source, md5(text) AS d,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS t
      FROM u
    ),
    j AS (SELECT tok.*, q.quality FROM tok JOIN q USING (doc_id)),
    passed AS (SELECT * FROM j WHERE quality >= 0.5),
    keep AS (SELECT d, min(doc_id) AS doc_id FROM passed GROUP BY 1),
    kept AS (
      SELECT p.* FROM passed p JOIN keep k ON p.doc_id = k.doc_id AND p.d = k.d
    ),
    raw AS (
      SELECT source, count(*) AS n_raw, sum(t) AS tokens_raw FROM j GROUP BY 1
    ),
    qual AS (
      SELECT source, count(*) AS n_q, sum(t) AS tk_q FROM passed GROUP BY 1
    ),
    fin AS (
      SELECT source, count(*) AS n_k, sum(t) AS tk_k FROM kept GROUP BY 1
    ),
    per AS (
      SELECT r.source,
             CAST(n_raw AS BIGINT) AS n_raw,
             CAST(tokens_raw AS BIGINT) AS tokens_raw,
             CAST(coalesce(n_q, 0) AS BIGINT) AS n_quality,
             CAST(coalesce(tk_q, 0) AS BIGINT) AS tokens_quality,
             CAST(coalesce(n_k, 0) AS BIGINT) AS n_kept,
             CAST(coalesce(tk_k, 0) AS BIGINT) AS tokens_kept
      FROM raw r
      LEFT JOIN qual ON r.source = qual.source
      LEFT JOIN fin ON r.source = fin.source
    ),
    qs AS (
      SELECT *,
             CAST(floor(sqrt(CAST(tokens_kept AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS qsv
      FROM per
    ),
    tot AS (SELECT sum(qsv) AS qt FROM qs)
    SELECT source, n_raw, tokens_raw, n_quality, tokens_quality, n_kept,
           tokens_kept,
           {round6_ratio_sql("n_raw - n_quality", "greatest(n_raw, 1)")} AS quality_rm_frac,
           {round6_ratio_sql("n_quality - n_kept", "greatest(n_quality, 1)")} AS dup_rm_frac,
           {round6_ratio_dec_sql("qsv::HUGEINT", "greatest(qt, 1)::HUGEINT")} AS mix_weight
    FROM qs, tot
""")

# blocklist phrases: the DuckDB patterns are generated with the SAME
# re.escape the Spark side uses, so the two engines always receive
# byte-identical regexes
import re as _re_bl  # noqa: E402

from kairos_spark.operators.text import BLOCKLIST_PHRASES as _BL  # noqa: E402

# DuckDB single-quoted strings are literal (no backslash processing),
# so the escaped pattern is embedded as-is — the regex engine receives
# exactly what Spark's F.lit(re.escape(p)) carries
_BL_VALUES = ",\n           ".join(
    "('" + p.replace("'", "''") + "', '"
    + _re_bl.escape(p).replace("'", "''") + "')"
    for p in _BL
)
ORACLES["blocklist_audit"] = (f"""
    WITH deco AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 13 = 0
                  THEN text || ' All Rights Reserved. See our Privacy Policy, click here {{'
                  ELSE text END AS t
      FROM documents
    ),
    ph(phrase, pat) AS (
      VALUES {_BL_VALUES}
    ),
    per AS (
      SELECT source, phrase,
             len(regexp_extract_all(lower(t), pat)) AS occ
      FROM deco CROSS JOIN ph
    )
    SELECT source, phrase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
           CAST(sum(occ) AS BIGINT) AS n_occurrences,
           {round6_ratio_sql(
               "sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END)",
               "greatest(count(*), 1)",
           )} AS hit_rate
    FROM per GROUP BY 1, 2
""")

ORACLES["cluster_balanced_sample"] = f"""
    WITH {_kmeans_sql("id, v, cid, dist")},
    {_km_assign_sql(3, "b.id", "id, cid, dist")},
    rk AS (
      SELECT cid, id, md5(CAST(id AS VARCHAR)) AS h FROM a3
    ),
    pick AS (
      SELECT cid, id,
             row_number() OVER (PARTITION BY cid ORDER BY h, id) AS rn,
             count(*) OVER (PARTITION BY cid) AS nc
      FROM rk
    )
    SELECT cid AS cluster_id,
           CAST(nc AS BIGINT) AS n_in_cluster,
           CAST(rn AS BIGINT) AS pick_rank,
           id AS vec_id
    FROM pick WHERE rn <= 10
"""

ORACLES["ivf_list_balance"] = f"""
    WITH {_kmeans_sql("id, v, cid, dist")},
    {_km_assign_sql(3, "b.id", "id, cid, dist")},
    sizes AS (
      SELECT cid, count(*) AS n_vecs FROM a3 GROUP BY 1
    ),
    tot AS (SELECT sum(n_vecs) AS n FROM sizes)
    SELECT cid AS list_id,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           {round6_ratio_sql("n_vecs", "greatest(n, 1)")} AS share,
           {round6_ratio_sql("n_vecs * 8", "greatest(n, 1)")} AS load_factor
    FROM sizes, tot
"""


# --- late round-10 oracles ---

ORACLES["dup_quality_bias"] = (f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 15000000, text FROM documents WHERE doc_id % 15 = 0
    ),{_quality_cte_sql("u")},
    dg AS (SELECT doc_id, md5(text) AS d FROM u),
    sz AS (SELECT d, count(*) AS s, min(doc_id) AS keep FROM dg GROUP BY 1),
    j AS (
      SELECT least(s, 4) AS b, dg.d,
             CAST(round(quality * 1000000) AS BIGINT) AS qu,
             (dg.doc_id = keep) AS is_keep
      FROM dg JOIN sz USING (d) JOIN q USING (doc_id)
    )
    SELECT CAST(b AS BIGINT) AS group_size_bucket,
           CAST(count(DISTINCT d) AS BIGINT) AS n_groups,
           CAST(count(*) AS BIGINT) AS n_docs,
           {_KEPT_QUALITY_SQL}
    FROM j GROUP BY 1
""")

# near-dup source purity: the dedup_clusters_lsh oracle's cluster
# labels joined to sources, histogrammed — same surgery convention as
# cluster_keep_best_lsh so the LSH stages can never drift
ORACLES["cluster_source_purity"] = _sql_surgery(
    ORACLES["dedup_clusters_lsh"],
    "SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1",
    """, cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
    per AS (
      SELECT cluster_id, count(DISTINCT d.source) AS ns, count(*) AS nd
      FROM cl JOIN documents d USING (doc_id) GROUP BY 1
    )
    SELECT CAST(ns AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(nd) AS BIGINT) AS n_docs
    FROM per GROUP BY 1""",
)

ORACLES["bigram_entropy_rate"] = """
    WITH words AS (
      SELECT source AS grp,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    uc AS (
      SELECT grp, unnest(w) AS t FROM words
    ),
    ucc AS (SELECT grp, t, count(*) AS c FROM uc GROUP BY 1, 2),
    h1 AS (
      SELECT grp, sum(c) AS n,
             log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h
      FROM ucc GROUP BY 1
    ),
    bidx AS (
      SELECT grp, w, unnest(generate_series(1, len(w) - 1)) AS i
      FROM words WHERE len(w) >= 2
    ),
    bcc AS (
      SELECT grp, w[i] || ' ' || w[i+1] AS t, count(*) AS c
      FROM bidx GROUP BY 1, 2
    ),
    h2 AS (
      SELECT grp, log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h
      FROM bcc GROUP BY 1
    )
    SELECT h1.grp, CAST(n AS BIGINT) AS n_tokens,
           round(h1.h, 6) AS h_unigram,
           round(h2.h, 6) AS h_bigram,
           round(h2.h - h1.h, 6) AS h_rate
    FROM h1 JOIN h2 ON h1.grp = h2.grp
"""


# script_mix: generated from the operator's SCRIPT_CLASSES table so the
# class regexes can never drift between engines (the \x{...} range
# syntax is shared by Java regex and RE2 — engine-probed)
ORACLES["script_mix"] = (
    "WITH c AS (SELECT source AS grp, length(text) AS len, "
    + ", ".join(
        f"length(regexp_extract_all(text, '{pat}')) AS c_{name}"
        for name, pat in text.SCRIPT_CLASSES
    )
    + " FROM documents) SELECT grp, CAST(count(*) AS BIGINT) AS n_docs, "
    + "CAST(sum(len) AS BIGINT) AS n_chars, "
    + ", ".join(
        "CASE WHEN sum(len) > 0 THEN "
        + round6_ratio_dec_sql(f"sum(c_{name})::HUGEINT", "sum(len)::HUGEINT")
        + f" ELSE 0.0 END AS frac_{name}"
        for name, _ in text.SCRIPT_CLASSES
    )
    + ", CASE WHEN sum(len) > 0 THEN "
    + round6_ratio_dec_sql(
        "(sum(len) - ("
        + " + ".join(f"sum(c_{name})" for name, _ in text.SCRIPT_CLASSES)
        + "))::HUGEINT",
        "sum(len)::HUGEINT",
    )
    + " ELSE 0.0 END AS frac_other"
    " FROM c GROUP BY grp"
)


ORACLES["cramers_v"] = f"""
    WITH cells AS (
      SELECT source AS a, lang AS b, count(*) AS o
      FROM documents GROUP BY 1, 2
    ),
    r AS (SELECT a, sum(o) AS rt FROM cells GROUP BY 1),
    c AS (SELECT b, sum(o) AS ct FROM cells GROUP BY 1),
    t AS (
      SELECT o,
             (o::HUGEINT * o::HUGEINT * 1000000000000::HUGEINT)
               // (rt::HUGEINT * ct::HUGEINT) AS term
      FROM cells JOIN r USING (a) JOIN c USING (b)
    ),
    agg AS (
      SELECT sum(o)::HUGEINT AS n,
             (SELECT count(*) FROM r) AS n_rows,
             (SELECT count(*) FROM c) AS n_cols,
             greatest(sum(term) - 1000000000000::HUGEINT, 0::HUGEINT) AS d
      FROM t
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_cols AS BIGINT) AS n_cols,
           CASE WHEN least(n_rows - 1, n_cols - 1) > 0 THEN
             {round6_ratio_dec_sql("n * d", "1000000000000::HUGEINT")}
           ELSE 0.0 END AS chi2,
           CASE WHEN least(n_rows - 1, n_cols - 1) > 0 THEN
             {round6_bridge_sql(
                 "sqrt(CAST(d AS DOUBLE) / CAST(1000000000000::BIGINT * least(n_rows - 1, n_cols - 1) AS DOUBLE))",
             )}
           ELSE 0.0 END AS cramers_v
    FROM agg
"""


ORACLES["fim_split_audit"] = f"""
    WITH per AS (
      SELECT source AS grp,
             length(text)::BIGINT AS len,
             (('0x' || substr(md5('fimsel:' || doc_id), 1, 11))::BIGINT
              % 1000000) < 500000 AS fim,
             ('0x' || substr(md5('fimcut1:' || doc_id), 1, 11))::BIGINT
               % (length(text)::BIGINT + 1) AS u1,
             ('0x' || substr(md5('fimcut2:' || doc_id), 1, 11))::BIGINT
               % (length(text)::BIGINT + 1) AS u2
      FROM documents
    ),
    spans AS (
      SELECT grp, len, fim,
             CASE WHEN fim THEN least(u1, u2) ELSE 0 END AS pre,
             CASE WHEN fim THEN greatest(u1, u2) - least(u1, u2) ELSE 0 END AS mid,
             CASE WHEN fim THEN len - greatest(u1, u2) ELSE 0 END AS suf
      FROM per
    ),
    agg AS (
      SELECT grp,
             count(*) AS n_docs,
             sum(CASE WHEN fim THEN 1 ELSE 0 END) AS fim_docs,
             sum(CASE WHEN fim THEN len ELSE 0 END) AS l,
             sum(pre) AS p, sum(mid) AS m, sum(suf) AS s,
             sum(CASE WHEN fim AND mid < 16 THEN 1 ELSE 0 END) AS short
      FROM spans GROUP BY 1
    )
    SELECT grp,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(fim_docs AS BIGINT) AS fim_docs,
           CASE WHEN l > 0 THEN
             {round6_ratio_dec_sql("p::HUGEINT", "l::HUGEINT")}
           ELSE 0.0 END AS prefix_frac,
           CASE WHEN l > 0 THEN
             {round6_ratio_dec_sql("m::HUGEINT", "l::HUGEINT")}
           ELSE 0.0 END AS middle_frac,
           CASE WHEN l > 0 THEN
             {round6_ratio_dec_sql("s::HUGEINT", "l::HUGEINT")}
           ELSE 0.0 END AS suffix_frac,
           CASE WHEN fim_docs > 0 THEN
             {round6_ratio_sql("short", "fim_docs")}
           ELSE 0.0 END AS short_middle_rate
    FROM agg
"""


ORACLES["rp_distortion"] = f"""
    WITH {_srp_planes_sql(16)},
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 192
    ),
    {_SRP_BUCKETS_SQL},
    pairs AS (
      SELECT bit_count(xor(CAST(ba.b AS BIGINT), CAST(bb.b AS BIGINT)))::BIGINT AS hamming,
             CASE WHEN list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v) > 0
                  THEN list_dot_product(ea.v, eb.v)
                       / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
                  ELSE -1.0 END AS cos
      FROM buckets ba JOIN buckets bb ON ba.vec_id < bb.vec_id
      JOIN e ea ON ea.vec_id = ba.vec_id
      JOIN e eb ON eb.vec_id = bb.vec_id
    ),
    qd AS (
      SELECT hamming,
             CASE WHEN cos >= 0
               THEN  CAST(floor( cos * 1000000.0 + 0.5) AS HUGEINT)
               ELSE -CAST(floor(-cos * 1000000.0 + 0.5) AS HUGEINT)
             END AS q
      FROM pairs
    )
    SELECT hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {round6_ratio_dec_signed_sql("sum(q)", "count(*)::HUGEINT*1000000")} AS mean_cosine,
           min(q)::BIGINT / 1000000.0 AS min_cosine,
           max(q)::BIGINT / 1000000.0 AS max_cosine
    FROM qd GROUP BY 1
"""


ORACLES["ivf_probe_sweep"] = f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 211 = 0
    ),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
             CAST(embedding AS DOUBLE[]) AS cvec
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    assigned AS (
      SELECT e.vec_id, c.list_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                   CAST(e.embedding AS DOUBLE[]))
                               * list_dot_product(c.cvec, c.cvec) > 0
                         THEN -list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec)
                         ELSE 1.0 END,
                        c.list_id
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    alist AS (SELECT vec_id, list_id FROM assigned WHERE rn = 1),
    sizes AS (SELECT list_id, count(*) AS sz FROM alist GROUP BY 1),
    qrank AS (
      SELECT q.q_id, c.list_id,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY CASE WHEN list_dot_product(c.cvec, c.cvec)
                               * list_dot_product(q.qv, q.qv) > 0
                         THEN list_cosine_similarity(c.cvec, q.qv)
                         ELSE -1.0 END DESC,
                        c.list_id
             ) AS r
      FROM q CROSS JOIN cent c
    ),
    scored AS (
      SELECT q_id, vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS cosine
      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q_id
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    hitr AS (
      SELECT qr.r FROM exact e
      JOIN alist a ON a.vec_id = e.vec_id
      JOIN qrank qr ON qr.q_id = e.q_id AND qr.list_id = a.list_id
    ),
    probes(p) AS (VALUES (1), (2), (4), (8)),
    rec AS (
      SELECT p, sum(CASE WHEN r <= p THEN 1 ELSE 0 END) AS h, count(*) AS t
      FROM hitr, probes GROUP BY 1
    ),
    qsz AS (SELECT qr.r, s.sz FROM qrank qr JOIN sizes s USING (list_id)),
    sc AS (
      SELECT p, sum(CASE WHEN r <= p THEN sz ELSE 0 END) AS num, sum(sz) AS den
      FROM qsz, probes GROUP BY 1
    )
    SELECT CAST(p AS BIGINT) AS nprobe,
           {round6_ratio_sql("h", "t")} AS recall,
           {round6_ratio_dec_sql("num::HUGEINT", "den::HUGEINT")} AS scanned_frac
    FROM rec JOIN sc USING (p)
"""


ORACLES["shard_dup_locality"] = f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 15000000, text FROM documents WHERE doc_id % 15 = 0
    ),
    cells AS (
      SELECT md5(text) AS d,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 11))::BIGINT % 64 AS sh,
             count(*) AS m
      FROM u GROUP BY 1, 2
    ),
    grp AS (
      SELECT d, sum(m) AS n,
             sum(m::HUGEINT * (m - 1)::HUGEINT // 2) AS i
      FROM cells GROUP BY 1
    ),
    dup AS (SELECT * FROM grp WHERE n >= 2),
    agg AS (
      SELECT count(*) AS n_dup_groups,
             coalesce(sum(n), 0) AS n_dup_docs,
             coalesce(sum(i), 0::HUGEINT) AS ip,
             coalesce(sum(n::HUGEINT * (n - 1)::HUGEINT // 2), 0::HUGEINT) AS tp
      FROM dup
    )
    SELECT CAST(64 AS BIGINT) AS n_shards,
           CAST(n_dup_groups AS BIGINT) AS n_dup_groups,
           CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
           CAST(ip AS BIGINT) AS intra_pairs,
           CAST(tp - ip AS BIGINT) AS cross_pairs,
           CASE WHEN tp > 0 THEN
             {round6_ratio_dec_sql("ip", "tp")}
           ELSE 0.0 END AS locality
    FROM agg
"""


ORACLES["quant_recall"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 101 = 0
    ),
    comp AS (
      SELECT generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e
    ),
    rng AS (SELECT d, min(x) AS lo, max(x) AS hi FROM comp GROUP BY 1),
    packed AS (
      SELECT list(lo ORDER BY d) AS lo_a, list(hi ORDER BY d) AS hi_a FROM rng
    ),
    deq AS (
      SELECT vec_id,
             list_transform(range(1, len(v) + 1), i ->
               CASE WHEN hi_a[i] - lo_a[i] = 0 THEN lo_a[i]
                    ELSE lo_a[i]
                         + floor(((v[i] - lo_a[i]) / (hi_a[i] - lo_a[i])) * 255 + 0.5)
                           * (hi_a[i] - lo_a[i]) / 255
               END) AS dv
      FROM e, packed
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id) AS rn
        FROM q CROSS JOIN e WHERE vec_id <> q_id
      ) WHERE rn <= 10
    ),
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, deq.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(dv, qv), 6) DESC, deq.vec_id) AS rn
        FROM q CROSS JOIN deq WHERE deq.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    hits AS (
      SELECT a.q_id, count(*) AS h
      FROM approx a JOIN exact x ON x.q_id = a.q_id AND x.vec_id = a.vec_id
      GROUP BY 1
    ),
    allq AS (SELECT q_id, count(*) AS t FROM exact GROUP BY 1)
    SELECT allq.q_id,
           {round6_ratio_sql("coalesce(h, 0)", "greatest(t, 1)")} AS recall
    FROM allq LEFT JOIN hits USING (q_id)
"""


ORACLES["frame_dup_rate"] = f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 7000000, text FROM documents WHERE doc_id % 7 = 0
    ),
    m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS nb
      FROM u
    ),
    fr AS (
      SELECT media_id,
             md5(substr(h, off * 2 + 1, 512)) AS d
      FROM m,
      LATERAL unnest(generate_series(0, greatest(nb - 1, 0), 256)) AS t(off)
    ),
    flagged AS (
      SELECT d FROM fr GROUP BY d HAVING count(DISTINCT media_id) >= 2
    )
    SELECT fr.media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN flagged.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_frames,
           {round6_ratio_sql(
               "sum(CASE WHEN flagged.d IS NOT NULL THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS dup_frame_rate
    FROM fr LEFT JOIN flagged ON fr.d = flagged.d
    GROUP BY 1
"""


ORACLES["byte_entropy"] = f"""
    WITH m AS (
      SELECT source AS grp, hex(encode(text)) AS h
      FROM documents WHERE octet_length(encode(text)) > 0
    ),
    b AS (
      SELECT grp, substr(h, i * 2 + 1, 2) AS bv
      FROM m, LATERAL unnest(generate_series(0, length(h) // 2 - 1)) AS t(i)
    ),
    counted AS (SELECT grp, bv, count(*) AS c FROM b GROUP BY 1, 2)
    SELECT grp,
           CAST(sum(c) AS BIGINT) AS n_bytes,
           CAST(count(*) AS BIGINT) AS n_distinct_bytes,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS h_byte,
           {round6_ratio_dec_sql(
               "sum(CASE WHEN bv BETWEEN '20' AND '7E' THEN c ELSE 0 END)::HUGEINT",
               "sum(c)::HUGEINT",
           )}
             AS printable_frac
    FROM counted GROUP BY 1
"""


# near-dup quality bias: the dedup_clusters_lsh closure's labels joined
# to the quality CTE — same surgery convention as cluster_source_purity
# so the LSH stages can never drift
ORACLES["cluster_quality_bias"] = _sql_surgery(
    ORACLES["dedup_clusters_lsh"],
    "SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1",
    # cl is referenced twice (sz and jj): MATERIALIZED, or DuckDB
    # inlines it and re-executes the whole recursive closure per use
    ", cl AS MATERIALIZED (SELECT node AS doc_id, min(r) AS cluster_id"
    " FROM reach GROUP BY 1),"
    + _quality_cte_sql("documents")
    + f""",
    sz AS (
      SELECT cluster_id, count(*) AS s, min(doc_id) AS keep
      FROM cl GROUP BY 1
    ),
    jj AS (
      SELECT least(s, 4) AS b, cl.cluster_id,
             CAST(round(quality * 1000000) AS BIGINT) AS qu,
             (cl.doc_id = keep) AS is_keep
      FROM cl JOIN sz USING (cluster_id) JOIN q USING (doc_id)
    )
    SELECT CAST(b AS BIGINT) AS cluster_size_bucket,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs,
           {_KEPT_QUALITY_SQL}
    FROM jj GROUP BY 1""",
)


# rule_disagreement: reuses quality_rule_pack's per_doc+flags CTE
# prefix verbatim (split at its agg) and generates the 28 pair
# aggregates — one predicate definition per engine, never two
_QR_NAMES = sorted(text.QUALITY_RULES)
_QR_PAIRS = [
    (a, b)
    for i, a in enumerate(_QR_NAMES)
    for b in _QR_NAMES[i + 1:]
]
ORACLES["rule_disagreement"] = (
    ORACLES["quality_rule_pack"].split("agg AS", 1)[0]
    + "agg AS (\n      SELECT count(*) AS n, "
    + ", ".join(f"sum({r[:3]}) AS s_{r[:3]}" for r in _QR_NAMES)
    + ", "
    + ", ".join(
        f"sum({a[:3]} * {b[:3]}) AS p_{a[:3]}_{b[:3]}" for a, b in _QR_PAIRS
    )
    + " FROM flags\n    ),\n    pr AS (\n      "
    + "\n      UNION ALL ".join(
        f"SELECT '{a}' AS rule_a, '{b}' AS rule_b, n,"
        f" s_{a[:3]} - p_{a[:3]}_{b[:3]} AS bb,"
        f" s_{b[:3]} - p_{a[:3]}_{b[:3]} AS cc FROM agg"
        for a, b in _QR_PAIRS
    )
    + f"""
    )
    SELECT rule_a, rule_b, CAST(n AS BIGINT) AS n_docs,
           CAST(bb AS BIGINT) AS a_only, CAST(cc AS BIGINT) AS b_only,
           {round6_ratio_sql("bb + cc", "greatest(n, 1)")} AS disagree_rate,
           CASE WHEN bb + cc > 0 THEN
             {round6_ratio_dec_sql("(bb - cc)::HUGEINT * (bb - cc)::HUGEINT", "(bb + cc)::HUGEINT")}
           ELSE 0.0 END AS mcnemar_chi2
    FROM pr
"""
)


ORACLES["kendall_tau"] = f"""
    WITH cells AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2
    ),
    p AS (
      SELECT a.day,
             CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS c,
             CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS d,
             CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
      FROM cells a JOIN cells b ON a.day = b.day AND a.h < b.h
    ),
    g AS (
      SELECT day, count(*) AS n0, sum(c) AS concordant, sum(d) AS discordant,
             sum(tx) AS t1, sum(ty) AS t2
      FROM p GROUP BY 1
    ),
    nh AS (SELECT day, count(*) AS n_hours FROM cells GROUP BY 1)
    SELECT nh.day,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST(concordant AS BIGINT) AS concordant,
           CAST(discordant AS BIGINT) AS discordant,
           CASE WHEN n0 - t1 > 0 AND n0 - t2 > 0 THEN
             {round6_bridge_sql(
                 "(concordant - discordant) / sqrt(CAST((n0 - t1) * (n0 - t2) AS DOUBLE))",
             )}
           ELSE 0.0 END AS tau_b
    FROM nh JOIN g USING (day)
"""


ORACLES["source_kl"] = """
    WITH toks AS (
      SELECT source AS grp,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    counts AS (
      SELECT grp, t, count(*) AS c FROM toks WHERE t <> '' GROUP BY 1, 2
    ),
    tot AS (SELECT t, sum(c) AS ct FROM counts GROUP BY 1),
    per AS (
      SELECT grp, sum(c) AS n_tokens, count(*) AS n_terms,
             sum(c * (log2(c) - log2(ct))) AS s
      FROM counts JOIN tot USING (t) GROUP BY 1
    ),
    alln AS (SELECT sum(n_tokens) AS n FROM per)
    SELECT grp,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_terms AS BIGINT) AS n_terms,
           round(s / n_tokens + log2(n) - log2(n_tokens), 6) AS kl_bits
    FROM per, alln
"""


ORACLES["l_diversity"] = f"""
    WITH c AS (
      SELECT c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS balance_band
      FROM customer
    ),
    classes AS (
      SELECT c_mktsegment, c_nationkey,
             count(*) AS class_size,
             count(DISTINCT balance_band) AS l_distinct
      FROM c GROUP BY 1, 2
    ),
    tot AS (
      SELECT sum(class_size) AS t,
             min(l_distinct) AS min_l,
             sum(CASE WHEN l_distinct < 2 THEN class_size ELSE 0 END) AS lt2,
             sum(CASE WHEN l_distinct < 3 THEN class_size ELSE 0 END) AS lt3
      FROM classes
    )
    SELECT c_mktsegment, c_nationkey,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(l_distinct AS BIGINT) AS l_distinct,
           CAST(min_l AS BIGINT) AS min_l,
           {round6_ratio_dec_sql("lt2::HUGEINT", "t::HUGEINT")} AS pct_lt_2,
           {round6_ratio_dec_sql("lt3::HUGEINT", "t::HUGEINT")} AS pct_lt_3
    FROM classes, tot
"""


ORACLES["embedding_anisotropy"] = f"""
    WITH comp AS (
      SELECT vec_id,
             generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS d,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    cov AS MATERIALIZED (
      SELECT d1, d2, n, sxy / n - (sx / n) * (sy / n) AS c FROM (
        SELECT a.d AS d1, b.d AS d2, count(*) AS n,
               sum(a.x * b.x) AS sxy, sum(a.x) AS sx, sum(b.x) AS sy
        FROM comp a JOIN comp b USING (vec_id) GROUP BY 1, 2
      )
    ),
    w0 AS (SELECT d1 AS d, 1.0 AS w FROM cov WHERE d1 = d2),
    y1 AS MATERIALIZED (
      SELECT d1, sum(c * w) AS y FROM cov JOIN w0 ON d2 = d GROUP BY 1
    ),
    n1 AS (SELECT sqrt(sum(y * y)) AS nn FROM y1),
    w1 AS MATERIALIZED (
      SELECT d1 AS d, CASE WHEN nn > 0 THEN y / nn ELSE 0.0 END AS w
      FROM y1, n1
    ),
    y2 AS MATERIALIZED (
      SELECT d1, sum(c * w) AS y FROM cov JOIN w1 ON d2 = d GROUP BY 1
    ),
    n2 AS (SELECT sqrt(sum(y * y)) AS nn FROM y2),
    w2 AS MATERIALIZED (
      SELECT d1 AS d, CASE WHEN nn > 0 THEN y / nn ELSE 0.0 END AS w
      FROM y2, n2
    ),
    y3 AS MATERIALIZED (
      SELECT d1, sum(c * w) AS y FROM cov JOIN w2 ON d2 = d GROUP BY 1
    ),
    n3 AS (SELECT sqrt(sum(y * y)) AS nn FROM y3),
    w3 AS MATERIALIZED (
      SELECT d1 AS d, CASE WHEN nn > 0 THEN y / nn ELSE 0.0 END AS w
      FROM y3, n3
    ),
    lam AS (
      SELECT sum(wa.w * c * wb.w) AS lam
      FROM cov JOIN w3 wa ON d1 = wa.d JOIN w3 wb ON d2 = wb.d
    ),
    tr AS (
      SELECT sum(c) AS tr, max(n) AS nv, count(*) AS dim
      FROM cov WHERE d1 = d2
    )
    SELECT CAST(nv AS BIGINT) AS n,
           CAST(dim AS BIGINT) AS dim,
           {round6_bridge_sql("tr")} AS trace_var,
           {round6_bridge_sql("lam")} AS top_eigenvalue,
           CASE WHEN tr > 0 THEN
             {round6_bridge_sql("lam / tr")}
           ELSE 0.0 END AS top_share
    FROM tr, lam
"""


ORACLES["doc_gini"] = f"""
    WITH per AS (
      SELECT source AS grp, doc_id AS id,
             len(list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS t
      FROM documents
    ),
    r AS (
      SELECT grp, t,
             row_number() OVER (PARTITION BY grp ORDER BY t, id) AS i
      FROM per
    ),
    s AS (
      SELECT grp, count(*) AS n, sum(t) AS st,
             sum(i::HUGEINT * t::HUGEINT) AS sit
      FROM r GROUP BY 1
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n_docs,
           CAST(st AS BIGINT) AS n_tokens,
           CASE WHEN st > 0 THEN
             {round6_bridge_sql(
                 "2.0 * CAST(sit AS DOUBLE) / CAST(n::HUGEINT * st::HUGEINT AS DOUBLE) - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)",
             )}
           ELSE 0.0 END AS gini_tokens
    FROM s
"""

ORACLES["cohens_d"] = f"""
    WITH per AS (
      SELECT source AS grp,
             len(list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS t
      FROM documents
    ),
    s AS (
      SELECT grp, count(*) AS n, sum(t) AS st,
             sum(t::HUGEINT * t::HUGEINT) AS qt
      FROM per GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS nn, sum(st) AS tt, sum(qt) AS qq FROM s)
    SELECT grp,
           CAST(n AS BIGINT) AS n_docs,
           {round6_ratio_sql("st", "n")} AS mean_tokens,
           CASE WHEN (nn - n) >= 1 AND nn >= 3 AND
                     (CAST(qq AS DOUBLE)
                      - CAST(st AS DOUBLE)*CAST(st AS DOUBLE)/CAST(n AS DOUBLE)
                      - CAST(tt - st AS DOUBLE)*CAST(tt - st AS DOUBLE)/CAST(nn - n AS DOUBLE))
                     / CAST(nn - 2 AS DOUBLE) > 0
           THEN {round6_bridge_sql(
                    "greatest(least( (CAST(st AS DOUBLE)/CAST(n AS DOUBLE) - CAST(tt - st AS DOUBLE)/CAST(nn - n AS DOUBLE)) / sqrt((CAST(qq AS DOUBLE) - CAST(st AS DOUBLE)*CAST(st AS DOUBLE)/CAST(n AS DOUBLE) - CAST(tt - st AS DOUBLE)*CAST(tt - st AS DOUBLE)/CAST(nn - n AS DOUBLE)) / CAST(nn - 2 AS DOUBLE)) , 1000.0), -1000.0)",
                )}
           ELSE 0.0 END AS cohens_d
    FROM s, tot
"""

ORACLES["code_detect"] = f"""
    WITH per AS (
      SELECT source AS grp, replace(text, chr(13), '') AS body
      FROM documents
    ),
    sig AS (
      SELECT grp,
        len(string_split(body, chr(10))) AS nl,
        len(list_filter(string_split(body, chr(10)),
            x -> left(x, 4) = '    ' OR left(x, 1) = chr(9))) AS ind,
        len(list_filter(string_split(body, chr(10)),
            x -> right(rtrim(x), 1) IN (';', '{{', '}}', ')'))) AS pnc,
        length(body) AS ch,
        length(body)
          - length(regexp_replace(body, '[\\[\\]{{}}();=<>]', '', 'g')) AS sy,
        (CASE WHEN contains(body, 'def ') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'return') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'import ') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, '#include') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'function') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'public ') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'void ') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, '=>') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, '==') THEN 1 ELSE 0 END) AS kw
      FROM per
    ),
    sc AS (
      SELECT grp,
        (CASE WHEN 100*ind >= 15*nl THEN 1 ELSE 0 END
         + CASE WHEN 100*pnc >= 20*nl THEN 1 ELSE 0 END
         + CASE WHEN ch > 0 AND 100*sy >= 5*ch THEN 1 ELSE 0 END
         + CASE WHEN kw >= 2 THEN 1 ELSE 0 END
         + CASE WHEN kw >= 4 THEN 1 ELSE 0 END) AS s
      FROM sig
    ),
    g AS (
      SELECT grp, count(*) AS n,
             sum(CASE WHEN s >= 3 THEN 1 ELSE 0 END) AS cd,
             sum(s) AS ss
      FROM sc GROUP BY 1
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n_docs,
           CAST(cd AS BIGINT) AS code_docs,
           {round6_ratio_sql("cd", "n")} AS code_frac,
           {round6_ratio_sql("ss", "n")} AS mean_score
    FROM g
"""

ORACLES["cuped_adjustment"] = f"""
    WITH mm AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    per AS (
      SELECT user_id AS u,
        coalesce(sum(CASE WHEN epoch_us(ts) < lo + (hi - lo) // 2 THEN
          {cents_sql("value")}
        END), 0) AS x,
        coalesce(sum(CASE WHEN epoch_us(ts) >= lo + (hi - lo) // 2 THEN
          {cents_sql("value")}
        END), 0) AS y
      FROM events, mm
      GROUP BY 1
    ),
    pu AS (
      SELECT u, x, y,
             ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 11))::BIGINT % 2 AS variant
      FROM per
    ),
    gtot AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x::HUGEINT * y::HUGEINT) AS sxy,
             sum(x::HUGEINT * x::HUGEINT) AS sxx,
             sum(y::HUGEINT * y::HUGEINT) AS syy
      FROM pu
    ),
    pv AS (
      SELECT variant, count(*) AS n_users, sum(x) AS svx, sum(y) AS svy
      FROM pu GROUP BY 1
    ),
    calc AS (
      SELECT variant, n_users, svx, svy, n, sx,
             n::HUGEINT * sxy - sx::HUGEINT * sy::HUGEINT AS num,
             n::HUGEINT * sxx - sx::HUGEINT * sx::HUGEINT AS dx,
             n::HUGEINT * syy - sy::HUGEINT * sy::HUGEINT AS dy
      FROM pv, gtot
    ),
    expr AS (
      SELECT variant, n_users, svy,
        CASE WHEN CAST(dx AS DOUBLE) > 0
             THEN CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) ELSE 0.0 END AS theta,
        CAST(svy AS DOUBLE) / CAST(100*n_users AS DOUBLE)
          - (CASE WHEN CAST(dx AS DOUBLE) > 0
                  THEN CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) ELSE 0.0 END)
            * (CAST(svx AS DOUBLE) / CAST(100*n_users AS DOUBLE)
               - CAST(sx AS DOUBLE) / CAST(100*n AS DOUBLE)) AS adj,
        CASE WHEN CAST(dx AS DOUBLE) > 0 AND CAST(dy AS DOUBLE) > 0
             THEN CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                  / (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
             ELSE 0.0 END AS r2
      FROM calc
    )
    SELECT variant,
           CAST(n_users AS BIGINT) AS n_users,
           {round6_ratio_signed_sql("svy", "100*n_users")} AS raw_mean,
           (CASE WHEN adj >= 0
                 THEN  CAST(floor(abs(adj)*1000000.0 + 0.5) AS BIGINT)
                 ELSE -CAST(floor(abs(adj)*1000000.0 + 0.5) AS BIGINT) END
           ) / 1000000.0 AS adj_mean,
           (CASE WHEN theta >= 0
                 THEN  CAST(floor(abs(theta)*1000000.0 + 0.5) AS BIGINT)
                 ELSE -CAST(floor(abs(theta)*1000000.0 + 0.5) AS BIGINT) END
           ) / 1000000.0 AS theta,
           {round6_bridge_sql("r2")} AS rho2
    FROM expr
    ORDER BY variant
"""

# Chaining audit = the LSH pair pipeline + transitive closure + an
# exact all-member-pairs Jaccard pass within each (size-capped)
# cluster. Reuses the minhash_lsh_pairs SQL verbatim; MATERIALIZED
# hints stop DuckDB re-inlining the shingle/cluster CTEs that the
# diameter suffix reads several times (the k-core lesson: 113s -> 0.1s).
ORACLES["cluster_diameter"] = _sql_surgery(
    _sql_surgery(
        _sql_surgery(
            _sql_surgery(
                ORACLES["minhash_lsh_pairs"], "WITH ", "WITH RECURSIVE ", 1
            ),
            "sh AS (SELECT DISTINCT",
            "sh AS MATERIALIZED (SELECT DISTINCT",
        ),
        "sig AS (",
        "sig AS MATERIALIZED (",
    ),
        "SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2",
        f""", p AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.2),
    edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b, id_a FROM p
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
    ),
    cl0 AS MATERIALIZED (
        SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1
    ),
    csz AS (SELECT cluster_id, count(*) AS csize FROM cl0 GROUP BY 1),
    cl AS MATERIALIZED (
        SELECT cl0.node, cl0.cluster_id, csz.csize
        FROM cl0 JOIN csz USING (cluster_id) WHERE csz.csize <= 64
    ),
    szs AS MATERIALIZED (SELECT doc_id, count(*) AS szv FROM sh GROUP BY 1),
    msh AS MATERIALIZED (
        SELECT cl.cluster_id, cl.node AS m, sh.s
        FROM cl JOIN sh ON sh.doc_id = cl.node
    ),
    inter AS MATERIALIZED (
        SELECT x.m AS ia, y.m AS ib, count(*) AS it
        FROM msh x JOIN msh y
          ON x.cluster_id = y.cluster_id AND x.s = y.s AND x.m < y.m
        GROUP BY 1, 2
    ),
    mp AS (
        SELECT p2.cluster_id, p2.csize, p2.node AS ia, q2.node AS ib
        FROM cl p2 JOIN cl q2
          ON p2.cluster_id = q2.cluster_id AND p2.node < q2.node
    ),
    pj AS (
        SELECT mp.cluster_id, mp.csize, coalesce(i.it, 0) AS it,
               sa.szv + sb.szv - coalesce(i.it, 0) AS un
        FROM mp LEFT JOIN inter i ON i.ia = mp.ia AND i.ib = mp.ib
        JOIN szs sa ON sa.doc_id = mp.ia
        JOIN szs sb ON sb.doc_id = mp.ib
    ),
    pp AS (
        SELECT cluster_id, csize,
               CAST({round6_ratio_sql("it", "un")} * 1000000 AS BIGINT) AS jmu,
               CASE WHEN 5*it < 1*un THEN 1 ELSE 0 END AS ch
        FROM pj
    ),
    pc AS (
        SELECT cluster_id, csize, count(*) AS np, sum(ch) AS nc,
               min(jmu) AS minj, sum(jmu) AS sumj
        FROM pp GROUP BY 1, 2
    )
    SELECT CAST(csize AS BIGINT) AS size,
           count(*)::BIGINT AS n_clusters,
           sum(np)::BIGINT AS n_pairs,
           sum(nc)::BIGINT AS chained_pairs,
           {round6_ratio_sql("sum(nc)", "sum(np)")} AS chained_frac,
           min(minj) / 1000000.0 AS min_sim,
           {round6_ratio_dec_sql("sum(sumj)", "1000000::HUGEINT*sum(np)")} AS mean_sim
    FROM pc GROUP BY csize""",
)

ORACLES["hll_union_overlap"] = """
    WITH h AS (
      SELECT event_type, md5(user_id::VARCHAR) AS m FROM events
    ),
    r AS (
      SELECT event_type,
             ('0x' || substr(m, 1, 2))::BIGINT AS reg,
             ('0x' || substr(m, 3, 10))::BIGINT AS v
      FROM h
    ),
    regs AS MATERIALIZED (
      SELECT event_type, reg,
             max(CASE WHEN v = 0 THEN 41 ELSE 41 - length(bin(v)) END) AS rho
      FROM r GROUP BY 1, 2
    ),
    est1 AS MATERIALIZED (
      SELECT event_type,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       / (sum(pow(2.0, -rho)) + (256.0 - count(*))) <= 2.5 * 256.0
                   AND 256.0 - count(*) > 0
                  THEN 256.0 * ln(256.0 / (256.0 - count(*)))
                  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       / (sum(pow(2.0, -rho)) + (256.0 - count(*)))
             END AS est
      FROM regs GROUP BY 1
    ),
    gps AS (SELECT DISTINCT event_type FROM regs),
    prs AS (
      SELECT a.event_type AS ga, b.event_type AS gb
      FROM gps a JOIN gps b ON a.event_type < b.event_type
    ),
    uni AS (
      SELECT pr.ga, pr.gb, s.reg, max(s.rho) AS rho
      FROM prs pr JOIN regs s
        ON s.event_type = pr.ga OR s.event_type = pr.gb
      GROUP BY 1, 2, 3
    ),
    uest AS (
      SELECT ga, gb,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       / (sum(pow(2.0, -rho)) + (256.0 - count(*))) <= 2.5 * 256.0
                   AND 256.0 - count(*) > 0
                  THEN 256.0 * ln(256.0 / (256.0 - count(*)))
                  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       / (sum(pow(2.0, -rho)) + (256.0 - count(*)))
             END AS estu
      FROM uni GROUP BY 1, 2
    ),
    dx AS MATERIALIZED (SELECT DISTINCT event_type, user_id FROM events),
    ex AS (
      SELECT x.event_type AS ga, y.event_type AS gb, count(*) AS exo
      FROM dx x JOIN dx y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT u.ga, u.gb,
           CAST(floor(ea.est*1000000.0 + 0.5) AS BIGINT)/1000000.0 AS est_a,
           CAST(floor(eb.est*1000000.0 + 0.5) AS BIGINT)/1000000.0 AS est_b,
           CAST(floor(u.estu*1000000.0 + 0.5) AS BIGINT)/1000000.0 AS est_union,
           (CASE WHEN ea.est + eb.est - u.estu >= 0
                 THEN  CAST(floor( (ea.est + eb.est - u.estu)*1000000.0 + 0.5)
                            AS BIGINT)
                 ELSE -CAST(floor(-(ea.est + eb.est - u.estu)*1000000.0 + 0.5)
                            AS BIGINT) END) / 1000000.0 AS overlap_est,
           CAST(coalesce(ex.exo, 0) AS BIGINT) AS exact_overlap
    FROM uest u
    JOIN est1 ea ON ea.event_type = u.ga
    JOIN est1 eb ON eb.event_type = u.gb
    LEFT JOIN ex ON ex.ga = u.ga AND ex.gb = u.gb
"""

ORACLES["order_count_histogram"] = """
    WITH per AS (
      SELECT c.c_custkey, count(o.o_custkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority NOT LIKE '%LOW%'
      GROUP BY 1
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           count(*)::BIGINT AS custdist
    FROM per GROUP BY 1
"""


def _qte_oracle() -> str:
    """Mirror of qte_deciles: decile picks a=1..9 over b=10 with the
    exact integer-rank formula, signed DECIMAL round-6 ratios."""
    picks = []
    for a in range(1, 10):
        picks.append(
            f"max(CASE WHEN r = ({a}*(n-1))//10 + 1 THEN v END) AS d{a}lo,\n"
            f"             max(CASE WHEN r = ({a}*(n-1))//10 + 2 THEN v END) AS d{a}hi,\n"
            f"             max(({a}*(n-1)) % 10) AS d{a}k"
        )

    def sr(num):
        return round6_ratio_dec_signed_sql(num, "1000")

    rows = []
    for a in range(1, 10):
        nc = f"10*c.d{a}lo + c.d{a}k*(coalesce(c.d{a}hi, c.d{a}lo) - c.d{a}lo)"
        nt = f"10*t.d{a}lo + t.d{a}k*(coalesce(t.d{a}hi, t.d{a}lo) - t.d{a}lo)"
        rows.append(
            f"SELECT {a}::BIGINT AS decile, c.n_events AS n_control,"
            f" t.n_events AS n_treat, {sr(nc)} AS q_control,"
            f" {sr(nt)} AS q_treat, {sr(f'({nt}) - ({nc})')} AS qte"
            f" FROM c, t"
        )
    return f"""
    WITH base AS (
      SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 11))::BIGINT % 2 AS variant,
             {cents_sql("value")} AS v,
             event_id AS o
      FROM events
    ),
    rk AS (
      SELECT variant, v,
             row_number() OVER (PARTITION BY variant ORDER BY v, o) AS r,
             count(*) OVER (PARTITION BY variant) AS n
      FROM base
    ),
    agg AS MATERIALIZED (
      SELECT variant, count(*)::BIGINT AS n_events,
             {",".join(picks)}
      FROM rk GROUP BY 1
    ),
    c AS (SELECT * FROM agg WHERE variant = 0),
    t AS (SELECT * FROM agg WHERE variant = 1)
    {" UNION ALL ".join(rows)}
"""


ORACLES["qte_deciles"] = _qte_oracle()

ORACLES["vocab_partial_corr"] = f"""
    WITH per AS (
      SELECT source AS grp,
             len(list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '')) AS x,
             len(list_distinct(list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> ''))) AS y,
             length(text) AS z
      FROM documents
    ),
    g AS (
      SELECT grp, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(x::HUGEINT * y::HUGEINT) AS sxy,
             sum(x::HUGEINT * z::HUGEINT) AS sxz,
             sum(y::HUGEINT * z::HUGEINT) AS syz,
             sum(x::HUGEINT * x::HUGEINT) AS sxx,
             sum(y::HUGEINT * y::HUGEINT) AS syy,
             sum(z::HUGEINT * z::HUGEINT) AS szz
      FROM per GROUP BY 1
    ),
    mo AS (
      SELECT grp, n,
             CAST(n::HUGEINT * sxy - sx::HUGEINT * sy::HUGEINT AS DOUBLE) AS cxy,
             CAST(n::HUGEINT * sxz - sx::HUGEINT * sz::HUGEINT AS DOUBLE) AS cxz,
             CAST(n::HUGEINT * syz - sy::HUGEINT * sz::HUGEINT AS DOUBLE) AS cyz,
             CAST(n::HUGEINT * sxx - sx::HUGEINT * sx::HUGEINT AS DOUBLE) AS vx,
             CAST(n::HUGEINT * syy - sy::HUGEINT * sy::HUGEINT AS DOUBLE) AS vy,
             CAST(n::HUGEINT * szz - sz::HUGEINT * sz::HUGEINT AS DOUBLE) AS vz
      FROM g
    ),
    rr AS (
      SELECT grp, n, vx, vy, vz,
             cxy / sqrt(vx * vy) AS rxy,
             cxz / sqrt(vx * vz) AS rxz,
             cyz / sqrt(vy * vz) AS ryz
      FROM mo
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n_docs,
           CASE WHEN vx > 0 AND vy > 0 AND vz > 0
                THEN {round6_bridge_sql("rxy")}
                ELSE 0.0 END AS r_xy,
           CASE WHEN vx > 0 AND vy > 0 AND vz > 0
                THEN {round6_bridge_sql("rxz")}
                ELSE 0.0 END AS r_xz,
           CASE WHEN vx > 0 AND vy > 0 AND vz > 0
                THEN {round6_bridge_sql("ryz")}
                ELSE 0.0 END AS r_yz,
           CASE WHEN vx > 0 AND vy > 0 AND vz > 0
                 AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                THEN {round6_bridge_sql(
                         "(rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))",
                     )}
                ELSE 0.0 END AS partial_xy_z
    FROM rr
"""

ORACLES["t_closeness"] = f"""
    WITH cnt AS (
      SELECT c_mktsegment AS q1, c_nationkey AS q2,
             CASE WHEN c_acctbal < 0 THEN 1
                  WHEN c_acctbal < 5000 THEN 2
                  ELSE 3 END AS i,
             count(*) AS c
      FROM customer GROUP BY 1, 2, 3
    ),
    classes AS (SELECT q1, q2, sum(c) AS class_size FROM cnt GROUP BY 1, 2),
    grid AS (
      SELECT q1, q2, class_size, unnest(generate_series(1, 3)) AS i
      FROM classes
    ),
    filled AS MATERIALIZED (
      SELECT g.q1, g.q2, g.class_size, g.i, coalesce(cnt.c, 0) AS c
      FROM grid g
      LEFT JOIN cnt ON cnt.q1 = g.q1 AND cnt.q2 = g.q2 AND cnt.i = g.i
    ),
    cum AS (
      SELECT q1, q2, class_size, i, c,
             sum(c) OVER (PARTITION BY q1, q2 ORDER BY i) AS cuma
      FROM filled
    ),
    glc AS (
      SELECT i, sum(gc) OVER (ORDER BY i) AS cumb
      FROM (SELECT i, sum(c) AS gc FROM filled GROUP BY 1)
    ),
    tot AS (SELECT sum(c) AS nn FROM filled),
    per AS MATERIALIZED (
      SELECT q1, q2, class_size, nn,
             sum(abs(cuma::HUGEINT * nn::HUGEINT
                     - cumb::HUGEINT * class_size::HUGEINT)) AS num,
             class_size::HUGEINT * nn::HUGEINT * 2 AS den
      FROM cum JOIN glc USING (i), tot
      WHERE i < 3
      GROUP BY 1, 2, 3, 4, 6
    )
    SELECT q1 AS c_mktsegment, q2 AS c_nationkey,
           CAST(class_size AS BIGINT) AS class_size,
           {round6_ratio_dec_sql("num", "den")} AS t_emd,
           max({round6_ratio_dec_sql("num", "den")}) OVER () AS max_t,
           {round6_ratio_dec_sql(
               "sum(CASE WHEN 10*num > 1*den THEN class_size ELSE 0 END) OVER ()",
               "max(nn) OVER ()",
           )} AS pct_gt_1_10,
           {round6_ratio_dec_sql(
               "sum(CASE WHEN 5*num > 1*den THEN class_size ELSE 0 END) OVER ()",
               "max(nn) OVER ()",
           )} AS pct_gt_1_5
    FROM per
"""

ORACLES["degree_assortativity"] = f"""
    WITH {_COACTIVITY_EDGES_SQL},
    deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY 1
    ),
    g AS (
      SELECT count(*) AS m,
             sum(da.d::HUGEINT * db.d::HUGEINT) AS sjk,
             sum(da.d + db.d) AS s1,
             sum(da.d::HUGEINT * da.d::HUGEINT
                 + db.d::HUGEINT * db.d::HUGEINT) AS s2
      FROM edges e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ),
    nn AS (SELECT count(*) AS n_nodes FROM deg)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(m AS BIGINT) AS n_edges,
           {round6_ratio_sql("2*m", "greatest(n_nodes, 1)")} AS mean_degree,
           CASE WHEN CAST(2::HUGEINT*m::HUGEINT*s2 - s1::HUGEINT*s1::HUGEINT AS DOUBLE) > 0
                THEN {round6_bridge_sql(
                         "CAST(4::HUGEINT*m::HUGEINT*sjk - s1::HUGEINT*s1::HUGEINT AS DOUBLE) / CAST(2::HUGEINT*m::HUGEINT*s2 - s1::HUGEINT*s1::HUGEINT AS DOUBLE)",
                     )}
                ELSE 0.0 END AS assortativity
    FROM g, nn
"""

ORACLES["chunk_overlap"] = """
    WITH base AS (
      SELECT doc_id AS id,
             list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '') AS t
      FROM documents
    ),
    nz AS (SELECT id, t FROM base WHERE len(t) > 0),
    chunks AS MATERIALIZED (
      SELECT DISTINCT id,
             md5(array_to_string(list_slice(t, i*32 + 1, i*32 + 32), ' ')) AS d
      FROM (SELECT id, t,
                   unnest(generate_series(0,
                     CAST(floor((len(t) - 1) / 32) AS BIGINT))) AS i
            FROM nz)
    ),
    occ AS (SELECT d FROM chunks GROUP BY d HAVING count(*) <= 50),
    kept AS MATERIALIZED (SELECT chunks.* FROM chunks JOIN occ USING (d)),
    sizes AS MATERIALIZED (SELECT id, count(*) AS m FROM chunks GROUP BY 1),
    shared AS (
      SELECT x.id AS a, y.id AS b, count(*) AS s
      FROM kept x JOIN kept y ON x.d = y.d AND x.id < y.id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    pairs AS MATERIALIZED (
      SELECT a, b, s, (10 * s) // least(ma.m, mb.m) AS bucket
      FROM shared
      JOIN sizes ma ON ma.id = a
      JOIN sizes mb ON mb.id = b
    ),
    pb AS (SELECT bucket, count(*) AS n_pairs, sum(s) AS sc FROM pairs GROUP BY 1),
    dd AS (
      SELECT bucket, count(*) AS nd
      FROM (SELECT DISTINCT bucket, unnest([a, b]) AS doc FROM pairs)
      GROUP BY 1
    )
    SELECT CAST(pb.bucket AS BIGINT) AS bucket,
           CAST(pb.n_pairs AS BIGINT) AS n_pairs,
           CAST(pb.sc AS BIGINT) AS shared_chunks,
           CAST(dd.nd AS BIGINT) AS n_docs
    FROM pb JOIN dd USING (bucket)
"""

ORACLES["link_density"] = f"""
    WITH deco AS (
      SELECT source,
             {_LINK_DECO_SQL} AS t
      FROM documents
    ),
    per AS MATERIALIZED (
      SELECT source AS grp,
             len(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+')) AS l,
             length(t) AS c,
             regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+') AS u
      FROM deco
    ),
    g AS (
      SELECT grp, count(*) AS n,
             sum(CASE WHEN l > 0 THEN 1 ELSE 0 END) AS ld,
             sum(l) AS nl, sum(c) AS ch
      FROM per GROUP BY 1
    ),
    doms AS (
      SELECT grp, count(*) AS nd FROM (
        SELECT DISTINCT grp,
               lower(regexp_replace(unnest(u), '^https?://', '')) AS d
        FROM per
      ) GROUP BY 1
    )
    SELECT g.grp,
           CAST(n AS BIGINT) AS n_docs,
           CAST(ld AS BIGINT) AS link_docs,
           CAST(nl AS BIGINT) AS n_links,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_domains,
           {round6_ratio_sql("ld", "n")} AS link_doc_frac,
           {round6_ratio_sql("1000*nl", "greatest(ch, 1)")} AS links_per_kchar
    FROM g LEFT JOIN doms ON doms.grp = g.grp
"""

ORACLES["markup_stats"] = f"""
    WITH deco AS (
      SELECT source,
             replace(text
               || CASE WHEN doc_id % 5 = 0
                    THEN chr(10) || '# Title' || chr(10) || '- item one'
                         || chr(10) || '- item two' || chr(10) || '```'
                         || chr(10) || 'code' || chr(10) || '```'
                         || chr(10) || '| a | b |' || chr(10) || '> quoted'
                         || chr(10)
                    ELSE '' END,
               chr(13), '') AS b
      FROM documents
    ),
    per AS (
      SELECT source AS grp,
             len(string_split(b, chr(10))) AS n,
             len(list_filter(string_split(b, chr(10)),
                 x -> left(x, 1) = '#')) AS h,
             len(list_filter(string_split(b, chr(10)),
                 x -> left(x, 2) = '- ' OR left(x, 2) = '* '
                      OR regexp_matches(x, '^[0-9]+[.] '))) AS l,
             len(list_filter(string_split(b, chr(10)),
                 x -> left(x, 1) = '|')) AS t,
             len(list_filter(string_split(b, chr(10)),
                 x -> left(x, 2) = '> ')) AS q,
             (length(b) - length(replace(b, '```', ''))) / 3 AS fc
      FROM deco
    ),
    g AS (
      SELECT grp, count(*) AS n_docs,
             sum(CASE WHEN h + l + t + q > 0 OR fc >= 2 THEN 1 ELSE 0 END) AS md,
             sum(h) AS sh, sum(l) AS sl, sum(t) AS st, sum(q) AS sq,
             sum(CAST(floor(fc / 2) AS BIGINT)) AS sf,
             sum(n) AS sn
      FROM per GROUP BY 1
    )
    SELECT grp,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(md AS BIGINT) AS markup_docs,
           CAST(sh AS BIGINT) AS heading_lines,
           CAST(sl AS BIGINT) AS list_lines,
           CAST(st AS BIGINT) AS table_lines,
           CAST(sq AS BIGINT) AS quote_lines,
           CAST(sf AS BIGINT) AS code_fences,
           {round6_ratio_sql("md", "n_docs")} AS markup_frac,
           {round6_ratio_sql("sh + sl + st + sq", "greatest(sn, 1)")} AS markup_line_frac
    FROM g
"""

# Degree spectrum = the LSH pair pipeline + a two-stage degree
# count-of-counts; reuses the minhash_lsh_pairs SQL verbatim.
ORACLES["dup_degree_spectrum"] = _sql_surgery(
    ORACLES["minhash_lsh_pairs"],
    "SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2",
    """, p AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.2),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT id_a AS node FROM p UNION ALL SELECT id_b FROM p
      ) GROUP BY 1
    )
    SELECT CAST(d AS BIGINT) AS degree, count(*)::BIGINT AS n_nodes
    FROM deg GROUP BY 1""",
)

ORACLES["language_mix"] = f"""
    WITH deco AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % 7 = 0
                       THEN chr(10) || 'der und die das ist nicht mit ein banner zeile'
                       ELSE '' END AS t
      FROM documents
    ),
    segs AS (
      SELECT grp, id, p FROM (
        SELECT source AS grp, doc_id AS id,
               unnest(string_split(replace(t, chr(13), ''), chr(10))) AS p
        FROM deco
      )
      WHERE len(regexp_split_to_array(trim(p), '[ \\t\\n\\f\\r]+')) >= 5
    ),
    sc AS (
      SELECT grp, id,
        len(regexp_extract_all(lower(p), '\\b(der|die|und|das|ist|nicht|mit|ein)\\b')) * 1.0
          / greatest(len(regexp_split_to_array(trim(p), '[ \\t\\n\\f\\r]+')), 1) AS s_de,
        len(regexp_extract_all(lower(p), '\\b(the|and|of|to|in|is|that|for|with)\\b')) * 1.0
          / greatest(len(regexp_split_to_array(trim(p), '[ \\t\\n\\f\\r]+')), 1) AS s_en,
        len(regexp_extract_all(lower(p), '\\b(el|la|los|que|es|para|con|una)\\b')) * 1.0
          / greatest(len(regexp_split_to_array(trim(p), '[ \\t\\n\\f\\r]+')), 1) AS s_es,
        len(regexp_extract_all(lower(p), '\\b(le|la|les|et|est|que|pour|dans)\\b')) * 1.0
          / greatest(len(regexp_split_to_array(trim(p), '[ \\t\\n\\f\\r]+')), 1) AS s_fr
      FROM segs
    ),
    pred AS (
      SELECT grp, id,
             {_LANG_PRED_SQL} AS pr
      FROM sc
    ),
    per_doc AS (
      SELECT grp, id, count(*) AS nseg,
             count(DISTINCT CASE WHEN pr <> 'und' THEN pr END) AS nlang
      FROM pred GROUP BY 1, 2
    ),
    rolled AS (
      SELECT grp,
             sum(CASE WHEN nseg >= 2 THEN 1 ELSE 0 END) AS msd,
             sum(CASE WHEN nlang >= 2 THEN 1 ELSE 0 END) AS mxd
      FROM per_doc GROUP BY 1
    ),
    ad AS (SELECT source AS grp, count(*) AS n FROM documents GROUP BY 1)
    SELECT ad.grp,
           CAST(n AS BIGINT) AS n_docs,
           CAST(coalesce(msd, 0) AS BIGINT) AS multi_seg_docs,
           CAST(coalesce(mxd, 0) AS BIGINT) AS mixed_docs,
           {round6_ratio_sql("coalesce(mxd, 0)", "n")} AS mixed_frac
    FROM ad LEFT JOIN rolled ON rolled.grp = ad.grp
"""

ORACLES["brier_decomposition"] = f"""
    WITH base AS (
      SELECT least(greatest(n_chars - 50, 0), 550)::BIGINT AS c,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
             least((10 * least(greatest(n_chars - 50, 0), 550)::BIGINT) // 550,
                   9) AS b
      FROM documents
    ),
    bins AS (
      SELECT b, count(*) AS nk, sum(c) AS sc, sum(y) AS yk
      FROM base GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS n, sum(y) AS yy,
             sum((c - 550*y)::HUGEINT * (c - 550*y)::HUGEINT) AS sq
      FROM base
    ),
    terms AS (
      SELECT n, yy, sq,
             sum(((sc - 550*yk)::HUGEINT * (sc - 550*yk)::HUGEINT
                  * 1000000000000::HUGEINT) // nk::HUGEINT) AS rel,
             sum(((n::HUGEINT*yk::HUGEINT - nk::HUGEINT*yy::HUGEINT)
                  * (n::HUGEINT*yk::HUGEINT - nk::HUGEINT*yy::HUGEINT)
                  * 1000000::HUGEINT) // nk::HUGEINT) AS res
      FROM bins, tot
      GROUP BY 1, 2, 3
    )
    SELECT CAST(n AS BIGINT) AS n,
           {round6_ratio_dec_sql("sq", "302500::HUGEINT*n")} AS brier,
           {round6_ratio_dec_sql("rel", "1000000000000::HUGEINT*302500::HUGEINT*n")} AS reliability,
           {round6_ratio_dec_sql(
               "res",
               "1000000::HUGEINT*n::HUGEINT*n::HUGEINT*n::HUGEINT",
           )} AS resolution,
           {round6_ratio_dec_sql(
               "yy::HUGEINT*(n - yy)::HUGEINT",
               "n::HUGEINT*n::HUGEINT",
           )} AS uncertainty
    FROM terms
"""

ORACLES["forecast_mase"] = f"""
    WITH hourly AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS hour,
             count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    lags AS (
      SELECT grp, y,
             lag(y, 1) OVER (PARTITION BY grp ORDER BY hour) AS p1,
             lag(y, 24) OVER (PARTITION BY grp ORDER BY hour) AS ps
      FROM hourly
    ),
    agg AS (
      SELECT grp,
             count(p1) AS n1,
             sum(abs(y - p1)) AS ae1,
             count(ps) AS ns,
             sum(abs(y - ps)) AS aes
      FROM lags GROUP BY 1
    )
    SELECT grp AS event_type,
           CAST(n1 AS BIGINT) AS n_naive,
           CAST(ns AS BIGINT) AS n_seasonal,
           CASE WHEN n1 > 0 AND ns > 0 AND ae1 > 0
                THEN {round6_ratio_dec_sql(
                         "aes::HUGEINT * n1::HUGEINT",
                         "ae1::HUGEINT * ns::HUGEINT",
                     )}
                ELSE -1.0 END AS mase
    FROM agg
"""

ORACLES["char_rep_rate"] = f"""
    WITH el AS (
      SELECT doc_id, source, text FROM documents WHERE length(text) >= 10
    ),
    pos AS (
      SELECT doc_id, source,
             substr(text, CAST(i AS INTEGER), 10) AS g
      FROM el, LATERAL unnest(
        generate_series(1, length(text) - 9, 4)
      ) AS t(i)
    ),
    pg AS (
      SELECT doc_id, source, g, count(*) AS c FROM pos GROUP BY 1, 2, 3
    ),
    per AS (
      SELECT source AS grp,
             count(DISTINCT doc_id) AS nd,
             sum(c) AS np,
             sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
      FROM pg GROUP BY 1
    ),
    allg AS (SELECT DISTINCT source AS grp FROM documents)
    SELECT allg.grp,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_docs,
           CAST(coalesce(np, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(dup, 0) AS BIGINT) AS dup_grams,
           CASE WHEN np IS NULL THEN -1.0
                ELSE {round6_ratio_sql("coalesce(dup, 0)", "np")} END AS rep_rate
    FROM allg LEFT JOIN per ON per.grp = allg.grp
"""

ORACLES["url_dedup"] = f"""
    WITH deco AS (
      SELECT doc_id, source,
             {_LINK_DECO_SQL} AS t
      FROM documents
    ),
    ext AS (
      SELECT doc_id, source,
             regexp_extract(t, 'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?') AS u0
      FROM deco
    ),
    urls AS MATERIALIZED (
      SELECT doc_id, source,
             regexp_replace(regexp_replace(lower(u0), '^https?://', ''),
                            '/+$', '') AS url
      FROM ext WHERE u0 <> ''
    ),
    first AS (SELECT url, min(doc_id) AS keep FROM urls GROUP BY 1),
    j AS (
      SELECT u.source, u.url, u.doc_id, f.keep
      FROM urls u JOIN first f USING (url)
    ),
    per AS (
      SELECT source AS grp, count(*) AS ud, count(DISTINCT url) AS uu,
             sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END) AS dd
      FROM j GROUP BY 1
    ),
    ad AS (SELECT source AS grp, count(*) AS n FROM documents GROUP BY 1)
    SELECT ad.grp,
           CAST(n AS BIGINT) AS n_docs,
           CAST(coalesce(ud, 0) AS BIGINT) AS url_docs,
           CAST(coalesce(uu, 0) AS BIGINT) AS uniq_urls,
           CAST(coalesce(dd, 0) AS BIGINT) AS dup_docs,
           {round6_ratio_sql("coalesce(dd, 0)", "n")} AS dup_frac
    FROM ad LEFT JOIN per ON per.grp = ad.grp
"""

ORACLES["doc_disposition"] = f"""
    WITH deco AS MATERIALIZED (
      SELECT doc_id, source,
             CASE WHEN doc_id % 13 = 0
                  THEN text || ' All Rights Reserved. See our Privacy Policy, click here {{'
                  ELSE text END AS text
      FROM documents
    ),
    d0 AS (
      SELECT doc_id, source, md5(text) AS dg,
             (text LIKE '%All Rights Reserved%'
              OR text LIKE '%Privacy Policy%') AS blk
      FROM deco
    ),
    keep AS (SELECT dg, min(doc_id) AS k FROM d0 GROUP BY 1),{_quality_cte_sql("deco")},
    j AS (
      SELECT d0.source AS grp,
             CASE WHEN d0.doc_id <> keep.k THEN 'dup'
                  WHEN q.quality < 0.5 THEN 'low_quality'
                  WHEN d0.blk THEN 'blocked'
                  ELSE 'keep' END AS disposition
      FROM d0 JOIN keep USING (dg) JOIN q ON q.doc_id = d0.doc_id
    ),
    tot AS (SELECT source AS grp, count(*) AS n FROM deco GROUP BY 1)
    SELECT j.grp, disposition, count(*)::BIGINT AS n_docs,
           {round6_ratio_sql("count(*)", "n")} AS frac
    FROM j JOIN tot ON tot.grp = j.grp
    GROUP BY 1, 2, n
"""

ORACLES["knn_stability"] = f"""
    WITH {_srp_planes_sql(16, "planes_t")},
    pl AS MATERIALIZED (
      SELECT h, list(c ORDER BY d) AS plv FROM planes_t GROUP BY 1
    ),
    e AS MATERIALIZED (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 128
    ),
    pvt AS (
      SELECT e.id, pl.h, list_dot_product(e.v, pl.plv) AS dp FROM e, pl
    ),
    pe AS MATERIALIZED (
      SELECT id, list(dp ORDER BY h) AS pv FROM pvt GROUP BY 1
    ),
    pairs AS (
      SELECT a.id AS qa, b.id AS nb,
        CASE WHEN list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v) > 0
             THEN list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             ELSE -1.0 END AS cf,
        CASE WHEN list_dot_product(pa.pv, pa.pv) * list_dot_product(pb.pv, pb.pv) > 0
             THEN list_dot_product(pa.pv, pb.pv)
                  / (sqrt(list_dot_product(pa.pv, pa.pv)) * sqrt(list_dot_product(pb.pv, pb.pv)))
             ELSE -1.0 END AS cp
      FROM e a JOIN e b ON a.id <> b.id
      JOIN pe pa ON pa.id = a.id
      JOIN pe pb ON pb.id = b.id
    ),
    q AS (
      SELECT qa, nb,
        CASE WHEN cf >= 0 THEN  CAST(floor( cf*1000000.0 + 0.5) AS BIGINT)
                          ELSE -CAST(floor(-cf*1000000.0 + 0.5) AS BIGINT) END AS qf,
        CASE WHEN cp >= 0 THEN  CAST(floor( cp*1000000.0 + 0.5) AS BIGINT)
                          ELSE -CAST(floor(-cp*1000000.0 + 0.5) AS BIGINT) END AS qp
      FROM pairs
    ),
    r AS (
      SELECT qa,
             row_number() OVER (PARTITION BY qa ORDER BY qf DESC, nb) AS rf,
             row_number() OVER (PARTITION BY qa ORDER BY qp DESC, nb) AS rp
      FROM q
    ),
    ov AS (
      SELECT qa,
             sum(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END) AS o
      FROM r GROUP BY 1
    )
    SELECT CAST(o AS BIGINT) AS overlap, count(*)::BIGINT AS n_queries
    FROM ov GROUP BY 1
"""

ORACLES["bloom_fpr_audit"] = f"""
    WITH dg AS MATERIALIZED (SELECT DISTINCT md5(text) AS d FROM documents),
    pos AS MATERIALIZED (
      SELECT DISTINCT d,
             ('0x' || substr(md5(d || ':' || i), 1, 11))::BIGINT % 4096 AS p
      FROM dg, LATERAL unnest(generate_series(0, 2)) AS t(i)
    ),
    per_pos AS MATERIALIZED (
      SELECT p, count(DISTINCT d) AS c FROM pos GROUP BY 1
    ),
    per_dg AS (
      SELECT d, min(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS fp
      FROM pos JOIN per_pos USING (p) GROUP BY 1
    ),
    agg AS (SELECT count(*) AS n, sum(fp) AS fpp FROM per_dg),
    bits AS (SELECT count(*) AS nb FROM per_pos)
    SELECT CAST(4096 AS BIGINT) AS m_bits,
           CAST(3 AS BIGINT) AS j_hashes,
           CAST(n AS BIGINT) AS n_digests,
           CAST(nb AS BIGINT) AS n_set_bits,
           {round6_ratio_sql("nb", "4096")} AS load_frac,
           CAST(fpp AS BIGINT) AS fp_prone,
           {round6_ratio_sql("fpp", "n")} AS fp_rate
    FROM agg, bits
"""

ORACLES["cross_shard_novelty"] = f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, CAST(doc_id AS BIGINT) // 100 AS sh, md5(text) AS d
      FROM documents
    ),
    firsts AS (SELECT d, min(sh) AS fs FROM base GROUP BY 1)
    SELECT CAST(sh AS BIGINT) AS shard,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN fs < sh THEN 1 ELSE 0 END)::BIGINT AS stale_docs,
           count(DISTINCT CASE WHEN fs = sh THEN base.d END)::BIGINT
             AS novel_digests,
           {round6_ratio_sql("sum(CASE WHEN fs < sh THEN 1 ELSE 0 END)", "count(*)")} AS stale_frac
    FROM base JOIN firsts USING (d)
    GROUP BY 1
"""

# Cross-family agreement = the minhash_lsh_pairs SQL verbatim (its est
# CTE kept via surgery) + the simhash fingerprint CTEs (the
# simhash_near_pairs oracle's construction with its `h` CTE renamed to
# avoid the minhash `h`), full-outer joined at pair grain.
ORACLES["near_dup_family_agreement"] = _sql_surgery(
    ORACLES["minhash_lsh_pairs"],
    "SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2",
    f""", mh AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.2),
    tok AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text),
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS t
        FROM documents
    ),
    s2h AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 11))::BIGINT AS hh FROM tok
    ),
    bits AS (
        SELECT doc_id, j.j,
               sum(CASE WHEN ((hh >> j.j) & 1) = 1 THEN 1 ELSE -1 END) AS sb
        FROM s2h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) j
        GROUP BY 1, 2
    ),
    fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN sb > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY 1
    ),
    simp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    u AS (
        SELECT (m.id_a IS NOT NULL) AS in_mh, (s.id_a IS NOT NULL) AS in_sh
        FROM mh m FULL OUTER JOIN simp s
          ON m.id_a = s.id_a AND m.id_b = s.id_b
    ),
    agg AS (
        SELECT sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS bp,
               sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END) AS mo,
               sum(CASE WHEN NOT in_mh AND in_sh THEN 1 ELSE 0 END) AS so
        FROM u
    )
    SELECT CAST(coalesce(bp, 0) AS BIGINT) AS both_pairs,
           CAST(coalesce(mo, 0) AS BIGINT) AS minhash_only,
           CAST(coalesce(so, 0) AS BIGINT) AS simhash_only,
           CASE WHEN coalesce(bp, 0) + coalesce(mo, 0) + coalesce(so, 0) > 0
                THEN {round6_ratio_sql(
                         "coalesce(bp, 0)",
                         "coalesce(bp,0)+coalesce(mo,0)+coalesce(so,0)",
                     )}
                ELSE -1.0 END AS agreement
    FROM agg""",
)

ORACLES["source_containment"] = f"""
    WITH {_SHINGLE_CTE},
    sg AS MATERIALIZED (
      SELECT DISTINCT d.source AS grp, sh.s
      FROM sh JOIN documents d USING (doc_id)
    ),
    sz AS MATERIALIZED (SELECT grp, count(*) AS z FROM sg GROUP BY 1),
    inter AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS ns
      FROM sg a JOIN sg b ON a.s = b.s AND a.grp < b.grp
      GROUP BY 1, 2
    )
    SELECT grp_a, grp_b,
           CAST(ns AS BIGINT) AS n_shared,
           CAST(za.z AS BIGINT) AS size_a,
           CAST(zb.z AS BIGINT) AS size_b,
           {round6_ratio_sql("ns", "least(za.z, zb.z)")} AS containment
    FROM inter
    JOIN sz za ON za.grp = grp_a
    JOIN sz zb ON zb.grp = grp_b
"""

ORACLES["dup_run_lengths"] = """
    WITH u AS (
      SELECT doc_id * 4 AS id, text FROM documents
      UNION ALL
      SELECT doc_id * 4 + 1, text FROM documents WHERE doc_id % 37 = 0
      UNION ALL
      SELECT doc_id * 4 + 2, text FROM documents WHERE doc_id % 111 = 0
    ),
    base AS (
      SELECT id, CAST(id AS BIGINT) // 1000 AS sh, md5(text) AS d FROM u
    ),
    flagged AS (
      SELECT sh, id, d,
             CASE WHEN lag(d) OVER w IS NULL OR lag(d) OVER w <> d
                  THEN 1 ELSE 0 END AS nw
      FROM base WINDOW w AS (PARTITION BY sh ORDER BY id)
    ),
    runs AS (
      SELECT sh, d,
             sum(nw) OVER (PARTITION BY sh ORDER BY id
                           ROWS UNBOUNDED PRECEDING) AS run
      FROM flagged
    ),
    lens AS (
      SELECT sh, run, count(*) AS run_len FROM runs GROUP BY 1, 2
    )
    SELECT CAST(run_len AS BIGINT) AS run_len,
           count(*)::BIGINT AS n_runs
    FROM lens WHERE run_len >= 2 GROUP BY 1
"""

ORACLES["minhash_scurve"] = f"""
    WITH {_CAPPED_SHINGLES_SQL},
    {_minhash_sig_sql(32, materialized=True)},
    {_AUDIT_PAIR_EQ_SQL},
    cfg AS (SELECT * FROM (VALUES (32, 1), (16, 2), (8, 4), (4, 8)) AS t(b, r)),
    bnd AS (
        SELECT c.b, c.r, e.id_a, e.id_b, e.i // c.r AS band,
               bool_and(e.eq) AS hit
        FROM eqs e CROSS JOIN cfg c
        GROUP BY 1, 2, 3, 4, 5
    ),
    cand AS (
        SELECT b, r, id_a, id_b,
               max(CASE WHEN hit THEN 1 ELSE 0 END) AS is_cand
        FROM bnd GROUP BY 1, 2, 3, 4
    ),
    {_SHARED_SHINGLES_SQL},
    jb AS MATERIALIZED (
        -- integer division: the bin boundary never touches the float
        -- grid (mirrors the Spark side's `div`)
        SELECT p.id_a, p.id_b,
               least((10 * coalesce(shn, 0))
                     // (sa.sz + sb.sz - coalesce(shn, 0)), 9) AS j_bin
        FROM prs p
        LEFT JOIN shared s ON s.id_a = p.id_a AND s.id_b = p.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
    )
    SELECT CAST(c.b AS BIGINT) AS bands,
           CAST(c.r AS BIGINT) AS rows_per_band,
           CAST(j.j_bin AS BIGINT) AS j_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_cand) AS BIGINT) AS n_cand,
           {round6_ratio_sql("sum(is_cand)", "count(*)")} AS cand_rate
    FROM cand c JOIN jb j USING (id_a, id_b)
    GROUP BY 1, 2, 3
"""

ORACLES["boilerplate_roi"] = f"""
    WITH deco AS (
      SELECT source, doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'COOKIE NOTICE: we use cookies' || chr(10)
                  ELSE '' END
             || text
             || CASE WHEN doc_id % 7 = 0
                  THEN chr(10) || 'Copyright ' || source
                       || ' all rights reserved'
                  ELSE '' END AS text
      FROM documents
    ),
    l AS (
        SELECT source AS grp, doc_id,
               unnest(string_split(text, chr(10))) AS line
        FROM deco
    ),
    ne AS (SELECT grp, doc_id, line FROM l WHERE length(trim(line)) > 0),
    h AS (
        SELECT grp, doc_id, md5(line) AS hh, length(line) AS len FROM ne
    ),
    bp AS (
        SELECT hh FROM (
            SELECT hh, count(DISTINCT doc_id) AS nd FROM h GROUP BY 1
        ) WHERE nd >= 3
    ),
    m AS (
        SELECT h.grp, h.doc_id, h.len, (bp.hh IS NOT NULL) AS isbp
        FROM h LEFT JOIN bp USING (hh)
    ),
    agg AS (
        SELECT grp,
               count(*) AS nl,
               sum(CASE WHEN isbp THEN 1 ELSE 0 END) AS bl,
               sum(len) AS nc,
               sum(CASE WHEN isbp THEN len ELSE 0 END) AS bc,
               count(DISTINCT CASE WHEN isbp THEN doc_id END) AS da
        FROM m GROUP BY 1
    ),
    srcs AS (SELECT DISTINCT source AS grp FROM documents)
    SELECT s.grp,
           CAST(coalesce(nl, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(bl, 0) AS BIGINT) AS bp_lines,
           {round6_ratio_sql("coalesce(bl, 0)", "greatest(coalesce(nl, 0), 1)")}
             AS line_share,
           CAST(coalesce(nc, 0) AS BIGINT) AS n_chars,
           CAST(coalesce(bc, 0) AS BIGINT) AS bp_chars,
           {round6_ratio_sql("coalesce(bc, 0)", "greatest(coalesce(nc, 0), 1)")}
             AS char_share,
           CAST(coalesce(da, 0) AS BIGINT) AS docs_affected
    FROM srcs s LEFT JOIN agg USING (grp)
"""

ORACLES["oov_rate"] = f"""
    WITH toks AS (
        SELECT source AS grp,
               unnest(regexp_extract_all(lower(text),
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS t
        FROM documents
    ),
    cnt AS (SELECT t, count(*) AS n FROM toks GROUP BY 1),
    vocab AS MATERIALIZED (
        -- md5 tie-break: engine-identical unconditionally (raw-string
        -- order also agrees — both engines compare UTF-8 bytes, see
        -- tests/test_string_order_probe.py — md5 just makes the
        -- tie-break collation-proof)
        SELECT t FROM (
            SELECT t, row_number() OVER (ORDER BY n DESC, md5(t)) AS rk
            FROM cnt
        ) WHERE rk <= 24
    ),
    m AS (
        SELECT grp, (vocab.t IS NOT NULL) AS inv,
               octet_length(encode(toks.t)) AS nb
        FROM toks LEFT JOIN vocab USING (t)
    ),
    agg AS (
        SELECT grp, count(*) AS nt,
               sum(CASE WHEN inv THEN 0 ELSE 1 END) AS ov,
               sum(CASE WHEN inv THEN 1 ELSE nb END) AS fb
        FROM m GROUP BY 1
    ),
    srcs AS (SELECT DISTINCT source AS grp FROM documents)
    SELECT s.grp,
           CAST(coalesce(nt, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(ov, 0) AS BIGINT) AS oov_tokens,
           {round6_ratio_sql("coalesce(ov, 0)", "greatest(coalesce(nt, 0), 1)")}
             AS oov_rate,
           CAST(coalesce(fb, 0) AS BIGINT) AS fallback_tokens,
           {round6_ratio_sql("coalesce(fb, 0)", "greatest(coalesce(nt, 0), 1)")}
             AS inflation
    FROM srcs s LEFT JOIN agg USING (grp)
"""

ORACLES["contamination_matrix"] = rf"""
    WITH {_BENCH_TRIGRAMS_SQL},
    {_CORPUS_TRIGRAMS_SQL},
    hits AS MATERIALIZED (
        SELECT DISTINCT benchmark, doc_id FROM cg JOIN bg USING (g)
    ),
    sizes AS (
        SELECT benchmark, CAST(count(*) AS BIGINT) AS sz FROM hits GROUP BY 1
    ),
    u AS (SELECT DISTINCT benchmark FROM bdocs),
    prs AS (
        SELECT a.benchmark AS bench_a, b.benchmark AS bench_b
        FROM u a JOIN u b ON a.benchmark < b.benchmark
    ),
    ovl AS (
        SELECT ha.benchmark AS bench_a, hb.benchmark AS bench_b,
               CAST(count(*) AS BIGINT) AS nb2
        FROM hits ha
        JOIN hits hb ON ha.doc_id = hb.doc_id AND ha.benchmark < hb.benchmark
        GROUP BY 1, 2
    )
    SELECT p.bench_a, p.bench_b,
           coalesce(za.sz, 0) AS n_a,
           coalesce(zb.sz, 0) AS n_b,
           coalesce(nb2, 0) AS n_both,
           CASE WHEN coalesce(za.sz, 0) + coalesce(zb.sz, 0)
                     - coalesce(nb2, 0) > 0
                THEN {round6_ratio_sql(
                         "coalesce(nb2, 0)",
                         "coalesce(za.sz, 0) + coalesce(zb.sz, 0) - coalesce(nb2, 0)",
                     )}
                ELSE 0.0 END AS jaccard
    FROM prs p
    LEFT JOIN ovl USING (bench_a, bench_b)
    LEFT JOIN sizes za ON za.benchmark = p.bench_a
    LEFT JOIN sizes zb ON zb.benchmark = p.bench_b
"""

# quant_bits_sweep: the quant_recall oracle's deq/approx stages stamped
# per level (15/63/255), sharing one exact full-precision top-k; recall
# is micro-averaged as ONE integer ratio (total hits / total slots)
_QBS_LEVEL_SQL = """
    deq{L} AS (
      SELECT vec_id,
             list_transform(range(1, len(v) + 1), i ->
               CASE WHEN hi_a[i] - lo_a[i] = 0 THEN lo_a[i]
                    ELSE lo_a[i]
                         + floor(((v[i] - lo_a[i]) / (hi_a[i] - lo_a[i])) * {L} + 0.5)
                           * (hi_a[i] - lo_a[i]) / {L}
               END) AS dv
      FROM e, packed
    ),
    a{L} AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, deq{L}.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(dv, qv), 6) DESC,
                          deq{L}.vec_id) AS rn
        FROM q CROSS JOIN deq{L} WHERE deq{L}.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    h{L} AS (
      SELECT CAST(count(*) AS BIGINT) AS h
      FROM a{L} JOIN exact USING (q_id, vec_id)
    )"""

_QBS_ROW_SQL = f"""
    SELECT CAST({{L}} AS BIGINT) AS q_levels, CAST({{B}} AS BIGINT) AS bits,
           nq AS n_queries, ne AS n_exact, h AS n_hits,
           {round6_ratio_sql("h", "greatest(ne, 1)")} AS recall
    FROM tot, h{{L}}"""

ORACLES["quant_bits_sweep"] = (
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 101 = 0
    ),
    comp AS (
      SELECT generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e
    ),
    rng AS (SELECT d, min(x) AS lo, max(x) AS hi FROM comp GROUP BY 1),
    packed AS MATERIALIZED (
      SELECT list(lo ORDER BY d) AS lo_a, list(hi ORDER BY d) AS hi_a FROM rng
    ),
    exact AS MATERIALIZED (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id) AS rn
        FROM q CROSS JOIN e WHERE vec_id <> q_id
      ) WHERE rn <= 10
    ),
    tot AS (
      SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS nq,
             CAST(count(*) AS BIGINT) AS ne
      FROM exact
    ),"""
    + ",".join(_QBS_LEVEL_SQL.format(L=L) for L in (15, 63, 255))
    + "\n    UNION ALL".join(
        _QBS_ROW_SQL.format(L=L, B=B) for L, B in ((15, 4), (63, 6), (255, 8))
    )
)

ORACLES["sig_size_sweep"] = f"""
    WITH {_CAPPED_SHINGLES_SQL},
    {_minhash_sig_sql(64, materialized=True)},
    {_AUDIT_PAIR_EQ_SQL},
    mm AS (
        SELECT c.h, e.id_a, e.id_b,
               sum(CASE WHEN e.eq AND e.i < c.h THEN 1 ELSE 0 END) AS m
        FROM eqs e CROSS JOIN (VALUES (16), (32), (64)) AS c(h)
        GROUP BY 1, 2, 3
    ),
    {_SHARED_SHINGLES_SQL},
    base AS MATERIALIZED (
        SELECT p.id_a, p.id_b,
               coalesce(shn, 0) AS shn,
               sa.sz + sb.sz - coalesce(shn, 0) AS uni,
               least((10 * coalesce(shn, 0))
                     // (sa.sz + sb.sz - coalesce(shn, 0)), 9) AS j_bin
        FROM prs p
        LEFT JOIN shared s ON s.id_a = p.id_a AND s.id_b = p.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
    ),
    errs AS (
        SELECT mm.h, b.j_bin,
               (mm.m * b.uni - b.shn * mm.h) AS num,
               (mm.h * b.uni) AS den
        FROM mm JOIN base b USING (id_a, id_b)
    ),
    qs AS (
        -- sign*floor(|num/den|*1e12 + 0.5): one int64-exact double
        -- division, bit-identical in both engines (mirrors Spark)
        SELECT h, j_bin,
               CASE WHEN num >= 0
                    THEN CAST(floor(num / den * 1000000000000.0 + 0.5) AS BIGINT)
                    ELSE -CAST(floor((-num) / den * 1000000000000.0 + 0.5) AS BIGINT)
               END AS q
        FROM errs
    )
    SELECT CAST(h AS BIGINT) AS sig_size,
           CAST(j_bin AS BIGINT) AS j_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {_ERR_STATS_SQL}
    FROM qs GROUP BY 1, 2
"""

ORACLES["instruction_detect"] = f"""
    WITH deco AS (
      SELECT source,
             CASE WHEN doc_id % 5 = 0
                  THEN 'User: how does this work?' || chr(10)
                       || 'Assistant: like this.' || chr(10)
                       || 'User: and that?' || chr(10)
                       || 'Assistant: also.' || chr(10)
                  ELSE '' END
             || CASE WHEN doc_id % 15 = 0
                  THEN '### Instruction' || chr(10) || 'do the thing' || chr(10)
                       || '### Response' || chr(10)
                       || '[INST] done [/INST]' || chr(10)
                  ELSE '' END
             || text AS raw
      FROM documents
    ),
    per AS (SELECT source AS grp, replace(raw, chr(13), '') AS body FROM deco),
    sig AS (
      SELECT grp,
        len(string_split(body, chr(10))) AS nl,
        len(list_filter(string_split(body, chr(10)),
            x -> left(x, 2) = 'Q:' OR left(x, 2) = 'A:'
                 OR left(x, 5) = 'User:' OR left(x, 10) = 'Assistant:'
                 OR left(x, 6) = 'Human:')) AS tn,
        length(body) AS ch,
        length(body) - length(replace(body, '?', '')) AS qm,
        (CASE WHEN contains(body, '### Instruction') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, '### Response') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'User:') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'Assistant:') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'Human:') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'Q:') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, 'A:') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, '[INST]') THEN 1 ELSE 0 END
         + CASE WHEN contains(body, '<|im_start|>') THEN 1 ELSE 0 END) AS kw
      FROM per
    ),
    sc AS (
      SELECT grp,
        (CASE WHEN kw >= 2 THEN 1 ELSE 0 END
         + CASE WHEN kw >= 4 THEN 1 ELSE 0 END
         + CASE WHEN tn >= 4 THEN 1 ELSE 0 END
         + CASE WHEN nl > 0 AND 100*tn >= 15*nl THEN 1 ELSE 0 END
         + CASE WHEN ch > 0 AND 100*qm >= ch THEN 1 ELSE 0 END) AS s
      FROM sig
    ),
    g AS (
      SELECT grp, count(*) AS n,
             sum(CASE WHEN s >= 3 THEN 1 ELSE 0 END) AS idc,
             sum(s) AS ss
      FROM sc GROUP BY 1
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n_docs,
           CAST(idc AS BIGINT) AS inst_docs,
           {round6_ratio_sql("idc", "n")} AS inst_frac,
           {round6_ratio_sql("ss", "n")} AS mean_score
    FROM g
"""

ORACLES["domain_mix"] = f"""
    WITH deco AS (
      SELECT source,
             {_LINK_DECO_SQL} AS t
      FROM documents
    ),
    ext AS (
      SELECT source,
             regexp_extract(t, 'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?') AS u0
      FROM deco
    ),
    hosts AS (
      SELECT source AS grp,
             lower(regexp_extract(u0, 'https?://([A-Za-z0-9.-]+)', 1)) AS host
      FROM ext WHERE u0 <> ''
    ),
    tl AS (
      SELECT grp, host, regexp_extract(host, '[^.]*$') AS tld FROM hosts
    ),
    per AS (
      SELECT grp, tld, count(*) AS nd, count(DISTINCT host) AS nh
      FROM tl GROUP BY 1, 2
    ),
    tot AS (SELECT grp, sum(nd) AS tt FROM per GROUP BY 1)
    SELECT per.grp, per.tld,
           CAST(nd AS BIGINT) AS n_docs,
           CAST(nh AS BIGINT) AS n_hosts,
           {round6_ratio_sql("nd", "tt")} AS share
    FROM per JOIN tot USING (grp)
"""

ORACLES["bpe_merge_candidates"] = r"""
    WITH words AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    wc AS (
        SELECT w, count(*) AS n FROM words WHERE length(w) > 0 GROUP BY 1
    ),
    pairs AS (
        SELECT substr(w, i, 2) AS pair, n
        FROM (SELECT * FROM wc WHERE length(w) >= 2) c,
        UNNEST(generate_series(1, length(w) - 1)) AS t(i)
    ),
    agg AS (
        SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
        FROM pairs GROUP BY 1
    ),
    top AS (
        SELECT pair, pair_count,
               row_number() OVER (ORDER BY pair_count DESC, pair) AS rk
        FROM agg
    )
    SELECT CAST(rk AS BIGINT) AS rank, pair, pair_count
    FROM top WHERE rk <= 20
"""


def _facility_oracle(k: int = 8, sample_docs: int = 64) -> str:
    """k chained greedy steps as MATERIALIZED CTEs (the iterative-CTE
    rule: every reused CTE is MATERIALIZED or DuckDB re-executes the
    whole prefix per reference)."""
    parts = [
        f"""
    WITH ids AS MATERIALIZED (
        SELECT doc_id FROM documents ORDER BY doc_id LIMIT {sample_docs}
    ),
    cw AS (
        SELECT d.doc_id,
               string_split(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')), ' ') AS ws
        FROM documents d JOIN ids USING (doc_id)
    ),
    g AS MATERIALIZED (
        SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+2], ' ')) AS gg
        FROM cw, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)
    )"""
    ]
    for i in range(1, k + 1):
        not_sel = (
            f"doc_id NOT IN (SELECT doc_id FROM sel{i - 1})" if i > 1 else "TRUE"
        )
        not_cov = (
            f"gg NOT IN (SELECT gg FROM c{i - 1})" if i > 1 else "TRUE"
        )
        parts.append(
            f""",
    p{i} AS MATERIALIZED (
        SELECT doc_id, gain FROM (
            SELECT s.doc_id, coalesce(q.cnt, 0) AS gain
            FROM (SELECT doc_id FROM ids WHERE {not_sel}) s
            LEFT JOIN (
                SELECT doc_id, count(*) AS cnt FROM g
                WHERE {not_cov} AND {not_sel}
                GROUP BY 1
            ) q USING (doc_id)
        ) ORDER BY gain DESC, doc_id LIMIT 1
    ),
    sel{i} AS MATERIALIZED (
        {"SELECT doc_id FROM sel" + str(i - 1) + " UNION " if i > 1 else ""}SELECT doc_id FROM p{i}
    ),
    c{i} AS MATERIALIZED (
        SELECT DISTINCT gg FROM g WHERE doc_id IN (SELECT doc_id FROM sel{i})
    )"""
        )
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, CAST(doc_id AS BIGINT) AS doc_id,"
        f" CAST(gain AS BIGINT) AS gain,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM c{i}) AS covered FROM p{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n    " + rows


ORACLES["facility_select"] = _facility_oracle(8, 64)

ORACLES["vocab_size_sweep"] = f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text),
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS t
        FROM documents
    ),
    cnt AS (SELECT t, count(*) AS n FROM toks GROUP BY 1),
    rk AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY n DESC, md5(t)) AS rk, n,
               octet_length(encode(t)) AS nb
        FROM cnt
    ),
    vs AS (SELECT * FROM (VALUES (4), (12), (24)) AS v(vocab_size)),
    agg AS (
        SELECT vocab_size,
               sum(CASE WHEN rk <= vocab_size THEN 1 ELSE 0 END) AS vt,
               sum(n) AS nt,
               sum(CASE WHEN rk <= vocab_size THEN 0 ELSE n END) AS ov,
               sum(CASE WHEN rk <= vocab_size THEN n ELSE n * nb END) AS fb
        FROM vs CROSS JOIN rk GROUP BY 1
    )
    SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
           CAST(coalesce(vt, 0) AS BIGINT) AS vocab_types,
           CAST(coalesce(nt, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(ov, 0) AS BIGINT) AS oov_tokens,
           {round6_ratio_sql("coalesce(ov, 0)", "greatest(coalesce(nt, 0), 1)")}
             AS oov_rate,
           CAST(coalesce(fb, 0) AS BIGINT) AS fallback_tokens,
           {round6_ratio_sql("coalesce(fb, 0)", "greatest(coalesce(nt, 0), 1)")}
             AS inflation
    FROM vs v LEFT JOIN agg USING (vocab_size)
"""

ORACLES["dump_overlap"] = f"""
    WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE (doc_id + 1000000) % 5 = 0
    ),
    base AS MATERIALIZED (
        SELECT DISTINCT (doc_id // 25) % 3 AS dp, md5(text) AS d FROM docs
    ),
    sizes AS (SELECT dp, count(*) AS n FROM base GROUP BY 1),
    sh AS (
        SELECT a.dp AS dump_a, b.dp AS dump_b, count(*) AS s
        FROM base a JOIN base b USING (d)
        WHERE a.dp < b.dp GROUP BY 1, 2
    ),
    spine AS (
        SELECT x.dump_a, y.dump_b
        FROM (SELECT unnest(range(3)) AS dump_a) x,
             (SELECT unnest(range(3)) AS dump_b) y
        WHERE x.dump_a < y.dump_b
    )
    SELECT CAST(p.dump_a AS BIGINT) AS dump_a,
           CAST(p.dump_b AS BIGINT) AS dump_b,
           CAST(coalesce(na.n, 0) AS BIGINT) AS n_a,
           CAST(coalesce(nb.n, 0) AS BIGINT) AS n_b,
           CAST(coalesce(sh.s, 0) AS BIGINT) AS shared,
           {round6_ratio_sql(
               "coalesce(sh.s, 0)",
               "greatest(coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(sh.s, 0), 1)",
           )} AS jaccard
    FROM spine p
    LEFT JOIN sh ON sh.dump_a = p.dump_a AND sh.dump_b = p.dump_b
    LEFT JOIN sizes na ON na.dp = p.dump_a
    LEFT JOIN sizes nb ON nb.dp = p.dump_b
"""

ORACLES["license_audit"] = f"""
    WITH deco AS (
        SELECT source AS grp,
               lower(
                   CASE WHEN doc_id % 4 = 0
                        THEN 'SPDX-License-Identifier: MIT' || chr(10) || 'MIT License' || chr(10)
                        ELSE '' END
                   || text
                   || CASE WHEN doc_id % 6 = 0
                           THEN chr(10) || 'Copyright 2024 ' || source || '. All rights reserved.'
                           ELSE '' END
                   || CASE WHEN doc_id % 9 = 0
                           THEN chr(10) || 'AI policy: do not train. noai'
                           ELSE '' END
               ) AS low
        FROM documents
    ),
    panel AS (
        SELECT grp,
               CASE WHEN contains(low, 'spdx-license-identifier:') THEN 1 ELSE 0 END AS spdx,
               CASE WHEN contains(low, 'copyright') OR contains(low, '©') THEN 1 ELSE 0 END AS cr,
               CASE WHEN contains(low, 'mit license') OR contains(low, 'apache license')
                    OR contains(low, 'bsd license') OR contains(low, 'creative commons')
                    OR contains(low, 'public domain') THEN 1 ELSE 0 END AS perm,
               CASE WHEN contains(low, 'all rights reserved') OR contains(low, 'proprietary')
                    OR contains(low, 'confidential') THEN 1 ELSE 0 END AS restr,
               CASE WHEN contains(low, 'do not train') OR contains(low, 'noai') THEN 1 ELSE 0 END AS opt
        FROM deco
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(spdx) AS BIGINT) AS n_spdx,
           CAST(sum(cr) AS BIGINT) AS n_copyright,
           CAST(sum(perm) AS BIGINT) AS n_permissive,
           CAST(sum(restr) AS BIGINT) AS n_restrictive,
           CAST(sum(opt) AS BIGINT) AS n_optout,
           {round6_ratio_sql("sum(restr)", "count(*)")}
             AS restrictive_share,
           {round6_ratio_sql("sum(opt)", "count(*)")}
             AS optout_share
    FROM panel GROUP BY 1
"""

ORACLES["unimax_alloc"] = f"""
    WITH toks AS (
        SELECT lang AS grp,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS t
        FROM documents
    ),
    per AS (
        SELECT grp, sum(t) AS avail_tokens FROM toks GROUP BY 1
        HAVING sum(t) >= 1
    ),
    tot AS (SELECT 2 * sum(avail_tokens) AS B, count(*) AS L FROM per),
    base AS (
        SELECT grp, avail_tokens, 3 * avail_tokens AS cap_tokens, B, L
        FROM per CROSS JOIN tot
    ),
    pre AS MATERIALIZED (
        SELECT *,
               row_number() OVER w AS rk,
               coalesce(sum(cap_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
        FROM base
        WINDOW w AS (ORDER BY cap_tokens ASC, grp ASC)
    ),
    flagged AS MATERIALIZED (
        SELECT *,
               CASE WHEN cap_tokens * (L - rk + 1) <= B - cprev THEN 1 ELSE 0 END AS capped
        FROM pre
    ),
    totals AS (
        SELECT sum(capped) AS t_capped,
               sum(CASE WHEN capped = 1 THEN cap_tokens ELSE 0 END) AS csum
        FROM flagged
    )
    SELECT grp,
           CAST(avail_tokens AS BIGINT) AS avail_tokens,
           CAST(cap_tokens AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN capped = 1 THEN cap_tokens
                     ELSE (B - csum) // (L - t_capped)
                          + CASE WHEN rk - t_capped <= (B - csum) % (L - t_capped)
                                 THEN 1 ELSE 0 END
                END AS BIGINT) AS alloc_tokens,
           CAST(capped AS BIGINT) AS capped,
           {round6_ratio_sql(
               "CASE WHEN capped = 1 THEN cap_tokens ELSE (B - csum) // (L - t_capped) + CASE WHEN rk - t_capped <= (B - csum) % (L - t_capped) THEN 1 ELSE 0 END END",
               "avail_tokens",
           )} AS epochs
    FROM flagged CROSS JOIN totals
"""

ORACLES["simhash_radius_sweep"] = rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text),
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS t
        FROM documents
    ),
    {_SIMHASH_BITS_SQL},
    fp AS MATERIALIZED (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY 1
    ),
    ham AS (
        SELECT bit_count(xor(a.simhash, b.simhash)) AS radius
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
    ),
    hist AS (SELECT radius, count(*) AS n FROM ham GROUP BY 1),
    spine AS (SELECT unnest(generate_series(0, 5)) AS radius)
    SELECT CAST(s.radius AS BIGINT) AS radius,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_pairs,
           CAST(sum(coalesce(h.n, 0)) OVER (ORDER BY s.radius
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs
    FROM spine s LEFT JOIN hist h ON h.radius = s.radius
"""


def _pq_oracle(m_list=(2, 4, 8), n_codes=16, dim=64, k=10) -> str:
    """PQ recall oracle: per m, encode each vector per subspace as the
    max-rounded-cosine code (ties to lowest code — mirrors Spark's
    first-max array_position), reconstruct, re-rank, micro-average."""
    import math

    head = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 101 = 0
    ),
    cb AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) AS code, v AS cv
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings ORDER BY vec_id LIMIT {nc})
    ),
    exact AS MATERIALIZED (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id) AS rn
        FROM q CROSS JOIN e WHERE vec_id <> q_id
      ) WHERE rn <= {k}
    ),
    tot AS (
      SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS nq,
             CAST(count(*) AS BIGINT) AS ne
      FROM exact
    )""".format(nc=n_codes, k=k)
    blocks = []
    rows = []
    for m in m_list:
        sub = dim // m
        blocks.append("""
    enc{m} AS MATERIALIZED (
      SELECT vec_id, j, code FROM (
        SELECT e.vec_id, j.j AS j, cb.code,
               row_number() OVER (PARTITION BY e.vec_id, j.j
                 ORDER BY round(list_cosine_similarity(
                     e.v[j.j*{sub}+1 : (j.j+1)*{sub}],
                     cb.cv[j.j*{sub}+1 : (j.j+1)*{sub}]), 6) DESC,
                 cb.code ASC) AS rn
        FROM e
        CROSS JOIN (SELECT unnest(generate_series(0, {mm})) AS j) j
        CROSS JOIN cb
      ) WHERE rn = 1
    ),
    recon{m} AS MATERIALIZED (
      SELECT enc.vec_id,
             flatten(list(cb.cv[enc.j*{sub}+1 : (enc.j+1)*{sub}] ORDER BY enc.j)) AS rv
      FROM enc{m} enc JOIN cb USING (code)
      GROUP BY 1
    ),
    approx{m} AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, r.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(r.rv, q.qv), 6) DESC,
                 r.vec_id) AS rn
        FROM q CROSS JOIN recon{m} r WHERE r.vec_id <> q.q_id
      ) WHERE rn <= {k}
    ),
    hit{m} AS (
      SELECT CAST(count(*) AS BIGINT) AS h
      FROM approx{m} JOIN exact USING (q_id, vec_id)
    )""".format(m=m, sub=sub, mm=m - 1, k=k))
        rows.append(
            "SELECT CAST({m} AS BIGINT) AS m_subspaces,"
            " CAST({bits} AS BIGINT) AS code_bits,"
            " nq AS n_queries, ne AS n_exact, h AS n_hits,"
            " {recall} AS recall"
            " FROM tot, hit{m}".format(
                m=m,
                bits=m * int(math.log2(n_codes)),
                recall=round6_ratio_sql("h", "greatest(ne, 1)"),
            )
        )
    return head + "," + ",".join(blocks) + "\n    " + "\n    UNION ALL ".join(rows)


ORACLES["pq_recall"] = _pq_oracle((2, 4, 8), 16, 64, 10)


def _bpe_chain_oracle(iters: int = 3) -> str:
    """Chained-merge BPE oracle: enc{i} -> pair counts -> 1-row best
    -> literal-replace re-encode, every reused CTE MATERIALIZED (the
    iterative-CTE rule). An empty best{i} empties every later enc via
    its CROSS JOIN, mirroring the Spark loop's break."""
    head = r"""
    WITH words AS (
        SELECT replace(replace(unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')),
                       chr(1), ''), chr(2), '') AS w
        FROM documents
    ),
    wc AS (SELECT w, count(*) AS n FROM words WHERE length(w) > 0 GROUP BY 1),
    enc1 AS MATERIALIZED (
        SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS e, n FROM wc
    )"""
    parts = [head]
    for i in range(1, iters + 1):
        parts.append(""",
    pr{i} AS MATERIALIZED (
        SELECT s[j] AS a, s[j + 1] AS b, sum(n) AS c
        FROM (
            SELECT list_transform(
                       list_filter(string_split(e, chr(2)), x -> x <> ''),
                       x -> replace(x, chr(1), '')) AS s,
                   n
            FROM enc{i}
        ), UNNEST(generate_series(1, len(s) - 1)) AS t(j)
        GROUP BY 1, 2
    ),
    best{i} AS MATERIALIZED (
        SELECT a, b, c FROM pr{i} ORDER BY c DESC, a, b LIMIT 1
    ),
    enc{j} AS MATERIALIZED (
        SELECT replace(e, chr(1) || bb.a || chr(2) || chr(1) || bb.b || chr(2),
                       chr(1) || bb.a || bb.b || chr(2)) AS e, n
        FROM enc{i} CROSS JOIN best{i} bb
    )""".format(i=i, j=i + 1))
    rows = "\n    UNION ALL ".join(
        "SELECT CAST({i} AS BIGINT) AS step, a AS left_sym, b AS right_sym,"
        " a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM best{i}".format(i=i)
        for i in range(1, iters + 1)
    )
    return "".join(parts) + "\n    " + rows


ORACLES["bpe_merge_chain"] = _bpe_chain_oracle(3)


def _temp_sweep_oracle(budget: int = 1000) -> str:
    """Per-alpha instantiation of the temperature_mix oracle; w is
    1.0 / sqrt(share) / share for alpha 0 / 0.5 / 1 (all IEEE-exact)."""
    block = f"""
    w{{pct}} AS (
      SELECT name, n,
             {round6_ratio_sql("n", "total")} AS share,
             {{wexpr}} AS w
      FROM counts, tot
    ),
    ws{{pct}} AS (SELECT sum(w) AS ws FROM w{{pct}}),
    pl{{pct}} AS (
      SELECT name, n, share,
             round(w / ws, 6) AS p_target,
             round({{budget}} * w / ws, 6) AS raw
      FROM w{{pct}}, ws{{pct}}
    ),
    ba{{pct}} AS (
      SELECT name, n, share, p_target,
             CAST(floor(raw) AS BIGINT) AS b,
             raw - floor(raw) AS frac
      FROM pl{{pct}}
    ),
    sh{{pct}} AS (SELECT {{budget}} - sum(b) AS s FROM ba{{pct}}),
    rk{{pct}} AS (
      SELECT ba{{pct}}.*, s,
             row_number() OVER (ORDER BY frac DESC, name) AS rk
      FROM ba{{pct}}, sh{{pct}}
    )"""
    rows = f"""SELECT CAST({{pct}} AS BIGINT) AS alpha_pct, name,
           CAST(n AS BIGINT) AS n, share, p_target,
           CAST(b + CASE WHEN rk <= s THEN 1 ELSE 0 END AS BIGINT) AS target_n,
           CAST(least(b + CASE WHEN rk <= s THEN 1 ELSE 0 END, n) AS BIGINT) AS feasible_n,
           {round6_ratio_sql(
               "least(b + CASE WHEN rk <= s THEN 1 ELSE 0 END, n)",
               "n",
           )} AS sample_rate
    FROM rk{{pct}}"""
    wexprs = {0: "1.0", 50: "sqrt(n * 1.0 / total)", 100: "n * 1.0 / total"}
    head = """
    WITH counts AS (
      SELECT lang AS name, count(*) AS n FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM counts)"""
    return (
        head
        + ","
        + ",".join(block.format(pct=p, wexpr=w, budget=budget) for p, w in wexprs.items())
        + "\n    "
        + "\n    UNION ALL ".join(rows.format(pct=p) for p in wexprs)
    )


ORACLES["temperature_sweep"] = _temp_sweep_oracle(1000)


def _contam_sweep_oracle(ns=(2, 3, 4)) -> str:
    block = r"""
    g{n} AS (
        SELECT doc_id, unnest(gs) AS g FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(ws) - {n1}, 1)),
                       i -> array_to_string(ws[i:i+{n1}], ' '))) AS gs
            FROM cw
        )
    ),
    bg{n} AS MATERIALIZED (SELECT DISTINCT g FROM g{n} WHERE doc_id < 3),
    ov{n} AS (
        SELECT count(DISTINCT doc_id) AS cd, count(*) AS og
        FROM g{n} JOIN bg{n} USING (g)
    )"""
    rows = f"""SELECT CAST({{n}} AS BIGINT) AS ngram_n,
           CAST(nd AS BIGINT) AS n_docs,
           CAST(cd AS BIGINT) AS contaminated_docs,
           {round6_ratio_sql("cd", "greatest(nd, 1)")} AS contaminated_share,
           CAST(og AS BIGINT) AS overlap_grams
    FROM tot, ov{{n}}"""
    head = r"""
    WITH cw AS MATERIALIZED (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        FROM documents
    ),
    tot AS (SELECT count(*) AS nd FROM documents)"""
    return (
        head
        + ","
        + ",".join(block.format(n=n, n1=n - 1) for n in ns)
        + "\n    "
        + "\n    UNION ALL ".join(rows.format(n=n) for n in ns)
    )


ORACLES["contamination_ngram_sweep"] = _contam_sweep_oracle((2, 3, 4))

ORACLES["prototypicality"] = f"""
    WITH {_kmeans_sql()},
    {_km_assign_sql(3, a_cols="id, cid, round(dist, 6) AS d6", mat="MATERIALIZED ")},
    q6 AS (
      SELECT cid AS cluster_id, id, d6,
             CAST(floor(d6 * 1000000.0 + 0.5) AS BIGINT) AS m6,
             row_number() OVER (PARTITION BY cid ORDER BY d6, id) AS rk,
             count(*) OVER (PARTITION BY cid) AS n
      FROM a3
    ),
    p20 AS (
      SELECT cluster_id, d6 AS p20_dist FROM q6
      WHERE rk = greatest(1, n // 5)
    ),
    agg AS (
      SELECT cluster_id,
             CAST(count(*) AS BIGINT) AS n_vecs,
             sum(m6) AS msum,
             min(d6) AS min_dist,
             max(d6) AS max_dist
      FROM q6 GROUP BY 1
    )
    SELECT CAST(a.cluster_id AS BIGINT) AS cluster_id,
           n_vecs,
           {round6_ratio_dec_sql("msum", "n_vecs * 1000000")}
             AS mean_dist,
           p20_dist,
           min_dist,
           max_dist
    FROM agg a JOIN p20 USING (cluster_id)
"""

ORACLES["minhash_len_bias"] = f"""
    WITH {_CAPPED_SHINGLES_SQL},
    {_minhash_sig_sql(32, materialized=True)},
    prs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
    ),
    mm AS (
        SELECT p.id_a, p.id_b,
               sum(CASE WHEN sa.hv = sb.hv THEN 1 ELSE 0 END) AS m
        FROM prs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b AND sb.i = sa.i
        GROUP BY 1, 2
    ),
    {_SHARED_SHINGLES_SQL},
    base AS MATERIALIZED (
        SELECT p.id_a, p.id_b,
               coalesce(shn, 0) AS shn,
               sa.sz + sb.sz - coalesce(shn, 0) AS uni,
               least(least(sa.sz, sb.sz) // 32, 7) AS len_bin
        FROM prs p
        LEFT JOIN shared s ON s.id_a = p.id_a AND s.id_b = p.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
    ),
    errs AS (
        SELECT b.len_bin,
               (mm.m * b.uni - b.shn * 32) AS num,
               (32 * b.uni) AS den
        FROM mm JOIN base b USING (id_a, id_b)
    ),
    qs AS (
        SELECT len_bin,
               CASE WHEN num >= 0
                    THEN CAST(floor(num / den * 1000000000000.0 + 0.5) AS BIGINT)
                    ELSE -CAST(floor((-num) / den * 1000000000000.0 + 0.5) AS BIGINT)
               END AS q
        FROM errs
    )
    SELECT CAST(len_bin AS BIGINT) AS len_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {_ERR_STATS_SQL}
    FROM qs GROUP BY 1
"""

ORACLES["lsh_br_planner"] = f"""
    WITH {_CAPPED_SHINGLES_SQL},
    {_SHARED_SHINGLES_SQL},
    prs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
    ),
    base AS MATERIALIZED (
        SELECT coalesce(shn, 0) AS shn,
               sa.sz + sb.sz - coalesce(shn, 0) AS uni
        FROM prs p
        LEFT JOIN shared s ON s.id_a = p.id_a AND s.id_b = p.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
    ),
    allq AS (
        SELECT 32 AS bands, 1 AS rows_per_band,
               floor((1.0 / 32) * 1000000 + 0.5) / 1000000.0 AS t_star,
               CASE WHEN 100 * shn >= 10 * uni THEN 1 ELSE 0 END AS pos,
               shn / uni AS s1, 1.0 - s1 AS u1, u1 * u1 AS u2,
               u2 * u2 AS u4, u4 * u4 AS u8, u8 * u8 AS u16,
               u16 * u16 AS u32, 1.0 - u32 AS p,
               CAST(floor(p * 1000000000000.0 + 0.5) AS BIGINT) AS q
        FROM base
        UNION ALL
        SELECT 16, 2,
               floor(sqrt(1.0 / 16) * 1000000 + 0.5) / 1000000.0,
               CASE WHEN 100 * shn >= 10 * uni THEN 1 ELSE 0 END,
               shn / uni AS s1, s1 * s1 AS s2, 1.0 - s2 AS u1,
               u1 * u1 AS u2, u2 * u2 AS u4, u4 * u4 AS u8,
               u8 * u8 AS u16, 1.0 - u16 AS p,
               CAST(floor(p * 1000000000000.0 + 0.5) AS BIGINT)
        FROM base
        UNION ALL
        SELECT 8, 4,
               floor(sqrt(sqrt(1.0 / 8)) * 1000000 + 0.5) / 1000000.0,
               CASE WHEN 100 * shn >= 10 * uni THEN 1 ELSE 0 END,
               shn / uni AS s1, s1 * s1 AS s2, s2 * s2 AS s4,
               1.0 - s4 AS u1, u1 * u1 AS u2, u2 * u2 AS u4,
               u4 * u4 AS u8, 1.0 - u8 AS p,
               CAST(floor(p * 1000000000000.0 + 0.5) AS BIGINT)
        FROM base
        UNION ALL
        SELECT 4, 8,
               floor(sqrt(sqrt(sqrt(1.0 / 4))) * 1000000 + 0.5) / 1000000.0,
               CASE WHEN 100 * shn >= 10 * uni THEN 1 ELSE 0 END,
               shn / uni AS s1, s1 * s1 AS s2, s2 * s2 AS s4,
               s4 * s4 AS s8, 1.0 - s8 AS u1, u1 * u1 AS u2,
               u2 * u2 AS u4, 1.0 - u4 AS p,
               CAST(floor(p * 1000000000000.0 + 0.5) AS BIGINT)
        FROM base
    ),
    agg AS (
        SELECT bands, rows_per_band, t_star,
               count(*) AS nn,
               sum(pos) AS n_pos,
               sum(CASE WHEN pos = 1 THEN q ELSE 0 END) AS q_pos,
               sum(CASE WHEN pos = 0 THEN q ELSE 0 END) AS q_neg
        FROM allq GROUP BY 1, 2, 3
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           t_star,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(nn - n_pos AS BIGINT) AS n_neg,
           CASE WHEN nn - n_pos > 0
                THEN {round6_ratio_dec_sql("q_neg", "(nn - n_pos) * 1000000000000")}
                ELSE 0.0 END AS fp_mass,
           CASE WHEN n_pos > 0
                THEN {round6_ratio_dec_sql(
                         "n_pos * 1000000000000 - q_pos",
                         "n_pos * 1000000000000",
                     )}
                ELSE 0.0 END AS fn_mass,
           {round6_ratio_dec_sql(
               "q_neg + n_pos * 1000000000000 - q_pos",
               "nn * 1000000000000",
           )} AS miss_mass
    FROM agg
"""

ORACLES["readability_scores"] = f"""
    WITH norm AS (
        SELECT source,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
        FROM documents
    ),
    cnt AS (
        SELECT source,
               CASE WHEN n = '' THEN 0
                    ELSE len(string_split(n, ' ')) END AS w,
               greatest(len(regexp_extract_all(n, '[.!?]+')), 1) AS s,
               len(regexp_extract_all(n, '[aeiouy]+')) AS y,
               length(regexp_replace(n, '[^a-z0-9]', '', 'g')) AS c
        FROM norm
    ),
    agg AS (
        SELECT source AS g, count(*) AS n_docs,
               sum(w)::BIGINT AS words, sum(s)::BIGINT AS sentences,
               sum(y)::BIGINT AS syll_runs, sum(c)::BIGINT AS alnum_chars
        FROM cnt WHERE w >= 1 GROUP BY 1
    ),
    scored AS (
        SELECT g, n_docs, words, sentences, syll_runs, alnum_chars,
               206835::HUGEINT * sentences * words
                 - 1015::HUGEINT * words * words
                 - 84600::HUGEINT * sentences * syll_runs AS fnum,
               1000::HUGEINT * sentences * words AS fden,
               39::HUGEINT * words * words
                 + 1180::HUGEINT * sentences * syll_runs
                 - 1559::HUGEINT * sentences * words AS knum,
               100::HUGEINT * sentences * words AS kden,
               471::HUGEINT * alnum_chars * sentences
                 + 50::HUGEINT * words * words
                 - 2143::HUGEINT * words * sentences AS anum,
               100::HUGEINT * words * sentences AS aden
        FROM agg
    )
    SELECT g AS "group",
           CAST(n_docs AS BIGINT) AS n_docs,
           words, sentences, syll_runs, alnum_chars,
           {round6_ratio_sql("words", "sentences")} AS wps,
           {round6_ratio_sql("syll_runs", "words")} AS spw,
           {round6_ratio_dec_signed_sql("fnum", "fden")} AS flesch_re,
           {round6_ratio_dec_signed_sql("knum", "kden")} AS fk_grade,
           {round6_ratio_dec_signed_sql("anum", "aden")} AS ari
    FROM scored
"""

ORACLES["kcenter_coreset"] = """
    WITH base AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings ORDER BY vec_id LIMIT 64
    ),
    sel1 AS MATERIALIZED (
        SELECT id, v FROM base WHERE id = (SELECT min(id) FROM base)
    ),
    d2 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel1 s
        WHERE b.id NOT IN (SELECT id FROM sel1)
        GROUP BY b.id
    ),
    p2 AS MATERIALIZED (SELECT id, m6 FROM d2 ORDER BY m6 DESC, id LIMIT 1),
    sel2 AS MATERIALIZED (
        SELECT * FROM sel1
        UNION ALL SELECT b.id, b.v FROM base b JOIN p2 USING (id)
    ),
    d3 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel2 s
        WHERE b.id NOT IN (SELECT id FROM sel2)
        GROUP BY b.id
    ),
    p3 AS MATERIALIZED (SELECT id, m6 FROM d3 ORDER BY m6 DESC, id LIMIT 1),
    sel3 AS MATERIALIZED (
        SELECT * FROM sel2
        UNION ALL SELECT b.id, b.v FROM base b JOIN p3 USING (id)
    ),
    d4 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel3 s
        WHERE b.id NOT IN (SELECT id FROM sel3)
        GROUP BY b.id
    ),
    p4 AS MATERIALIZED (SELECT id, m6 FROM d4 ORDER BY m6 DESC, id LIMIT 1),
    sel4 AS MATERIALIZED (
        SELECT * FROM sel3
        UNION ALL SELECT b.id, b.v FROM base b JOIN p4 USING (id)
    ),
    d5 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel4 s
        WHERE b.id NOT IN (SELECT id FROM sel4)
        GROUP BY b.id
    ),
    p5 AS MATERIALIZED (SELECT id, m6 FROM d5 ORDER BY m6 DESC, id LIMIT 1),
    sel5 AS MATERIALIZED (
        SELECT * FROM sel4
        UNION ALL SELECT b.id, b.v FROM base b JOIN p5 USING (id)
    ),
    d6 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel5 s
        WHERE b.id NOT IN (SELECT id FROM sel5)
        GROUP BY b.id
    ),
    p6 AS MATERIALIZED (SELECT id, m6 FROM d6 ORDER BY m6 DESC, id LIMIT 1),
    sel6 AS MATERIALIZED (
        SELECT * FROM sel5
        UNION ALL SELECT b.id, b.v FROM base b JOIN p6 USING (id)
    ),
    d7 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel6 s
        WHERE b.id NOT IN (SELECT id FROM sel6)
        GROUP BY b.id
    ),
    p7 AS MATERIALIZED (SELECT id, m6 FROM d7 ORDER BY m6 DESC, id LIMIT 1),
    sel7 AS MATERIALIZED (
        SELECT * FROM sel6
        UNION ALL SELECT b.id, b.v FROM base b JOIN p7 USING (id)
    ),
    d8 AS MATERIALIZED (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel7 s
        WHERE b.id NOT IN (SELECT id FROM sel7)
        GROUP BY b.id
    ),
    p8 AS MATERIALIZED (SELECT id, m6 FROM d8 ORDER BY m6 DESC, id LIMIT 1),
    sel8 AS MATERIALIZED (
        SELECT * FROM sel7
        UNION ALL SELECT b.id, b.v FROM base b JOIN p8 USING (id)
    ),
    dfin AS (
        SELECT b.id,
               CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(b.v, s.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)) * 1000000.0 + 0.5) AS BIGINT) AS m6
        FROM base b CROSS JOIN sel8 s
        WHERE b.id NOT IN (SELECT id FROM sel8)
        GROUP BY b.id
    ),
    trace AS (
        SELECT 1 AS step, id AS vec_id, 0.0 AS radius FROM sel1
        UNION ALL
        SELECT 2 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p2
        UNION ALL
        SELECT 3 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p3
        UNION ALL
        SELECT 4 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p4
        UNION ALL
        SELECT 5 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p5
        UNION ALL
        SELECT 6 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p6
        UNION ALL
        SELECT 7 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p7
        UNION ALL
        SELECT 8 AS step, id AS vec_id, m6 / 1000000.0 AS radius FROM p8
        UNION ALL
        SELECT (SELECT count(*) FROM sel8) + 1 AS step,
               -1 AS vec_id,
               coalesce(max(m6), 0) / 1000000.0 AS radius
        FROM dfin
        HAVING (SELECT count(*) FROM base) > 0
    )
    SELECT CAST(step AS BIGINT) AS step,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(radius AS DOUBLE) AS radius
    FROM trace ORDER BY step
"""

ORACLES["hits_scores"] = f"""
    WITH
    {_session_steps_sql("prs")},
    edges AS MATERIALIZED (
      SELECT from_type AS s, to_type AS t2, count(*) AS w
      FROM prs WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (SELECT s AS node FROM edges UNION SELECT t2 FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    h0 AS MATERIALIZED (
      SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS h FROM nodes
    ),
    ar1 AS (
      SELECT t2, sum(h.h * w) AS v
      FROM edges JOIN h0 h ON edges.s = h.node GROUP BY 1
    ),
    at1 AS (SELECT coalesce(sum(v), CAST(0 AS DOUBLE)) AS tt FROM ar1),
    a1 AS MATERIALIZED (
      SELECT node,
             CASE WHEN (SELECT tt FROM at1) > 0
                  THEN coalesce(v, CAST(0 AS DOUBLE)) / (SELECT tt FROM at1)
                  ELSE CAST(0 AS DOUBLE) END AS a
      FROM nodes LEFT JOIN ar1 ON nodes.node = ar1.t2
    ),
    hr1 AS (
      SELECT s, sum(a.a * w) AS v
      FROM edges JOIN a1 a ON edges.t2 = a.node GROUP BY 1
    ),
    ht1 AS (SELECT coalesce(sum(v), CAST(0 AS DOUBLE)) AS tt FROM hr1),
    h1 AS MATERIALIZED (
      SELECT node,
             CASE WHEN (SELECT tt FROM ht1) > 0
                  THEN coalesce(v, CAST(0 AS DOUBLE)) / (SELECT tt FROM ht1)
                  ELSE CAST(0 AS DOUBLE) END AS h
      FROM nodes LEFT JOIN hr1 ON nodes.node = hr1.s
    ),
    ar2 AS (
      SELECT t2, sum(h.h * w) AS v
      FROM edges JOIN h1 h ON edges.s = h.node GROUP BY 1
    ),
    at2 AS (SELECT coalesce(sum(v), CAST(0 AS DOUBLE)) AS tt FROM ar2),
    a2 AS MATERIALIZED (
      SELECT node,
             CASE WHEN (SELECT tt FROM at2) > 0
                  THEN coalesce(v, CAST(0 AS DOUBLE)) / (SELECT tt FROM at2)
                  ELSE CAST(0 AS DOUBLE) END AS a
      FROM nodes LEFT JOIN ar2 ON nodes.node = ar2.t2
    ),
    hr2 AS (
      SELECT s, sum(a.a * w) AS v
      FROM edges JOIN a2 a ON edges.t2 = a.node GROUP BY 1
    ),
    ht2 AS (SELECT coalesce(sum(v), CAST(0 AS DOUBLE)) AS tt FROM hr2),
    h2 AS MATERIALIZED (
      SELECT node,
             CASE WHEN (SELECT tt FROM ht2) > 0
                  THEN coalesce(v, CAST(0 AS DOUBLE)) / (SELECT tt FROM ht2)
                  ELSE CAST(0 AS DOUBLE) END AS h
      FROM nodes LEFT JOIN hr2 ON nodes.node = hr2.s
    )
    SELECT a2.node AS node,
           {round6_bridge_sql("a")} AS authority,
           {round6_bridge_sql("h")} AS hub
    FROM a2 JOIN h2 ON a2.node = h2.node
"""

ORACLES["mattr_diversity"] = f"""
    WITH norm AS (
        SELECT source,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
        FROM documents
    ),
    toks AS MATERIALIZED (
        SELECT source AS g, string_split(n, ' ') AS tk
        FROM norm WHERE n <> ''
    ),
    segs AS (
        SELECT g,
               len(list_distinct(list_slice(tk, (i - 1) * 25 + 1, i * 25))) AS d
        FROM toks,
             unnest(generate_series(1, len(tk) // 25)) AS u(i)
    ),
    seg_agg AS (
        SELECT g, count(*) AS n_segs, sum(d)::BIGINT AS seg_distinct_sum
        FROM segs GROUP BY 1
    ),
    vol AS (
        SELECT g, count(*) AS n_docs, sum(len(tk))::BIGINT AS n_tokens
        FROM toks GROUP BY 1
    ),
    types AS (
        SELECT g, count(DISTINCT t) AS n_types
        FROM (SELECT g, unnest(tk) AS t FROM toks) GROUP BY 1
    )
    SELECT v.g AS "group",
           CAST(n_docs AS BIGINT) AS n_docs,
           n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           {round6_ratio_sql("n_types", "n_tokens")} AS ttr,
           CAST(n_segs AS BIGINT) AS n_segs,
           seg_distinct_sum,
           {round6_ratio_sql("seg_distinct_sum", "n_segs * 25")} AS msttr
    FROM vol v
    JOIN types ty ON ty.g = v.g
    JOIN seg_agg s ON s.g = v.g
"""

ORACLES["data_constrained_epochs"] = f"""
    WITH norm AS (
        SELECT source,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
        FROM documents
    ),
    per AS MATERIALIZED (
        SELECT source AS g, sum(len(string_split(n, ' ')))::BIGINT AS u
        FROM norm WHERE n <> '' GROUP BY 1
        HAVING sum(len(string_split(n, ' '))) >= 1
    ),
    tot AS (SELECT sum(u)::BIGINT AS tt, count(*)::BIGINT AS ng FROM per),
    alloc AS (
        SELECT 1 AS mult, g, u,
               (tt * 1) // ng AS b
        FROM per CROSS JOIN tot
        UNION ALL
        SELECT 4 AS mult, g, u,
               (tt * 4) // ng AS b
        FROM per CROSS JOIN tot
        UNION ALL
        SELECT 16 AS mult, g, u,
               (tt * 16) // ng AS b
        FROM per CROSS JOIN tot
    ),
    scored AS (
        SELECT mult, g, u, b,
               CASE WHEN b > u
                    THEN u + (u * CAST(15.39 AS DOUBLE))
                         * (1.0 - exp(-(((b - u) * 100) / (u * 1539))))
                    ELSE CAST(b AS DOUBLE) END AS eff
        FROM alloc
    )
    SELECT CAST(mult AS BIGINT) AS mult,
           g AS "group",
           u AS u_tokens,
           b AS budget,
           {round6_ratio_sql("b", "u")} AS epochs,
           round(eff, 6) AS eff_tokens,
           CASE WHEN b >= 1 THEN round(eff / b, 6) ELSE 0.0 END AS value_ratio
    FROM scored
"""

ORACLES["ndcg_sessions"] = f"""
    WITH {_us_sessions_sql("event_type, epoch_us(ts) AS us, event_id", "us")},
    posd AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY us, event_id) AS pos,
             CASE WHEN event_type = 'click' THEN 1
                  WHEN event_type = 'purchase' THEN 3
                  WHEN event_type = 'signup' THEN 2
                  ELSE 0 END AS rel
      FROM sess
    ),
    per_sess AS MATERIALIZED (
      SELECT user_id, sid,
             list_slice(list(rel ORDER BY us, event_id), 1, 10) AS byrank,
             list_slice(list_sort(list(rel ORDER BY us, event_id), 'DESC'),
                        1, 10) AS ideal,
             max(rel) AS maxr,
             min(CASE WHEN pos = 1 THEN event_type END) AS entry_type
      FROM posd GROUP BY 1, 2
    ),
    scored AS (
      SELECT entry_type,
             CASE WHEN maxr = 0 THEN 0
                  ELSE CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(byrank, [CAST(1.0 AS DOUBLE), CAST(0.6309297535714575 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.43067655807339306 AS DOUBLE), CAST(0.38685280723454163 AS DOUBLE), CAST(0.3562071871080222 AS DOUBLE), CAST(0.3333333333333333 AS DOUBLE), CAST(0.31546487678572877 AS DOUBLE), CAST(0.3010299956639812 AS DOUBLE), CAST(0.2890648263178879 AS DOUBLE)]), z -> coalesce(z[1] * z[2], CAST(0.0 AS DOUBLE)))), (x, y) -> x + y)
                                   / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(ideal, [CAST(1.0 AS DOUBLE), CAST(0.6309297535714575 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.43067655807339306 AS DOUBLE), CAST(0.38685280723454163 AS DOUBLE), CAST(0.3562071871080222 AS DOUBLE), CAST(0.3333333333333333 AS DOUBLE), CAST(0.31546487678572877 AS DOUBLE), CAST(0.3010299956639812 AS DOUBLE), CAST(0.2890648263178879 AS DOUBLE)]), z -> coalesce(z[1] * z[2], CAST(0.0 AS DOUBLE)))), (x, y) -> x + y))
                                  * 1000000000000.0 + 0.5) AS BIGINT)
             END AS q,
             CASE WHEN maxr = 0 THEN 1 ELSE 0 END AS norel
      FROM per_sess
    )
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(norel) AS BIGINT) AS n_norel,
           {round6_ratio_dec_sql(
               "sum(q)::HUGEINT",
               "count(*)::HUGEINT * 1000000000000",
           )} AS mean_ndcg
    FROM scored GROUP BY 1
"""

ORACLES["value_precision_audit"] = f"""
    WITH base AS (
        SELECT event_type AS g,
               {cents_sql("value")} AS c
        FROM events WHERE value IS NOT NULL
    ),
    flags AS (
        SELECT g,
               ((c % 10) + 10) % 10 AS d,
               CASE WHEN ((c % 100) + 100) % 100 = 0 THEN 1 ELSE 0 END AS i100,
               CASE WHEN ((c % 10) + 10) % 10 = 0 THEN 1 ELSE 0 END AS i10,
               CASE WHEN ((c % 100) + 100) % 100 = 99 THEN 1 ELSE 0 END AS i99
        FROM base
    ),
    per_digit AS (
        SELECT g, d, count(*) AS nd,
               sum(i100)::BIGINT AS ni, sum(i10)::BIGINT AS ndime,
               sum(i99)::BIGINT AS n99
        FROM flags GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY g ORDER BY nd DESC, d ASC) AS rk
        FROM per_digit
    ),
    agg AS (
        SELECT g, sum(nd)::BIGINT AS n, sum(ni)::BIGINT AS int_n,
               sum(ndime)::BIGINT AS dime_n, sum(n99)::BIGINT AS c99_n
        FROM per_digit GROUP BY 1
    ),
    top AS (SELECT g, d AS top_digit, nd AS top_n FROM ranked WHERE rk = 1)
    SELECT a.g AS "group",
           n,
           {round6_ratio_sql("int_n", "n")} AS share_int,
           {round6_ratio_sql("dime_n", "n")} AS share_dime,
           {round6_ratio_sql("c99_n", "n")} AS share_99,
           CAST(top_digit AS BIGINT) AS top_digit,
           {round6_ratio_sql("top_n", "n")} AS top_digit_share
    FROM agg a JOIN top t ON t.g = a.g
"""

ORACLES["good_turing_mass"] = f"""
    WITH norm AS (
        SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
        FROM documents
    ),
    toks AS (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(ws) - 2, 1)),
                   i -> array_to_string(ws[i:i+2], ' '))) AS t
        FROM (SELECT string_split(n, ' ') AS ws FROM norm WHERE n <> '')
    ),
    counts AS MATERIALIZED (SELECT t, count(*) AS c FROM toks GROUP BY 1),
    ff AS MATERIALIZED (SELECT c, count(*)::BIGINT AS nr FROM counts GROUP BY 1),
    tot AS (SELECT sum(c)::BIGINT AS nn, count(*)::BIGINT AS v FROM counts),
    n1 AS (
        SELECT coalesce(sum(CASE WHEN c = 1 THEN nr END), 0)::BIGINT AS h
        FROM ff
    ),
    body AS (
        SELECT CAST(f.c AS BIGINT) AS r,
               f.nr AS n_r,
               {round6_ratio_sql("f.c * f.nr", "t.nn")} AS mass_share,
               {round6_ratio_sql("(f.c + 1) * coalesce(f2.nr, 0)", "f.nr")} AS r_star
        FROM ff f
        LEFT JOIN ff f2 ON f2.c = f.c + 1
        CROSS JOIN tot t
        WHERE f.c <= 5
    ),
    unseen AS (
        SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r,
               {round6_ratio_sql("n1.h", "t.nn")}
                   AS mass_share,
               0.0 AS r_star
        FROM tot t CROSS JOIN n1
        WHERE t.nn >= 1
    )
    SELECT r, n_r, mass_share, CAST(r_star AS DOUBLE) AS r_star FROM unseen
    UNION ALL
    SELECT r, n_r, mass_share, r_star FROM body
"""

ORACLES["cluster_stability_ari"] = f"""
    WITH RECURSIVE
    ids AS MATERIALIZED (
        SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 64
    ),
    norm AS (
        SELECT d.doc_id, regexp_replace(lower(d.text), '\\s+', ' ', 'g') AS n
        FROM documents d JOIN ids ON ids.id = d.doc_id
    ),
    idx AS (
        SELECT doc_id, n,
               unnest(generate_series(1, greatest(length(n) - 7, 1))) AS i
        FROM norm
    ),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(n, i, 8) AS s FROM idx),
    {_shingle_overlap_sql(materialized=True)},
    plo AS (
        SELECT id_a, id_b FROM shared
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} >= 0.06
    ),
    elo AS (
        SELECT id_a AS a, id_b AS b FROM plo
        UNION
        SELECT id_b, id_a FROM plo
    ),
    reachlo(node, r) AS (
        SELECT a, a FROM elo
        UNION
        SELECT e.a, rr.r FROM elo e JOIN reachlo rr ON e.b = rr.node
    ),
    lablo AS MATERIALIZED (
        SELECT i.id, coalesce(m.lbl, i.id) AS l
        FROM ids i
        LEFT JOIN (SELECT node, min(r) AS lbl FROM reachlo GROUP BY 1) m
               ON m.node = i.id
    ),
    phi AS (
        SELECT id_a, id_b FROM shared
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE {round6_ratio_sql("shared", "sa.sz + sb.sz - shared")} >= 0.1
    ),
    ehi AS (
        SELECT id_a AS a, id_b AS b FROM phi
        UNION
        SELECT id_b, id_a FROM phi
    ),
    reachhi(node, r) AS (
        SELECT a, a FROM ehi
        UNION
        SELECT e.a, rr.r FROM ehi e JOIN reachhi rr ON e.b = rr.node
    ),
    labhi AS MATERIALIZED (
        SELECT i.id, coalesce(m.lbl, i.id) AS l
        FROM ids i
        LEFT JOIN (SELECT node, min(r) AS lbl FROM reachhi GROUP BY 1) m
               ON m.node = i.id
    ),
    allp AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM ids a JOIN ids b ON a.id < b.id
    ),
    flags AS (
        SELECT CASE WHEN la.l = lb.l THEN 1 ELSE 0 END AS tl,
               CASE WHEN ha.l = hb.l THEN 1 ELSE 0 END AS th
        FROM allp p
        JOIN lablo la ON la.id = p.id_a
        JOIN lablo lb ON lb.id = p.id_b
        JOIN labhi ha ON ha.id = p.id_a
        JOIN labhi hb ON hb.id = p.id_b
    ),
    cnt AS (
        SELECT count(*)::BIGINT AS cc,
               sum(tl * th)::BIGINT AS a,
               sum(tl * (1 - th))::BIGINT AS b,
               sum((1 - tl) * th)::BIGINT AS c
        FROM flags
    ),
    ncl AS (
        SELECT (SELECT count(DISTINCT l) FROM lablo)::BIGINT AS n_clusters_lo,
               (SELECT count(DISTINCT l) FROM labhi)::BIGINT AS n_clusters_hi
    ),
    nd AS (SELECT count(*)::BIGINT AS n_docs FROM ids)
    SELECT n_docs, n_clusters_lo, n_clusters_hi,
           a AS together_both,
           b AS together_lo_only,
           c AS together_hi_only,
           cc - a - b - c AS together_neither,
           {round6_ratio_sql("cc - b - c", "cc")}
               AS rand_index,
           CASE WHEN cc * (2 * a + b + c) - 2 * (a + b) * (a + c) > 0
                THEN {round6_ratio_signed_sql(
                         "2 * cc * a - 2 * (a + b) * (a + c)",
                         "cc * (2 * a + b + c) - 2 * (a + b) * (a + c)",
                     )}
                ELSE 1.0 END AS ari
    FROM nd CROSS JOIN ncl CROSS JOIN cnt
"""

ORACLES["participation_ratio"] = f"""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
        SELECT i.i, j.j, v.v[i.i] * v.v[j.j] AS p
        FROM v,
             unnest(generate_series(1, len(v.v))) AS i(i),
             unnest(generate_series(1, len(v.v))) AS j(j)
    ),
    cells AS (
        SELECT i, j,
               sum(CASE WHEN p >= 0
                        THEN  CAST(floor( p * 1000000.0 + 0.5) AS BIGINT)
                        ELSE -CAST(floor(-p * 1000000.0 + 0.5) AS BIGINT)
                   END) AS s
        FROM pairs GROUP BY 1, 2
    ),
    agg AS (
        SELECT sum(CASE WHEN i = j THEN s ELSE 0 END)::HUGEINT AS tr,
               sum(s::HUGEINT * s::HUGEINT) AS fro2
        FROM cells
    ),
    meta AS (
        SELECT count(*)::BIGINT AS n_vecs, max(len(v))::BIGINT AS dims FROM v
    )
    SELECT n_vecs, dims,
           CASE WHEN fro2 > 0
                THEN {round6_ratio_dec_sql("tr * tr", "fro2")}
                ELSE 0.0 END AS pr,
           CASE WHEN fro2 > 0
                THEN {round6_ratio_dec_sql("tr * tr", "fro2 * dims")}
                ELSE 0.0 END AS pr_norm
    FROM meta CROSS JOIN agg
    WHERE n_vecs >= 1
"""











