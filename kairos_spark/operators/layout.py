"""Data-layout operators: space-filling-curve keys for multi-column
locality.

A single sort column gives perfect pruning on one dimension and none
on the other; a Z-order (Morton) key interleaves the bits of two
dimensions so rows close in EITHER dimension land close in the sort
order — the layout trick behind Delta/Iceberg Z-ordering, here as an
explicit column expression you can sort/bucket/range-partition by.
Writing the long table sorted by a (name, time) Morton key keeps both
per-name scans AND time-range scans pruning well at 100 TB, where a
lexicographic (name, time) sort only serves the first.

Everything is integer bit math in whole-stage codegen — no UDFs, no
shuffle; the stats operator adds one hash aggregate over the derived
bucket."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from kairos_spark.exact import _round6_ratio


def morton_z(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into a 2*bits-bit Morton (Z-order) key: x occupies the even
    output bits, y the odd. Callers clamp/bucket their dimensions into
    [0, 2^bits) first (e.g. ``% 65536``)."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a + b, terms).cast("long")


def zorder_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    step_sec: int = 3600,
    bits: int = 16,
    bucket_shift: int = 22,
) -> DataFrame:
    """Locality audit of a (key, time-bucket) Morton layout: compute
    the Z key for every row, coarsen it to a file-sized range
    (``z >> bucket_shift`` — each bucket is a contiguous run of the
    Z curve, i.e. one file/row-group under a Z-sorted write), and
    report per bucket how many rows, distinct keys, and distinct time
    buckets it holds plus the time span. Tight per-bucket key/time
    ranges = both dimensions prune; this is how you CHECK a layout
    choice instead of guessing it.

    Scale shape: the Z key is a map-side projection; the only shuffle
    is the per-bucket aggregate (2^(2*bits - bucket_shift) groups max,
    partial-aggregated)."""
    x = (F.col(key_col) % (1 << bits)).cast("long")
    y = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec).cast("long") % (1 << bits)
    )
    z = morton_z(x, y, bits)
    return (
        df.select(
            F.shiftright(z, bucket_shift).cast("long").alias("z_bucket"),
            F.col(key_col).alias("__k"),
            F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec)
            .cast("long")
            .alias("__h"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("__k").alias("n_keys"),
            F.count_distinct("__h").alias("n_hours"),
            (F.max("__h") - F.min("__h")).alias("hour_span"),
        )
    )


def zonemap_prune_audit(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    chunk_rows: int = 64,
    lo: float = 0.0,
    hi: float = 0.0,
) -> DataFrame:
    """Zone-map (min/max statistics) pruning effectiveness audit: chunk
    the table two ways — natural order (by ``id_col``, standing in for
    ingestion order) and sorted by ``sort_col`` — compute each chunk's
    [min, max] of ``sort_col``, and count the chunks a range predicate
    ``lo <= x <= hi`` could SKIP. This is the number that justifies a
    layout rewrite: parquet/Delta/Iceberg file skipping only prunes
    when the sort key clusters values into files, and this audit
    measures exactly how much a re-sort would buy for a given
    predicate before anyone pays for the rewrite. Returns one row per
    layout: (layout, n_chunks, n_pruned, prune_rate).

    Scale shape: each layout needs one global row_number to simulate
    chunk assignment (at real scale the chunk id comes free from the
    file layout itself — the window here is audit plumbing), then a
    chunk-grain min/max aggregation. Chunk stats, not rows, drive the
    final counts."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(sort_col).cast("double").alias("__x"), F.col(id_col).alias("__id")
    )
    rows = None
    for layout, order in (
        ("natural", [F.col("__id")]),
        ("sorted", [F.col("__x"), F.col("__id")]),
    ):
        chunk = F.floor(
            (F.row_number().over(Window.orderBy(*order)) - 1) / chunk_rows
        ).cast("long")
        stats = (
            base.select("__x", chunk.alias("__c"))
            .groupBy("__c")
            .agg(F.min("__x").alias("__lo"), F.max("__x").alias("__hi"))
        )
        agg = stats.agg(
            F.lit(layout).alias("layout"),
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(
                F.when((F.col("__hi") < lo) | (F.col("__lo") > hi), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pruned"),
        ).select(
            "layout",
            "n_chunks",
            "n_pruned",
            _round6_ratio(F.col("n_pruned"), F.col("n_chunks")).alias(
                "prune_rate"
            ),
        )
        rows = agg if rows is None else rows.union(agg)
    return rows


def shard_balance(
    df: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Hash-shard balance audit: assign every document to
    md5(id) mod ``n_shards`` — the writer layout a 100-TB corpus ships
    as — and report how even the shards come out in BOTH grains that
    matter (documents per shard for task counts, tokens per shard for
    task runtimes). A skewed shard is the straggler that decides the
    wall-clock of every downstream full scan.

    Returns ONE row: (n_shards, n_empty_shards, n_docs, n_tokens,
    max_shard_tokens, min_shard_tokens, doc_chi2, token_chi2,
    token_imbalance) where chi2 is Pearson's statistic against the
    uniform layout — exact rational (N*sum(n_i^2) - T^2) / T — and
    token_imbalance = n_shards * max_shard_tokens / n_tokens (1.0 =
    perfectly even).

    Exactness: all counts are integers; the chi2 numerators pass the
    BIGINT*2e6 product ceiling at corpus scale (N * sum(tok_i^2) is
    count-squared), so both ratios route through the DECIMAL(38,0)
    helper; min/max include EMPTY shards via a generated shard spine.

    Scale shape: one map-side-combined aggregate to ``n_shards`` rows,
    then scalar math; the spine is ``n_shards`` literals."""
    from kairos_spark.exact import _round6_ratio_dec
    from kairos_spark.operators.text import agree_lower

    per_doc = df.select(
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 11), 16, 10
            ).cast("long")
            % n_shards
        ).alias("shard"),
        F.size(
            F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
        )
        .cast("long")
        .alias("__t"),
    )
    per_shard = per_doc.groupBy("shard").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("__t").cast("long").alias("nt"),
    )
    spine = per_shard.sparkSession.range(n_shards).select(
        F.col("id").alias("shard")
    )
    full = spine.join(per_shard, "shard", "left").select(
        "shard",
        F.coalesce(F.col("nd"), F.lit(0)).alias("nd"),
        F.coalesce(F.col("nt"), F.lit(0)).alias("nt"),
    )
    agg = full.agg(
        F.lit(int(n_shards)).cast("long").alias("n_shards"),
        F.sum(F.when(F.col("nd") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_empty_shards"),
        F.sum("nd").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.max("nt").cast("long").alias("max_shard_tokens"),
        F.min("nt").cast("long").alias("min_shard_tokens"),
        F.sum(F.col("nd").cast("decimal(38,0)") * F.col("nd")).alias("__snd2"),
        F.sum(F.col("nt").cast("decimal(38,0)") * F.col("nt")).alias("__snt2"),
    )
    # chi2 numerators multiply in DECIMAL(38,0) BEFORE the ratio helper:
    # N * sum(nt^2) in LONG would ANSI-overflow at corpus scale (the
    # per-shard sum-of-squares is already count-squared)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return agg.select(
        "n_shards",
        "n_empty_shards",
        "n_docs",
        "n_tokens",
        "max_shard_tokens",
        "min_shard_tokens",
        _round6_ratio_dec(
            dec(F.col("n_shards")) * dec(F.col("__snd2"))
            - dec(F.col("n_docs")) * dec(F.col("n_docs")),
            F.greatest(F.col("n_docs"), F.lit(1)),
        ).alias("doc_chi2"),
        _round6_ratio_dec(
            dec(F.col("n_shards")) * dec(F.col("__snt2"))
            - dec(F.col("n_tokens")) * dec(F.col("n_tokens")),
            F.greatest(F.col("n_tokens"), F.lit(1)),
        ).alias("token_chi2"),
        _round6_ratio_dec(
            dec(F.col("n_shards")) * dec(F.col("max_shard_tokens")),
            F.greatest(F.col("n_tokens"), F.lit(1)),
        ).alias("token_imbalance"),
    )
