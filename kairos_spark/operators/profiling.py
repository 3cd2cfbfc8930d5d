"""Data-profiling operators: key-distribution diagnostics and count
pivots.

Neither exists in the reference (kairos profiles nothing; SURVEY.md
§2.4 lists no grouping-set/reshape operators), but both are standing
tools for running THIS engine at 100 TB: ``key_distribution`` is how
you decide whether a join/groupBy key needs salting before you burn a
cluster-day discovering it, and ``pivot_counts`` is the wide activity
matrix (bucket × category) that dashboards and feature pipelines read.

Scale shape:
- key_distribution is two chained hash aggregates — (group, key) then
  (group) — both with map-side partial aggregation. The first shuffle
  moves at most |group × key| partial rows; the second moves |group|.
  Raw rows never shuffle. Entropy/HHI fold per-key probabilities with
  plain double sums (few-thousand terms per group: association error
  ~1e-15, far inside the round-6 contract).
- pivot_counts with an EXPLICIT category list is one hash aggregate —
  each CASE-sum is a column, so the shuffle carries one row per bucket
  with |categories| longs. Never call it category-discovering
  (``df.pivot(col)`` without values) at scale: that adds a blocking
  distinct scan before the plan can even be built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kairos_spark.exact import (
    _cents,
    _round6_bridge,
    _round6_ratio,
    _round6_ratio_dec,
    _round6_ratio_dec_signed,
    _round6_ratio_signed,
)


def key_distribution(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-group key-skew diagnostics: row count, distinct keys, the
    hottest key's share, Shannon entropy (nats) of the key
    distribution, and the Herfindahl–Hirschman concentration index.

    Reading it: top_share near 1 or HHI near 1 ⇒ one key dominates —
    a groupBy/join on this key will bottleneck on one task (salt it,
    or let AQE skew-join split it); entropy near ln(n_keys) ⇒ uniform,
    shuffle-safe.
    """
    per_key = df.groupBy(group_col, key_col).agg(F.count("*").alias("__c"))
    # Aggregate in one pass: Σc, max c, count keys, Σ c·ln c. With
    # p_i = c_i/N:  entropy = ln N − Σ c·ln c / N;  HHI = Σ c² / N².
    # This avoids a second window/join to get N before the fold.
    return (
        per_key.groupBy(group_col)
        .agg(
            F.sum("__c").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("__c").alias("top_key_n"),
            F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clnc"),
            # Σc² in DECIMAL(38,0): a single hot key past ~3e9 rows
            # would overflow the BIGINT square, and the HHI ratio's 2e6
            # scaling needs the decimal path anyway (ADVICE-r6 class)
            F.sum(
                F.col("__c").cast("decimal(38,0)") * F.col("__c")
            ).alias("__c2"),
        )
        .select(
            F.col(group_col).alias("name"),
            "n_rows",
            "n_keys",
            _round6_ratio(F.col("top_key_n"), F.col("n_rows")).alias("top_share"),
            F.round(
                F.log(F.col("n_rows")) - F.col("__clnc") / F.col("n_rows"), 6
            ).alias("entropy"),
            _round6_ratio_dec(
                F.col("__c2"),
                F.col("n_rows").cast("decimal(38,0)") * F.col("n_rows"),
            ).alias("hhi"),
        )
    )


def pivot_counts(
    df: DataFrame,
    category_col: str = "event_type",
    categories: list[str] | None = None,
    ts_col: str = "ts",
    step_sec: int = 3600,
    prefix: str = "n_",
) -> DataFrame:
    """Bucket × category count matrix: one row per time bucket, one
    ``{prefix}{category}`` column per category, values = event counts
    (0-filled). The long→wide reshape every activity dashboard wants.

    ``categories`` MUST be passed at scale: an explicit list makes this
    a single aggregate of CASE-sums with a statically-known schema. If
    omitted, the list is discovered with a distinct scan first —
    correct, but adds a blocking job (and an unstable schema), so the
    discovering form is for exploration only.
    """
    if categories is None:
        categories = [
            r[0] for r in df.select(category_col).distinct().orderBy(category_col).collect()
        ]
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec).cast("long") * step_sec
    aggs = [
        F.sum(F.when(F.col(category_col) == c, 1).otherwise(0)).alias(f"{prefix}{c}")
        for c in categories
    ]
    return df.groupBy(bucket.alias("i_time")).agg(*aggs)


def unpivot_counts(
    df: DataFrame,
    id_cols: list[str] | None = None,
    prefix: str = "n_",
    category_name: str = "name",
    value_name: str = "n",
    drop_zeros: bool = True,
) -> DataFrame:
    """Wide→long melt, the inverse of ``pivot_counts``: every
    ``{prefix}*`` column becomes a (category, value) row pair; the
    prefix is stripped back off the category. With ``drop_zeros`` the
    round trip pivot→unpivot reproduces the original long counts
    exactly (the pivot 0-filled the holes; the melt removes them).

    Scale shape: unpivot is a map-only Expand (|categories| output rows
    per input row, no shuffle) — the symmetric cost of the pivot's
    CASE-sums. Melting is cheap; it is the PIVOT that needed the
    explicit category list."""
    if id_cols is None:
        id_cols = [c for c in df.columns if not c.startswith(prefix)]
    value_cols = [c for c in df.columns if c.startswith(prefix)]
    out = df.unpivot(id_cols, value_cols, category_name, value_name)
    out = out.withColumn(
        category_name, F.col(category_name).substr(F.lit(len(prefix) + 1), F.lit(2048))
    )
    if drop_zeros:
        out = out.where(F.col(value_name) != 0)
    return out


def distribution_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    bins: int = 10,
) -> DataFrame:
    """Population-stability-index drift between the first and second
    half of the time range, per group: bin the value column into
    ``bins`` equal-width buckets over the GLOBAL min/max, compare each
    group's early vs late bin distribution with
    PSI = sum_bins (q2 - q1) * ln(q2 / q1) (add-one smoothed so empty
    bins stay finite). Rule of thumb: PSI < 0.1 stable, > 0.25 the
    upstream distribution moved — the standard data-quality tripwire
    between pipeline runs.

    A group whose rows all fall in ONE time half is omitted from the
    output (the early/late inner join produces no row for it): PSI
    against an empty half is ill-defined, and a group that only exists
    in one half is a presence change, not a drift — detect those with
    snapshot_diff, not PSI.

    Everything reduces before it shuffles: the global (min, max,
    mid-time) scalars are one 1-row aggregate broadcast back; binning
    is a map-side projection; the only data shuffle is the
    (group, half, bin) count — at most |groups| x 2 x bins rows after
    map-side combine. The PSI fold then runs over 2 x bins aggregated
    rows per group. Split/edges use exact integer microseconds and
    identical IEEE double ops so an independent engine reproduces
    every bin assignment."""
    scal = df.agg(
        F.min(F.col(value_col).cast("double")).alias("__vmin"),
        F.max(F.col(value_col).cast("double")).alias("__vmax"),
        # floor, not cast: Spark's double→long cast truncates while
        # DuckDB's rounds — floor() is identical in both engines (the
        # micros sum is < 2^53, so the double is exact)
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid"),
    )
    v = F.col(value_col).cast("double")
    width = (F.col("__vmax") - F.col("__vmin")) / bins
    bin_ = F.when(width <= 0, F.lit(0)).otherwise(
        F.least(F.floor((v - F.col("__vmin")) / width), F.lit(bins - 1))
    ).cast("long")
    half = F.when(F.unix_micros(F.col(ts_col)) <= F.col("__mid"), 1).otherwise(2)
    counts = (
        df.crossJoin(F.broadcast(scal))
        .select(F.col(group_col).alias("name"), half.alias("__h"), bin_.alias("__bin"))
        .groupBy("name", "__h", "__bin")
        .agg(F.count("*").alias("__c"))
    )
    tot = counts.groupBy("name", "__h").agg(F.sum("__c").alias("__n"))
    # dense bins per (name, half): left join counts onto the full grid so
    # empty bins contribute their smoothed mass
    grid = (
        tot.select("name", "__h", "__n")
        .crossJoin(F.broadcast(
            df.sparkSession.range(bins).select(F.col("id").alias("__bin"))
        ))
    )
    dense = grid.join(counts, ["name", "__h", "__bin"], "left").select(
        "name",
        "__h",
        "__bin",
        "__n",
        ((F.coalesce(F.col("__c"), F.lit(0)) + 1) / (F.col("__n") + bins)).alias("__q"),
    )
    q1 = dense.where(F.col("__h") == 1).select(
        "name", "__bin", F.col("__q").alias("__q1"), F.col("__n").alias("n_first")
    )
    q2 = dense.where(F.col("__h") == 2).select(
        "name", "__bin", F.col("__q").alias("__q2"), F.col("__n").alias("n_second")
    )
    per_bin = q1.join(q2, ["name", "__bin"]).select(
        "name",
        "n_first",
        "n_second",
        ((F.col("__q2") - F.col("__q1")) * F.log(F.col("__q2") / F.col("__q1"))).alias("__term"),
    )
    return per_bin.groupBy("name", "n_first", "n_second").agg(
        # F.round(F.sum) exempt: (q2-q1)*ln(q2/q1) terms are
        # full-precision doubles — midpoint measure zero (CLAUDE.md)
        F.round(F.sum("__term"), 6).alias("psi")
    )


def mad_outliers(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier scoring per group via median absolute deviation:
    a value is an outlier when |v - median| > k * 1.4826 * MAD (1.4826
    scales MAD to sigma-equivalent under normality). Unlike the z-score
    path, one wild value cannot inflate its own threshold — the
    breakdown point is 50%, which is why data-quality gates prefer MAD
    over stddev on untrusted feeds.

    Exactness: medians are exact interpolated percentiles (Spark
    ``percentile`` = DuckDB ``quantile_cont``), so every number here is
    engine-reproducible. Scale note: exact percentiles sort per group
    — at 100 TB swap in ``percentile_approx`` (same plan shape, fixed
    sketch memory) and accept approximate medians; the operator keeps
    the exact form because this is the audited-correctness path.

    Shape: two grouped percentile aggregates with a broadcast join
    between (groups are small); one final count aggregate. Raw rows
    shuffle once per aggregate on the group key."""
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    med = df.groupBy(g.alias("name")).agg(
        F.expr(f"percentile(CAST({value_col} AS DOUBLE), 0.5)").alias("__med")
    )
    j1 = df.select(g.alias("name"), v.alias("__v")).join(F.broadcast(med), "name")
    mad = j1.groupBy("name").agg(
        F.expr("percentile(abs(__v - __med), 0.5)").alias("__mad"),
        F.first("__med").alias("__med2"),
    )
    j2 = df.select(g.alias("name"), v.alias("__v")).join(F.broadcast(mad), "name")
    flagged = j2.select(
        "name",
        "__med2",
        "__mad",
        (F.abs(F.col("__v") - F.col("__med2")) > k * 1.4826 * F.col("__mad")).cast(
            "int"
        ).alias("__out"),
    )
    return flagged.groupBy("name").agg(
        F.count("*").alias("n"),
        F.round(F.first("__med2"), 6).alias("median"),
        F.round(F.first("__mad"), 6).alias("mad"),
        F.sum("__out").cast("long").alias("n_outliers"),
        _round6_ratio(F.sum("__out"), F.count("*")).alias("outlier_frac"),
    )


def schema_profile(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """One-pass column profile: per column, row count, null count and
    rate, exact distinct count, and min/max rendered as strings (so
    heterogeneous column types share one output schema). The first
    query run against ANY new table — nullability and cardinality
    decide join strategies, bucketing keys, and whether a column can
    partition.

    Cross-engine note (probed r9): Java renders doubles in E-notation
    outside [1e-3, 1e7) ('1.0E-4', '1.0E7') where DuckDB stays plain
    far longer ('0.0001', '10000000.0') — keep double/timestamp
    columns out of any min/max string that an oracle must reproduce
    (q_schema_profile profiles int/string columns only for exactly
    this reason).

    Scale shape: all per-column aggregates evaluate in ONE aggregate
    pass over the data (no per-column scans); the count_distinct terms
    make it a multi-distinct Expand plan — at 100 TB swap those for
    approx_count_distinct (same single-pass shape, sketch state)."""
    columns = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_null"),
            _round6_ratio(F.col(f"__null_{c}"), F.col("__n")).alias("null_rate"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_str"),
            F.col(f"__max_{c}").alias("max_str"),
        )
        for c in columns
    ]
    return one.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def fk_conformance(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    fk_name: str,
) -> DataFrame:
    """Referential-integrity audit for one foreign key: how many child
    rows, how many dangle (no matching parent), and how many distinct
    orphan key values — the conformance gate a pipeline runs after
    every load before letting joins assume the key holds.

    Scale shape: the anti join shuffles only the key columns of both
    sides (child projected to its key first); counts aggregate to one
    row. Orphan DETAIL is deliberately not returned — at scale you
    re-run the anti join with payload only after this summary says
    n_orphans > 0."""
    ck = child.select(F.col(child_key).alias("__k"))
    pk = parent.select(F.col(parent_key).alias("__k")).distinct()
    orphans = ck.join(pk, "__k", "left_anti")
    totals = ck.agg(F.count("*").alias("n_child"))
    bad = orphans.agg(
        F.count("*").alias("n_orphans"),
        F.count_distinct("__k").alias("n_orphan_keys"),
    )
    return (
        totals.crossJoin(F.broadcast(bad))
        .select(
            F.lit(fk_name).alias("fk"),
            "n_child",
            "n_orphans",
            "n_orphan_keys",
            # greatest(.., 1): an empty child table must report rate 0,
            # not NULL (no-NULL output invariant)
            _round6_ratio(
                F.col("n_orphans"), F.greatest(F.col("n_child"), F.lit(1))
            ).alias("orphan_rate"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Dataset-version diff: classify every key across two snapshots as
    added / removed / changed / unchanged and count each class — the
    audit a training pipeline runs between crawl snapshots before
    deciding whether downstream caches and dedup state can be reused.
    "Changed" compares an md5 digest over ``compare_cols`` (cast to
    string, unit-separator joined), not the full payload equality, so
    wide rows diff at digest cost. Columns with NULLs: concat_ws skips
    them, so NULL and '' collide — digest columns should be non-null
    (or coalesce them explicitly first).

    Scale shape: each side reduces to (key, digest) before the full
    outer join — two short-row shuffles on the key, one count
    aggregate of 4 groups. Payloads never move."""
    sep = "\x1f"

    def keyed(df: DataFrame, side: str) -> DataFrame:
        digest = F.md5(
            F.concat_ws(sep, *[F.col(c).cast("string") for c in compare_cols])
        )
        return df.select(
            F.col(key_col).alias("__k"), digest.alias(f"__d_{side}")
        )

    j = keyed(old, "old").join(keyed(new, "new"), "__k", "full_outer")
    status = (
        F.when(F.col("__d_old").isNull(), F.lit("added"))
        .when(F.col("__d_new").isNull(), F.lit("removed"))
        .when(F.col("__d_old") != F.col("__d_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.groupBy(status.alias("status")).agg(F.count("*").alias("n_keys"))


def fd_check(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Functional-dependency audit: for each candidate (lhs → rhs)
    column pair, does every lhs value map to exactly one rhs value?
    Output per pair: distinct lhs count, distinct (lhs, rhs) count,
    the number of violating lhs values (those with >1 rhs), and
    whether the FD holds. Schema-discovery bread and butter — FDs
    decide which columns are denormalizable, which "id" columns are
    actually keys, and which joins cannot fan out.

    Scale shape: per pair, one distinct-pair aggregate then one lhs
    aggregate — both map-side combinable, shuffling only the pair's
    columns. Pairs evaluate independently and union at the end."""
    outs = []
    for lhs, rhs in pairs:
        per_lhs = (
            df.select(F.col(lhs).alias("__l"), F.col(rhs).alias("__r"))
            .distinct()
            .groupBy("__l")
            .agg(F.count("*").alias("__nr"))
        )
        outs.append(
            per_lhs.agg(
                F.lit(f"{lhs}->{rhs}").alias("fd"),
                F.count("*").alias("n_lhs"),
                F.sum("__nr").cast("long").alias("n_pairs"),
                F.sum((F.col("__nr") > 1).cast("long")).alias("n_violating"),
                (F.sum((F.col("__nr") > 1).cast("long")) == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def tile_summary(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_tiles: int = 10,
) -> DataFrame:
    """Quantile-tile (decile) assignment summary: rank rows by value
    (ties broken by id for determinism), NTILE them into ``n_tiles``
    even groups, and summarize each tile — n rows, min/max/sum of the
    value. The segmentation cut every "top decile of customers"
    analysis starts from.

    Scale note: NTILE needs a TOTAL order — this plans a single-
    partition sort, which is fine for dimension-sized inputs (the
    intended use: per-entity aggregates, not raw events). For
    fact-scale tiling, compute approx percentile cutpoints first and
    assign tiles with a broadcast range lookup instead."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col(value_col).desc(), F.col(id_col))
    tiled = df.select(
        F.col(id_col), F.col(value_col), F.ntile(n_tiles).over(w).alias("tile")
    )
    # cast to double AFTER the (possibly DECIMAL-exact) aggregation so
    # the output schema matches engines that surface doubles
    return tiled.groupBy("tile").agg(
        F.count("*").alias("n"),
        F.round(F.min(value_col).cast("double"), 2).alias("min_value"),
        F.round(F.max(value_col).cast("double"), 2).alias("max_value"),
        F.round(F.sum(value_col).cast("double"), 2).alias("sum_value"),
    )


def winsorize_stats(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Winsorization audit per group: clip values to the exact
    [p_lo, p_hi] interpolated percentiles and report what changed —
    (name, n, lo_cut, hi_cut, n_clipped_lo, n_clipped_hi, mean_raw,
    mean_winsorized). The robust-preprocessing companion to
    mad_outliers: instead of FLAGGING the tails it caps them, and the
    before/after means show exactly how much the tails were steering
    the aggregate.

    Means accumulate in DECIMAL(28,10) (associative, partitioning- and
    engine-independent); percentiles are exact interpolated (swap for
    percentile_approx at 100 TB, same plan shape).

    Shape: one percentile aggregate per group, broadcast back, one
    clip projection, one final aggregate."""
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    cuts = df.groupBy(g.alias("name")).agg(
        F.expr(f"percentile(CAST({value_col} AS DOUBLE), {p_lo!r})").alias("__lo"),
        F.expr(f"percentile(CAST({value_col} AS DOUBLE), {p_hi!r})").alias("__hi"),
    )
    j = df.select(g.alias("name"), v.alias("__v")).join(F.broadcast(cuts), "name")
    clipped = F.least(F.greatest(F.col("__v"), F.col("__lo")), F.col("__hi"))
    dec = "decimal(28,10)"
    return j.groupBy("name").agg(
        F.count("*").alias("n"),
        F.round(F.first("__lo"), 6).alias("lo_cut"),
        F.round(F.first("__hi"), 6).alias("hi_cut"),
        F.sum((F.col("__v") < F.col("__lo")).cast("long")).alias("n_clipped_lo"),
        F.sum((F.col("__v") > F.col("__hi")).cast("long")).alias("n_clipped_hi"),
        # cast the DECIMAL sum to double BEFORE dividing — decimal/long
        # division has its own scale rules that need not match the
        # oracle's double division. The quotient is a mean of event
        # values (|x| << 4.5e3, inside the probed bridge bound) and CAN
        # land on a 7th-decimal midpoint — route through the
        # DECIMAL(27,12) bridge, never bare F.round (midpoint class,
        # caught by the r9 multi-line round_lint upgrade)
        _round6_bridge(
            F.sum(F.col("__v").cast(dec)).cast("double") / F.count("*")
        ).alias("mean_raw"),
        _round6_bridge(
            F.sum(clipped.cast(dec)).cast("double") / F.count("*")
        ).alias("mean_winsorized"),
    )


def impute_group_median(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Missing-value repair audit: fill NULLs in ``value_col`` with the
    group's exact median (computed over the non-null values) and report
    per group — (name, n, n_imputed, median_used, mean_after). The
    baseline imputation every feature pipeline needs before models that
    can't take NULLs; the audit columns are what you log so the repair
    is visible, not silent.

    mean_after accumulates in DECIMAL(28,10); median is the exact
    interpolated percentile (ignores NULLs in both engines).

    Shape: one percentile aggregate per group, broadcast back, one
    coalesce projection, one final aggregate — NULL payloads never
    shuffle twice."""
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    med = df.groupBy(g.alias("name")).agg(
        F.expr(f"percentile(CAST({value_col} AS DOUBLE), 0.5)").alias("__med")
    )
    j = df.select(g.alias("name"), v.alias("__v")).join(F.broadcast(med), "name")
    filled = F.coalesce(F.col("__v"), F.col("__med"))
    return j.groupBy("name").agg(
        F.count("*").alias("n"),
        F.sum(F.col("__v").isNull().cast("long")).alias("n_imputed"),
        F.round(F.first("__med"), 6).alias("median_used"),
        # mean of event values (|x| << 4.5e3): bridge, never bare
        # F.round on the double quotient (midpoint class, caught by the
        # r9 round_lint tightening)
        _round6_bridge(
            F.sum(filled.cast("decimal(28,10)")).cast("double") / F.count("*")
        ).alias("mean_after"),
    )


def revenue_pareto(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    name_col: str,
    revenue_expr,
    top_share: float = 0.8,
) -> DataFrame:
    """Pareto (cumulative-contribution) analysis: entities ranked by
    their revenue with each one's cumulative share of the total and a
    flag for the head that delivers ``top_share`` of it — the 80/20
    table behind "how few suppliers cover 80% of spend".

    Revenue accumulates in DECIMAL (exact, associative); the running
    total is a window over |entities| AGGREGATED rows (single tiny
    partition by design — this is a dimension-grain report, like
    tile_summary); shares divide doubles cast from exact decimals.

    Shape: fact pre-aggregates to the key (map-side combined), dim
    broadcasts in for names, one ordered window pass."""
    from pyspark.sql.window import Window

    per = fact.groupBy(F.col(fact_key).alias("__k")).agg(
        F.sum(revenue_expr.cast("decimal(18,4)")).alias("__rev")
    )
    named = per.join(
        F.broadcast(dim.select(F.col(dim_key).alias("__k"), F.col(name_col))),
        "__k",
    )
    w = Window.orderBy(F.col("__rev").desc(), F.col("__k"))
    cum = F.sum("__rev").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("__rev").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    share = cum.cast("double") / tot.cast("double")
    return named.select(
        F.col("__k").alias("entity_key"),
        F.col(name_col).alias("entity_name"),
        F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        (share <= top_share).alias("in_head"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Gini coefficient of per-key activity within each group — the
    inequality companion to key_distribution's top-share/HHI: 0 =
    every key contributes equally, →1 = one key owns nearly all rows.
    Computed from the sorted-rank identity
    G = 2·Σ(i·c_i)/(n·Σc) − (n+1)/n with counts ascending (ties broken
    by key id), which keeps every sum exact int64 — the final G is one
    double expression over exact integers, engine-exact.

    Shape: per-(group, key) counts first (map-side combined); the rank
    window then runs over |keys-per-group| AGGREGATED rows; one final
    aggregate. Raw rows shuffle once."""
    from pyspark.sql.window import Window

    per_key = df.groupBy(
        F.col(group_col).alias("name"), F.col(key_col).alias("__k")
    ).agg(F.count("*").alias("__c"))
    w = Window.partitionBy("name").orderBy(F.col("__c").asc(), F.col("__k").asc())
    ranked = per_key.withColumn("__i", F.row_number().over(w))
    s = ranked.groupBy("name").agg(
        F.count("*").alias("n_keys"),
        F.sum("__c").alias("__sc"),
        F.sum(F.col("__i").cast("long") * F.col("__c")).alias("__sic"),
    )
    gini = (
        F.lit(2.0) * F.col("__sic").cast("double")
        / (F.col("n_keys") * F.col("__sc")).cast("double")
        - (F.col("n_keys") + 1).cast("double") / F.col("n_keys").cast("double")
    )
    return s.select(
        "name",
        "n_keys",
        F.col("__sc").cast("long").alias("n_rows"),
        F.round(gini, 6).alias("gini"),
    )


def audience_overlap(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Audience overlap between every pair of groups: exact Jaccard
    and containment of their distinct-key sets — "how much of the
    purchase audience also clicks", the product-analytics staple that
    decides whether two funnels share a population or live in
    different worlds. Output (group_a, group_b, n_a, n_b, n_shared,
    jaccard, containment_a_in_b) for group_a < group_b; every number
    is an exact integer or one division over exact integers.

    Scale shape: (group, key) pairs are distinct-ed FIRST (map-side
    combined two-phase distinct), so the pair self-join runs on the
    key over short rows — at most |groups|² candidate rows per key —
    and set sizes broadcast back onto |groups|² aggregate rows."""
    pairs = df.select(
        F.col(group_col).alias("__g"), F.col(key_col).alias("__k")
    ).distinct()
    sizes = pairs.groupBy("__g").agg(F.count("*").alias("__n"))
    a = pairs.select(F.col("__g").alias("group_a"), "__k")
    b = pairs.select(F.col("__g").alias("group_b"), "__k")
    shared = (
        a.join(b, "__k")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "group_a")
        .join(F.broadcast(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            "n_shared",
            # integer half-up round (dedup._round6_ratio): set-overlap
            # rationals on a 7th-decimal midpoint round differently
            # across engines with a bare round(double, 6)
            _round6_ratio(
                F.col("n_shared"),
                F.col("n_a") + F.col("n_b") - F.col("n_shared"),
            ).alias("jaccard"),
            _round6_ratio(F.col("n_shared"), F.col("n_a")).alias(
                "containment_a_in_b"
            ),
        )
    )


def rank_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """ROC AUC of a numeric score against a boolean label via the
    Mann-Whitney U rank-sum identity — the metric a data-quality
    classifier (or any heuristic filter score) is judged by before it
    gates a training corpus. AUC = P(score⁺ > score⁻) + ½P(tie).

    Exactness: with tie-averaged ranks the rank-sum identity gives
    AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻); using DOUBLED ranks
    (2·rank_min + ties − 1, an exact int64) this becomes
    (R2⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) — all integer arithmetic until the
    single final division, so the oracle reproduces it bit-for-bit.

    Scale shape: one rank window per group over (score) — for
    billion-row groups swap in the binned-histogram ranks from
    sketches.binned_quantiles; this exact form is for the per-group
    evaluation grain (groups × rows-per-group that fit a partition).
    Returns (group..., n_pos, n_neg, auc); groups missing a class are
    dropped (AUC undefined)."""
    from pyspark.sql.window import Window

    gcols = list(group_cols or [])
    wr = Window.partitionBy(*gcols).orderBy(score_col) if gcols else Window.orderBy(score_col)
    wt = (
        Window.partitionBy(*gcols, score_col)
        if gcols
        else Window.partitionBy(score_col)
    )
    lab = F.col(label_col).cast("boolean")
    ranked = df.select(
        *gcols,
        lab.alias("__pos"),
        # rank() is 32-bit: promote before the doubling so a group past
        # ~1.07e9 rows cannot overflow INT under ANSI
        (
            2 * F.rank().over(wr).cast("long")
            + F.count("*").over(wt)
            - 1
        ).alias("__r2"),
    )
    agg = ranked.groupBy(*gcols).agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("__pos"), F.col("__r2")).otherwise(0)).cast("long").alias("__r2pos"),
    )
    # AUC = (Σ2r_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg) — the rank-sum
    # and count·count products pass the BIGINT·2e6 ANSI ceiling at fact
    # scale, so the exact ratio runs in DECIMAL(38,0) (same class as
    # lift/kappa, ADVICE r6)
    auc = _round6_ratio_dec(
        F.col("__r2pos").cast("decimal(38,0)")
        - F.col("n_pos").cast("decimal(38,0)") * (F.col("n_pos") + 1),
        F.lit(2) * F.col("n_pos").cast("decimal(38,0)") * F.col("n_neg"),
    )
    return agg.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        *gcols, "n_pos", "n_neg", auc.alias("auc")
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Benford's-law first-digit audit: observed vs expected leading
    significant digit distribution of a positive numeric column — the
    standard screen for fabricated or truncated numeric data (organic
    multiplicative quantities follow P(d) = log10(1 + 1/d)).

    The leading digit is taken from the DECIMAL(18,2) string form, not
    from floor(v / 10^floor(log10 v)) — the log10 route is off-by-one
    at exact powers of ten under IEEE rounding and is NOT identical
    across engines; the decimal string is. Values < 1 are excluded
    (their leading SIGNIFICANT digit is past the decimal point, which
    the string route would misread as 0; scale sub-unit data up
    before auditing).

    Returns one row per (group..., digit 1-9): n, obs_freq, exp_freq,
    deviation (obs − exp, round-6). Map-only projection + one
    partially-aggregated groupBy; expected frequencies are constants."""
    from pyspark.sql.window import Window

    gcols = list(group_cols or [])
    digit = F.substring(
        F.col(value_col).cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("long")
    base = (
        df.where(F.col(value_col) >= 1)
        .select(*gcols, digit.alias("digit"))
        .groupBy(*gcols, "digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    exp_freq = F.log10(1.0 + 1.0 / F.col("digit"))
    obs = F.col("n") / F.sum("n").over(tot)
    return base.select(
        *gcols,
        "digit",
        "n",
        _round6_ratio(F.col("n"), F.sum("n").over(tot)).alias("obs_freq"),
        F.round(exp_freq, 6).alias("exp_freq"),
        F.round(obs - exp_freq, 6).alias("deviation"),
    )


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiles: int = 3,
) -> DataFrame:
    """RFM segmentation: every user scored into recency / frequency /
    monetary ``tiles``-tiles (1 = best), then segment-level counts and
    averages — the classic audience-mix read. Tiles use the
    deterministic (metric, user id) tiebreak so the split reproduces
    exactly. Returns one row per populated (r_tile, f_tile, m_tile):
    n_users, avg_recency_days, avg_frequency, avg_monetary (round-6;
    monetary sums in DECIMAL(18,6) so the averages are associative).

    Scale shape: events collapse to ONE row per user first (the only
    data-sized aggregate); the three ntile windows then run over
    |users| aggregated rows — the documented bounded-window pattern of
    revenue_deciles, with percentile-cut assignment as the fact-scale
    alternative; the corpus end rides a 1-row broadcast."""
    from pyspark.sql.window import Window

    # exact integer microseconds (unix_timestamp would TRUNCATE
    # sub-second parts — not what DuckDB's fractional epoch computes)
    endt = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("__end"))
    per_user = (
        df.groupBy(user_col)
        .agg(
            F.max(F.unix_micros(F.col(ts_col))).alias("__last"),
            F.count("*").cast("long").alias("__freq"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__mon"),
        )
        .crossJoin(F.broadcast(endt))
        .withColumn(
            "__rec_days", ((F.col("__end") - F.col("__last")) / F.lit(86400e6))
        )
    )
    wr = Window.orderBy(F.col("__rec_days").asc(), F.col(user_col))
    wf = Window.orderBy(F.col("__freq").desc(), F.col(user_col))
    wm = Window.orderBy(F.col("__mon").desc(), F.col(user_col))
    tiled = per_user.select(
        F.col(user_col),
        (F.col("__end") - F.col("__last")).alias("__rec_sec"),
        "__rec_days",
        "__freq",
        "__mon",
        F.ntile(tiles).over(wr).cast("long").alias("r_tile"),
        F.ntile(tiles).over(wf).cast("long").alias("f_tile"),
        F.ntile(tiles).over(wm).cast("long").alias("m_tile"),
    )
    # integer/DECIMAL sums + ONE exact integer ratio per metric
    # (VERDICT r6 sweep: avg_monetary = micro-unit sum / (n·10^6) and
    # avg_recency = µs sum / (n·86400·10^6) are exact rationals —
    # F.round on their double division straddles 7th-decimal midpoints
    # across engines; the dec variants survive fact-scale products,
    # the signed one keeps parity when values go negative).
    return tiled.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count("*").cast("long").alias("n_users"),
        _round6_ratio_dec(
            F.sum("__rec_sec").cast("decimal(38,0)"),
            F.count("*").cast("decimal(38,0)") * F.lit(86_400_000_000),
        ).alias("avg_recency_days"),
        _round6_ratio(F.sum("__freq"), F.count("*")).alias(
            "avg_frequency"
        ),
        _round6_ratio_dec_signed(
            (F.sum("__mon") * F.lit(1_000_000)).cast("decimal(38,0)"),
            F.count("*").cast("decimal(38,0)") * F.lit(1_000_000),
        ).alias("avg_monetary"),
    )


def _time_halves(df: DataFrame, ts_col: str, *cols) -> DataFrame:
    """`cols` of every row plus ``__h``: 1 for rows at or before the
    midpoint of the global `ts_col` range, 2 after. The midpoint is
    floor((min + max) / 2) of the integer µs timestamps, carried to
    every row by a 1-row broadcast."""
    scal = df.agg(
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid")
    )
    half = F.when(F.unix_micros(F.col(ts_col)) <= F.col("__mid"), 1).otherwise(2)
    return df.crossJoin(F.broadcast(scal)).select(*cols, half.alias("__h"))


def _half_value_counts(
    df: DataFrame, group_col: str, value_col: str, ts_col: str
) -> DataFrame:
    """The two-sample drift tests' value-grain count table: per
    (``name``, double value ``__v``) the row counts ``__c1`` / ``__c2``
    of the two time halves (_time_halves)."""
    return (
        _time_halves(
            df,
            ts_col,
            F.col(group_col).alias("name"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .groupBy("name", "__v")
        .agg(
            F.sum(F.when(F.col("__h") == 1, 1).otherwise(0)).alias("__c1"),
            F.sum(F.when(F.col("__h") == 2, 1).otherwise(0)).alias("__c2"),
        )
    )


def _ecdf_windows():
    """The ECDF step tables' windows over _half_value_counts: per name
    in value order the running frame, and the whole name."""
    from pyspark.sql.window import Window

    running = (
        Window.partitionBy("name")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return running, Window.partitionBy("name")


def ks_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between the first and second
    time half, per group: KS = max over sample values of
    |ECDF_early(v) − ECDF_late(v)| — the nonparametric sibling of the
    binned PSI (distribution_drift): no bin choice, sensitive to any
    distributional change, with the familiar √((n1+n2)/(n1·n2))
    critical-value scale. Groups with an empty half are omitted (same
    contract as distribution_drift). Returns (name, n1, n2, ks).

    Exactness: the ECDF steps are exact integer cumulative counts over
    the per-(group, value, half) count table; each |c1/n1 − c2/n2| is
    two double divisions of exact ints — both engines materialize the
    identical step set, so the max agrees bit-for-bit.

    Scale shape: rows collapse to per-(group, value) counts before any
    window; the cumulative window then sorts at VALUE grain per group
    (distinct values, not rows). For groups whose distinct-value count
    itself is data-sized, bin first (binned_histogram) and accept bin
    resolution — that variant is distribution_drift's territory."""
    counts = _half_value_counts(df, group_col, value_col, ts_col)
    w, tot = _ecdf_windows()
    stepped = counts.select(
        "name",
        F.sum("__c1").over(w).alias("__cum1"),
        F.sum("__c2").over(w).alias("__cum2"),
        F.sum("__c1").over(tot).alias("__n1"),
        F.sum("__c2").over(tot).alias("__n2"),
    )
    # KS is an exact rational: max|cum1/n1 − cum2/n2| =
    # max|cum1·n2 − cum2·n1| / (n1·n2) since n1, n2 are group
    # constants — take the integer max first, then ONE exact ratio
    # (_round6_ratio_dec: the cum·n products and n1·n2 pass the
    # BIGINT·2e6 ceiling at fact scale, so DECIMAL(38,0) throughout).
    # The old per-step double round straddled midpoints whenever
    # n1·n2 divides 2·10^7 (VERDICT r6 small-denominator class).
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gap_num = F.abs(
        dec(F.col("__cum1")) * F.col("__n2")
        - dec(F.col("__cum2")) * F.col("__n1")
    )
    return (
        stepped.where((F.col("__n1") > 0) & (F.col("__n2") > 0))
        .groupBy("name")
        .agg(
            F.max(gap_num).alias("__gapnum"),
            F.min("__n1").cast("long").alias("n1"),
            F.min("__n2").cast("long").alias("n2"),
        )
        .select(
            "name",
            "n1",
            "n2",
            _round6_ratio_dec(
                F.col("__gapnum"), dec(F.col("n1")) * F.col("n2")
            ).alias("ks"),
        )
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """2-D skyline (Pareto frontier, maximize both axes): rows no other
    row dominates (≥ on both, > on at least one) — "which documents are
    on the quality-vs-length frontier", the classic multi-criteria
    shortlist. Returns the frontier rows (id, x, y).

    Algorithm (the textbook sort-scan at DISTINCT-x grain): per
    distinct x take max y; running max of that over strictly-greater
    x (rows frame ending at -1 — exact for any numeric type, unlike a
    range frame with a unit offset); a row survives iff its y strictly
    exceeds every greater-x max. Rows tied on x keep their x-group's
    frontier test, so double-ties survive together (neither strictly
    dominates).

    Scale shape: the fact table collapses to one row per distinct x
    before the only sort (the running-max window over distinct-x
    rows); survivors come back via an equality join on x. For
    continuous x where distinct-x ~ row count, pre-filter with a
    coarse grid-max (groupBy floor(x/g), max y) before this exact
    pass."""
    from pyspark.sql.window import Window

    gx = df.groupBy(F.col(x_col).alias("__x")).agg(
        F.max(F.col(y_col)).alias("__gymax")
    )
    w = Window.orderBy(F.col("__x").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    thresh = gx.select(
        "__x", F.max("__gymax").over(w).alias("__ymax_gt")
    )
    return (
        df.select(F.col(id_col), F.col(x_col), F.col(y_col))
        .join(thresh, F.col(x_col) == F.col("__x"))
        .where(
            F.col("__ymax_gt").isNull() | (F.col(y_col) > F.col("__ymax_gt"))
        )
        .select(id_col, x_col, y_col)
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total — "the document
    length at which half the corpus TOKENS sit below", which is what
    length planning actually needs (the unweighted median over-counts
    short docs). Returns (group..., total_weight, wmedian).

    Determinism: weights accumulate as exact int64 in value order with
    (value, then insertion-stable count) — the crossing row is unique;
    the 2·cum ≥ total comparison is pure integer math, so both engines
    select the identical row.

    Scale shape: rows collapse to per-(group, value) weight sums
    before the cumulative window (value grain, not row grain) — the
    same discipline as ks_drift; totals ride the same partition
    window."""
    from pyspark.sql.window import Window

    agg = df.groupBy(*group_cols, F.col(value_col).alias("__v")).agg(
        F.sum(F.col(weight_col)).cast("long").alias("__w")
    )
    wc = (
        Window.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*group_cols)
    stepped = agg.select(
        *group_cols,
        "__v",
        F.sum("__w").over(wc).alias("__cum"),
        F.sum("__w").over(wt).alias("__tot"),
    )
    crossed = stepped.where(2 * F.col("__cum") >= F.col("__tot"))
    return (
        crossed.groupBy(*group_cols)
        .agg(
            F.min("__tot").cast("long").alias("total_weight"),
            F.min("__v").alias("wmedian"),
        )
    )


def categorical_drift(
    df: DataFrame,
    cat_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-sample chi-square drift of a CATEGORICAL column between the
    first and second time half — the companion to the numeric drift
    pair (binned PSI in distribution_drift, ECDF KS in ks_drift) for
    event-mix shifts ("did the click/purchase ratio move?"). Returns
    one row per category: (category, c1, c2, contrib, chi2) where
    contrib is the category's (o−e)²/e summed over both halves and
    chi2 the statistic (same value on every row; compare against the
    χ²(k−1) critical value).

    Exactness: counts and totals are exact int64; expected counts and
    contributions are double expressions over those ints; the
    cross-category chi2 sum accumulates DECIMAL(28,12)-cast
    contributions so association order cannot flip round-6.

    Scale shape: one partially-aggregated (category, half) count —
    |categories|×2 rows after map-side combine; everything downstream
    (totals window, expected, contributions, the chi2 window) runs at
    category grain."""
    from pyspark.sql.window import Window

    counts = (
        _time_halves(df, ts_col, F.col(cat_col).alias("category"))
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("__h") == 1, 1).otherwise(0)).cast("long").alias("c1"),
            F.sum(F.when(F.col("__h") == 2, 1).otherwise(0)).cast("long").alias("c2"),
        )
    )
    all_w = Window.partitionBy()
    n1 = F.sum("c1").over(all_w)
    n2 = F.sum("c2").over(all_w)
    rowt = (F.col("c1") + F.col("c2")).cast("double")
    e1 = n1.cast("double") * rowt / (n1 + n2).cast("double")
    e2 = n2.cast("double") * rowt / (n1 + n2).cast("double")
    contrib = (
        (F.col("c1") - e1) * (F.col("c1") - e1) / e1
        + (F.col("c2") - e2) * (F.col("c2") - e2) / e2
    )
    stepped = counts.select(
        "category", "c1", "c2", F.round(contrib, 6).alias("contrib"),
        contrib.cast("decimal(28,12)").alias("__dc"),
    )
    return stepped.select(
        "category",
        "c1",
        "c2",
        "contrib",
        # F.round(F.sum) exempt: squared-deviation/expected terms are
        # full-precision doubles — midpoint measure zero (CLAUDE.md)
        F.round(F.sum("__dc").over(all_w).cast("double"), 6).alias("chi2"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a [0,1]
    score against a boolean label — the companion to ``rank_auc``:
    AUC says the score RANKS positives above negatives; calibration
    says the score's VALUE means what it claims (0.8 ⇒ ~80% positive).
    A quality-filter score that ranks well but is miscalibrated makes
    every threshold-based retention estimate wrong, which is why a
    corpus pipeline checks both before committing to a cutoff.

    Equal-width bins over [0,1): bin i covers [i/n, (i+1)/n), score
    1.0 folds into the top bin. Output one row per NON-EMPTY bin:
    (bin, n, mean_score, frac_pos, gap = frac_pos - mean_score) and
    the record-weighted ECE = sum(n_b/N * |gap_b|) repeated on every
    row (rounded 6; the per-bin means are exact sums over doubles
    rounded at the end).

    Scale shape: one map-side-combined aggregation on the bin id
    (n_bins partial rows per task), then scalar windows over bin-grain
    rows. Empty bins are omitted — document readers should treat
    missing bins as "no support", not "perfectly calibrated".
    """
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    b = F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    bins = (
        df.select(b.alias("bin"), s.alias("__s"), F.col(label_col).cast("int").alias("__y"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("__s").alias("__ssum"),
            F.sum("__y").cast("long").alias("__pos"),
        )
    )
    w = Window.partitionBy()
    total = F.sum("n").over(w).cast("double")
    mean_score = F.col("__ssum") / F.col("n")
    frac_pos = F.col("__pos").cast("double") / F.col("n")
    gap = frac_pos - mean_score
    stepped = bins.select(
        "bin",
        "n",
        F.round(mean_score, 6).alias("mean_score"),
        _round6_ratio(F.col("__pos"), F.col("n")).alias("frac_pos"),
        F.round(gap, 6).alias("gap"),
        (F.abs(gap) * F.col("n").cast("double")).cast("decimal(28,12)").alias("__w"),
    )
    return stepped.select(
        "bin",
        "n",
        "mean_score",
        "frac_pos",
        "gap",
        F.round((F.sum("__w").over(w) / total).cast("double"), 6).alias("ece"),
    )


def filter_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    weight_col: str | None = None,
) -> DataFrame:
    """Threshold retention curve for a quality filter: for each
    candidate cutoff t, how many records (and how much weight — e.g.
    tokens) survive ``score >= t``, as counts and fractions. This is
    the tuning table a pipeline owner reads before picking the cutoff:
    "0.5 keeps 90% of tokens, 0.7 keeps 60%" — computed in ONE pass
    instead of one job per threshold.

    Output: (threshold, n_kept, pct_kept, w_kept, pct_w_kept), one row
    per threshold, fractions of the TOTAL corpus (rounded 6).

    Scale shape: each record emits |thresholds| (threshold, kept)
    tuples via a generated-column explode, then one map-side-combined
    aggregation on threshold — the explode never shuffles (the
    aggregate collapses it inside the task), so the cost is
    |thresholds| cheap comparisons per record, not |thresholds| scans.
    """
    s = F.col(score_col).cast("double")
    wcol = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    pairs = df.select(
        s.alias("__s"),
        wcol.alias("__w"),
        F.explode(
            F.array(*[F.lit(float(t)) for t in sorted(thresholds)])
        ).alias("threshold"),
    )
    kept = F.col("__s") >= F.col("threshold")
    agg = pairs.groupBy("threshold").agg(
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.count("*").cast("long").alias("__n"),
        F.sum(F.when(kept, F.col("__w")).otherwise(0.0)).alias("__wk"),
        F.sum("__w").alias("__wt"),
    )
    return agg.select(
        "threshold",
        "n_kept",
        _round6_ratio(F.col("n_kept"), F.col("__n")).alias("pct_kept"),
        F.round("__wk", 6).alias("w_kept"),
        F.round(F.col("__wk") / F.col("__wt"), 6).alias("pct_w_kept"),
    )


def merge_rollup(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, str],
) -> DataFrame:
    """Incremental materialized-rollup maintenance: merge a new
    partial-aggregate ``delta`` into an existing aggregate ``state``
    without touching the raw history — the pattern that keeps a
    100-TB rollup fresh with day-sized work (recomputing from raw is
    the thing this exists to avoid; kairos hand-materialized exactly
    these per-resolution partials, reference timeseries.py condense
    path).

    Both inputs carry ``keys`` plus one column per ``measures`` entry;
    each measure merges by its algebra: 'sum'/'count' add, 'min'/'max'
    take the extremum. Only ALGEBRAIC measures belong here (sums,
    counts, min/max, and sketches with a merge — HLL registers, CMS
    counters); a non-mergeable measure (exact median, exact distinct)
    must stay a recompute, and composing avg as sum/count is the
    caller's job. The defining invariant — merge(agg(A), agg(B)) ==
    agg(A ∪ B) — is what the oracle checks.

    Scale shape: ONE full-outer hash join on the rollup key between
    two already-aggregated tables (each << raw), then per-measure
    coalesce expressions. In a table-maintenance loop this is the
    MERGE INTO shape: the join cost is |state| + |delta|, never |raw|.
    """
    s = state.select(
        *[F.col(k) for k in keys],
        *[F.col(m).alias(f"__s_{m}") for m in measures],
    )
    d = delta.select(
        *[F.col(k) for k in keys],
        *[F.col(m).alias(f"__d_{m}") for m in measures],
    )
    j = s.join(d, keys, "full_outer")
    outs = []
    for m, how in measures.items():
        a, b = F.col(f"__s_{m}"), F.col(f"__d_{m}")
        if how in ("sum", "count"):
            merged = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        elif how == "min":
            merged = F.least(F.coalesce(a, b), F.coalesce(b, a))
        elif how == "max":
            merged = F.greatest(F.coalesce(a, b), F.coalesce(b, a))
        else:
            raise ValueError(f"non-mergeable measure algebra: {how}")
        outs.append(merged.alias(m))
    return j.select(*[F.col(k) for k in keys], *outs)


def corr_matrix(df: DataFrame, cols: list[str], scale: int = 6) -> DataFrame:
    """Pairwise Pearson correlation over ``cols`` in ONE aggregation
    pass — the numeric-profiling companion to ``schema_profile``:
    which measures move together (collinearity for feature pruning,
    sanity checks like price ≈ quantity × unit price).

    Exactness: every sum (x, x², xy) accumulates decimals of exact
    DECIMAL(18,``scale``)-cast operands — exact for fixed-point
    business measures — so
    r = (n·Sxy − Sx·Sy) / √((n·Sxx − Sx²)(n·Syy − Sy²)) is a pure
    double expression over exact integers-scaled values. The naive
    formula's catastrophic cancellation is harmless HERE because the
    inputs to it are exact (the cancellation risk in floating-point
    one-pass corr comes from inexact partial sums, which decimal
    removes); engines therefore agree bit-for-bit before the round-6.

    Output: (col_x, col_y, n, r) for the upper triangle (col_x <
    col_y lexically). Scale shape: one map-side-combined global
    aggregate of k + k(k+1)/2 decimal sums; output is k(k-1)/2 rows
    assembled driver-side from the single aggregate row via a
    stack/unpivot projection — nothing data-sized moves.
    """
    # operands are cast to DECIMAL(18,scale) BEFORE multiplying: the
    # decimal x decimal product is exact, whereas double-multiply-then-
    # cast would hand each engine its own last-bit rounding to disagree
    # over. scale=6 comfortably covers fixed-point business measures.
    op = f"decimal(18,{scale})"
    xd = {c: F.col(c).cast(op) for c in cols}
    aggs = [F.count("*").cast("long").alias("__n")]
    for c in cols:
        aggs.append(F.sum(xd[c]).alias(f"__s_{c}"))
        aggs.append(F.sum(xd[c] * xd[c]).alias(f"__q_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(xd[a] * xd[b]).alias(f"__p_{a}_{b}"))
    g = df.agg(*aggs)
    rows = []
    for a, b in pairs:
        n = F.col("__n").cast("double")
        sx, sy = F.col(f"__s_{a}").cast("double"), F.col(f"__s_{b}").cast("double")
        qx, qy = F.col(f"__q_{a}").cast("double"), F.col(f"__q_{b}").cast("double")
        pxy = F.col(f"__p_{a}_{b}").cast("double")
        r = (n * pxy - sx * sy) / F.sqrt((n * qx - sx * sx) * (n * qy - sy * sy))
        rows.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("__n").alias("n"),
                F.round(r, 6).alias("r"),
            )
        )
    return g.select(F.explode(F.array(*rows)).alias("__e")).select(
        "__e.col_x", "__e.col_y", "__e.n", "__e.r"
    )


def mutual_info(
    df: DataFrame,
    x_col,
    y_col,
    x_name: str = "x",
    y_name: str = "y",
) -> DataFrame:
    """Mutual information between two categorical columns (or column
    expressions), in nats, with per-cell pointwise MI — the
    dependence audit that catches "this feature is just a renamed
    copy of that one" and quantifies how much a partition key tells
    you about a value. I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))); 0 ⇔
    independent; per-cell pmi = ln(p(x,y)/(p(x)p(y))) localizes WHICH
    combinations carry the dependence (the categorical analogue of
    ``categorical_drift``'s per-category chi-square contributions).

    Output: one row per observed (x, y) cell — (x_name, y_name, n,
    pmi, mi) with mi the total repeated per row; exact integer
    counts, DECIMAL(28,12) accumulation of the cell terms so
    association order cannot flip round-6.

    Scale shape: one (x, y) hash aggregate with map-side combine;
    marginals derive from cell-grain rows via two windows; the mi
    total is an empty-key window over |X|·|Y| observed cells.
    """
    from pyspark.sql.window import Window

    xc = F.col(x_col) if isinstance(x_col, str) else x_col
    yc = F.col(y_col) if isinstance(y_col, str) else y_col
    cells = (
        df.select(xc.alias(x_name), yc.alias(y_name))
        .groupBy(x_name, y_name)
        .agg(F.count("*").cast("long").alias("n"))
    )
    wx = Window.partitionBy(x_name)
    wy = Window.partitionBy(y_name)
    wall = Window.partitionBy()
    total = F.sum("n").over(wall).cast("double")
    pxy = F.col("n") / total
    px = F.sum("n").over(wx) / total
    py = F.sum("n").over(wy) / total
    pmi = F.log(pxy / (px * py))
    stepped = cells.select(
        x_name,
        y_name,
        "n",
        F.round(pmi, 6).alias("pmi"),
        (pxy * pmi).cast("decimal(28,12)").alias("__term"),
    )
    return stepped.select(
        x_name,
        y_name,
        "n",
        "pmi",
        # F.round(F.sum) exempt: p*log(p-ratio) terms are full-precision
        # doubles — midpoint measure zero (CLAUDE.md)
        F.round(F.sum("__term").over(wall).cast("double"), 6).alias("mi"),
    )


def lift_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table for a score against a boolean
    label, by DESCENDING equal-width score bin — "contacting the top
    two bins captures 55% of positives at 2.1× random", the business
    reading of a ranking model that AUC (``quality_auc``) and
    calibration (``calibration_bins``) don't give directly.

    Equal-width [0,1) bins (score 1.0 folds into the top bin), walked
    from the top: per NON-EMPTY bin — (bin, n, pos, cum_n, cum_pos,
    capture = cum_pos/total_pos, lift = (cum_pos/cum_n)/(total_pos/N)).
    Equal-width rather than NTILE deciles on purpose: the bin id is a
    map-side expression (no global sort of record-grain data); the
    cumulative walk runs over ≤ n_bins aggregated rows.
    """
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    b = F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    bins = (
        df.select(b.alias("bin"), F.col(label_col).cast("int").alias("__y"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"), F.sum("__y").cast("long").alias("pos"))
    )
    wcum = Window.partitionBy().orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum_n = F.sum("n").over(wcum)
    cum_pos = F.sum("pos").over(wcum)
    tot_n = F.sum("n").over(wall)
    tot_pos = F.sum("pos").over(wall)
    # lift restructured to ONE exact integer ratio,
    # (cum_pos·tot_n)/(cum_n·tot_pos); the count·count products pass
    # the BIGINT·2e6 ANSI ceiling at fact scale, so they run in
    # DECIMAL(38,0) (_round6_ratio_dec)
    return bins.select(
        "bin",
        "n",
        "pos",
        cum_n.cast("long").alias("cum_n"),
        cum_pos.cast("long").alias("cum_pos"),
        _round6_ratio(cum_pos, tot_pos).alias("capture"),
        _round6_ratio_dec(
            cum_pos.cast("decimal(38,0)") * tot_n,
            cum_n.cast("decimal(38,0)") * tot_pos,
        ).alias("lift"),
    )


def topk_churn(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    k: int = 20,
) -> DataFrame:
    """Heavy-hitter churn between the first and second time half: who
    is in the top-``k`` by activity in each period, with ranks, counts
    and an entered/exited/stayed status — the leaderboard-stability
    view behind "did our heaviest users/domains change this week?"
    (complements ``key_skew_stats``' static skew and ``decayed_topk``'s
    single smoothed ranking).

    Ranks tie-break by (count desc, key) so the cut at k is
    deterministic. Output: one row per key in EITHER half's top-k —
    (key, n_1, n_2, rank_1, rank_2, status); ranks are null for a
    half where the key missed the top-k (their counts still show).

    Scale shape: one (key) aggregate with conditional half counts
    (map-side combined), then two rank windows over KEY-GRAIN
    aggregate rows. The empty-partition window is the honest cost of
    exact global ranks at audit grain; for fact-scale key spaces,
    pre-filter with an approximate count threshold (CMS heavy_hitters)
    and rank only survivors — same output for any threshold below the
    true k-th count.
    """
    from pyspark.sql.window import Window

    scal = df.agg(
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid")
    )
    half1 = F.unix_micros(F.col(ts_col)) <= F.col("__mid")
    counts = (
        df.crossJoin(F.broadcast(scal))
        .groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sum(F.when(half1, 1).otherwise(0)).cast("long").alias("n_1"),
            F.sum(F.when(half1, 0).otherwise(1)).cast("long").alias("n_2"),
        )
    )
    w1 = Window.partitionBy().orderBy(F.col("n_1").desc(), "key")
    w2 = Window.partitionBy().orderBy(F.col("n_2").desc(), "key")
    ranked = counts.select(
        "key",
        "n_1",
        "n_2",
        F.row_number().over(w1).cast("long").alias("__r1"),
        F.row_number().over(w2).cast("long").alias("__r2"),
    )
    in1 = (F.col("__r1") <= k) & (F.col("n_1") > 0)
    in2 = (F.col("__r2") <= k) & (F.col("n_2") > 0)
    return ranked.where(in1 | in2).select(
        "key",
        "n_1",
        "n_2",
        # rank 0 = "not in this half's top-k": nullable numerics round-trip
        # as NaN-bearing float64 through pandas/Arrow and break cross-engine
        # hashing, so absence is encoded in-band
        F.coalesce(F.when(in1, F.col("__r1")), F.lit(0)).cast("long").alias("rank_1"),
        F.coalesce(F.when(in2, F.col("__r2")), F.lit(0)).cast("long").alias("rank_2"),
        F.when(in1 & in2, F.lit("stayed"))
        .when(in2, F.lit("entered"))
        .otherwise(F.lit("exited"))
        .alias("status"),
    )


def json_schema_profile(
    df: DataFrame,
    json_col: str = "props",
) -> DataFrame:
    """Schema discovery over a semi-structured JSON string column: per
    observed top-level key — presence coverage, null-literal rate,
    numeric-parse rate, and distinct-value count. This is the scouting
    pass before committing to a ``from_json`` schema ("which keys are
    real, which are junk, which are numbers"): the reference has no
    semi-structured surface at all, and event pipelines hit this on
    day one.

    All JVM-side: ONE ``from_json`` parse per row into
    map<string,string>, then a map explode (map-side generate). At
    100 TB, run it on a SAMPLE (compose with ``sample_split``) and
    then freeze the from_json schema; the profile's cost model is
    |rows|·|keys|.

    Output: (key, n_present, pct_present, n_null, n_numeric,
    n_distinct) — coverage fractions of total rows, rounded 6.

    Contract: malformed-JSON rows contribute no keys (from_json's NULL
    map) but still count in the pct_present denominator. Objects with
    DUPLICATE top-level keys are out of contract (RFC 8259 names
    SHOULD be unique): from_json keeps the last occurrence while JSON
    path engines typically read the first, so profiles over such rows
    are engine-dependent.
    """
    from pyspark.sql.window import Window

    total = df.count()
    # ONE parse per row: from_json into map<string,string> then a
    # map explode — get_json_object would need a literal path per key
    pairs = df.select(
        F.explode(F.from_json(F.col(json_col), "map<string,string>")).alias(
            "key", "__v"
        )
    )
    return (
        pairs.groupBy("key")
        .agg(
            F.count("*").cast("long").alias("n_present"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            # numeric-ness by an engine-agreed grammar, NOT try_cast:
            # the engines' string->double casts disagree off it (Spark
            # accepts Java float suffixes '1d'/'1f', DuckDB accepts
            # '1_000' separators). from_json normalizes JSON numbers to
            # the same rendering DuckDB's json_extract_string produces
            # ('1e2'->'100.0', probed), so the regex sees equal inputs.
            F.sum(
                F.when(
                    # \z not $: Java's $ also matches before a
                    # trailing \n/\r (RE2's does not) — see CLAUDE.md
                    F.col("__v").rlike(
                        r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?\z"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_numeric"),
            F.countDistinct("__v").cast("long").alias("n_distinct"),
        )
        .select(
            "key",
            "n_present",
            _round6_ratio(F.col("n_present"), F.lit(int(total))).alias("pct_present"),
            "n_null",
            "n_numeric",
            "n_distinct",
        )
    )


def expectations_audit(
    df: DataFrame,
    expectations: list,
) -> DataFrame:
    """Declarative data-contract audit (the Great-Expectations shape,
    engine-side): each expectation is ``(name, predicate Column)`` that
    must hold row-wise; ONE aggregation pass evaluates all of them and
    reports violations — the CI gate a table owner runs before
    publishing a snapshot, and the complement of ``fk_conformance``
    (cross-table) and ``schema_profile`` (descriptive, not asserted).

    Output: (constraint, n_violations, n_rows, pct_violated) per
    expectation, in one map-side-combined aggregate; the per-row cost
    is |expectations| boolean expressions inside whole-stage codegen.
    Null predicate results count as violations (a constraint that
    cannot be evaluated is not satisfied) — spell out null-tolerance
    inside the predicate when nulls are legal.
    """
    aggs = [F.count("*").cast("long").alias("__n")]
    for name, pred in expectations:
        aggs.append(
            F.sum(F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1))
            .cast("long")
            .alias(f"__v_{name}")
        )
    g = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(name).alias("constraint"),
            F.col(f"__v_{name}").alias("n_violations"),
            F.col("__n").alias("n_rows"),
            _round6_ratio(F.col(f"__v_{name}"), F.col("__n")).alias(
                "pct_violated"
            ),
        )
        for name, _ in expectations
    ]
    return g.select(F.explode(F.array(*rows)).alias("__e")).select(
        "__e.constraint", "__e.n_violations", "__e.n_rows", "__e.pct_violated"
    )


def grouped_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Per-group equal-width histogram over the GLOBAL value range —
    small-multiples distributions ("does purchase value look like view
    value?") on shared axes, which per-group ranges would break.
    Complements ``binned_quantiles`` (global, quantile-focused) and
    ``distribution_drift`` (two-slice comparison).

    Bin edges: [lo + i·w, lo + (i+1)·w) over [global min, max], top
    value folded into the last bin; empty (group, bin) cells are
    omitted (readers zero-fill). Output: (group, bin, bin_lo, bin_hi,
    n) with edges rounded 6.

    Scale shape: the global range is one 2-scalar aggregate riding a
    1-row broadcast; the histogram is ONE (group, bin) map-side-
    combined count — bin assignment is a pure scalar expression, so
    the shuffle carries |groups|·n_bins partial rows.
    """
    scal = df.agg(
        F.min(F.col(value_col).cast("double")).alias("__lo"),
        F.max(F.col(value_col).cast("double")).alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    span = F.col("__hi") - F.col("__lo")
    bin_expr = F.when(span > 0,
        F.least(
            F.floor((v - F.col("__lo")) * n_bins / span).cast("int"),
            F.lit(n_bins - 1),
        ),
    ).otherwise(F.lit(0))
    binned = (
        df.crossJoin(F.broadcast(scal))
        .select(
            F.col(group_col).alias("grp"),
            bin_expr.alias("bin"),
            F.col("__lo"),
            span.alias("__w"),
        )
        .groupBy("grp", "bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.first("__lo").alias("__lo"),
            F.first("__w").alias("__w"),
        )
    )
    return binned.select(
        F.col("grp").alias(group_col),
        "bin",
        F.round(F.col("__lo") + F.col("bin") * F.col("__w") / n_bins, 6).alias("bin_lo"),
        F.round(F.col("__lo") + (F.col("bin") + 1) * F.col("__w") / n_bins, 6).alias(
            "bin_hi"
        ),
        "n",
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Per-group EXACT quantiles (linear interpolation at (n−1)·p,
    the R-7/SQL quantile_cont definition both engines share) — the
    grouped companion to the global ``value_percentiles``. Exact, so
    it shuffles each group's values to its reducer; at fact scale
    swap in ``percentile_approx`` (documented trade, same output
    shape) — the audit-grain default favors reproducibility.

    Output: (group, p, q) one row per (group, probability).
    """
    qs = F.percentile(F.col(value_col).cast("double"), F.array(*[F.lit(float(p)) for p in probs]))
    g = df.groupBy(F.col(group_col).alias("grp")).agg(qs.alias("__qs"))
    pairs = F.explode(
        F.arrays_zip(
            F.array(*[F.lit(float(p)) for p in probs]).alias("p"),
            F.col("__qs").alias("q"),
        )
    )
    return g.select(F.col("grp").alias(group_col), pairs.alias("__e")).select(
        group_col,
        F.col("__e.p").alias("p"),
        F.round(F.col("__e.q"), 6).alias("q"),
    )


def assoc_rules(
    df: DataFrame,
    basket_cols: list[str],
    item_col: str,
    min_pair_baskets: int = 1,
) -> DataFrame:
    """Association rules over baskets: for each ORDERED item pair
    (a → b), support / confidence / lift from distinct-item basket
    co-occurrence — the market-basket view of event mixes ("users who
    search also purchase, 3× over independence"), complementing
    ``mutual_info`` (global dependence, no direction) and ``pmi_pairs``
    (token windows). lift > 1 ⇒ positive association; confidence is
    P(b ∈ basket | a ∈ basket).

    Output: (item_a, item_b, n_ab, support, confidence, lift),
    rounded 6, pairs below ``min_pair_baskets`` dropped.

    Scale shape: baskets collapse to DISTINCT (basket, item) first
    (map-side), so the within-basket self-join fans out at
    |items-per-basket|² with items a small closed set — never raw
    rows; item and total-basket counts ride bounded aggregates and a
    1-row broadcast.
    """
    items = df.select(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in basket_cols]).alias(
            "__b"
        ),
        F.col(item_col).alias("item"),
    ).distinct()
    tot = items.select("__b").distinct().agg(F.count("*").cast("long").alias("__n"))
    item_counts = items.groupBy(F.col("item")).agg(
        F.count("*").cast("long").alias("__ni")
    )
    a, b = items.alias("a"), items.alias("b")
    pair_counts = (
        a.join(b, "__b")
        .where(F.col("a.item") != F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= min_pair_baskets)
    )
    ca = item_counts.select(F.col("item").alias("item_a"), F.col("__ni").alias("__na"))
    cb = item_counts.select(F.col("item").alias("item_b"), F.col("__ni").alias("__nb"))
    j = pair_counts.join(ca, "item_a").join(cb, "item_b").crossJoin(F.broadcast(tot))
    # lift restructured to ONE exact integer ratio n_ab·n/(nₐ·n_b);
    # the count·count products run in DECIMAL(38,0) so the 2e6 scaling
    # never overflows BIGINT at fact scale (_round6_ratio_dec)
    return j.select(
        "item_a",
        "item_b",
        "n_ab",
        _round6_ratio(F.col("n_ab"), F.col("__n")).alias("support"),
        _round6_ratio(F.col("n_ab"), F.col("__na")).alias("confidence"),
        _round6_ratio_dec(
            F.col("n_ab").cast("decimal(38,0)") * F.col("__n"),
            F.col("__na").cast("decimal(38,0)") * F.col("__nb"),
        ).alias("lift"),
    )


def dist_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Pairwise distribution-overlap matrix between groups: the
    histogram intersection Σ min(p_a, p_b) over shared equal-width
    bins (1 = identical binned distributions, 0 = disjoint support) —
    the symmetric, bounded cousin of PSI/KS drift for MANY groups at
    once ("which event types have interchangeable value profiles?").

    Output: (group_a, group_b, overlap) for the lexical upper
    triangle, rounded 6; bins span the global range (same convention
    as ``grouped_histogram``) so groups are comparable.

    Scale shape: one (group, bin) count aggregate (map-side combined)
    + per-group totals via a window; the pairwise step joins the
    BIN-GRAIN table with itself on bin — |groups|²·n_bins rows, a
    profiling-size intermediate independent of fact cardinality. The
    min() inside the sum handles missing bins through the inner join:
    a bin absent from either group contributes min(p, 0) = 0, exactly
    the intersection semantics.
    """
    from pyspark.sql.window import Window

    scal = df.agg(
        F.min(F.col(value_col).cast("double")).alias("__lo"),
        F.max(F.col(value_col).cast("double")).alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    span = F.col("__hi") - F.col("__lo")
    bin_expr = F.when(
        span > 0,
        F.least(
            F.floor((v - F.col("__lo")) * n_bins / span).cast("int"),
            F.lit(n_bins - 1),
        ),
    ).otherwise(F.lit(0))
    cells = (
        df.crossJoin(F.broadcast(scal))
        .select(F.col(group_col).alias("grp"), bin_expr.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wg = Window.partitionBy("grp")
    probs = cells.select(
        "grp", "bin", "n", F.sum("n").over(wg).alias("t")
    )
    a, b = probs.alias("a"), probs.alias("b")
    # Σ min(pa, pb) = Σ min(na·Tb, nb·Ta) / (Ta·Tb) — ONE exact integer
    # ratio, so the round-6 is engine-exact (the double form landed
    # exactly on a 7th-decimal midpoint on real count data)
    pairs = (
        a.join(b, "bin")
        .where(F.col("a.grp") < F.col("b.grp"))
        .groupBy(F.col("a.grp").alias("group_a"), F.col("b.grp").alias("group_b"))
        .agg(
            # n·T products and the T·T denominator pass the BIGINT·2e6
            # ceiling at fact scale — DECIMAL(38,0) throughout
            _round6_ratio_dec(
                F.sum(
                    F.least(
                        F.col("a.n").cast("decimal(38,0)") * F.col("b.t"),
                        F.col("b.n").cast("decimal(38,0)") * F.col("a.t"),
                    )
                ),
                F.max(F.col("a.t")).cast("decimal(38,0)") * F.max(F.col("b.t")),
            ).alias("overlap")
        )
    )
    return pairs


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim: float = 0.05,
) -> DataFrame:
    """Per-group trimmed mean: the mean over values inside the
    [trim, 1−trim] exact-quantile band — the robust location estimate
    that survives the fat tails ``mad_outliers`` detects, without
    winsorization's value rewriting. Output: (group, n, n_used,
    lo_cut, hi_cut, mean_trimmed), rounded 6.

    Scale shape: pass 1 computes the two exact cut quantiles per
    group (group-grain aggregate); pass 2 joins the cuts back (a
    |groups|-row broadcast) and folds the conditional mean with
    DECIMAL(28,10) accumulation — two scans, one tiny join, no sort
    of the fact table. Inclusive bounds: ties AT the cut stay in,
    which keeps the estimate deterministic under heavy ties.
    """
    cuts = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.percentile(F.col(value_col).cast("double"), F.lit(float(trim))).alias("__lo"),
        F.percentile(F.col(value_col).cast("double"), F.lit(1.0 - trim)).alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    j = df.join(
        F.broadcast(cuts), df[group_col] == cuts["__g"]
    )
    inside = (v >= F.col("__lo")) & (v <= F.col("__hi"))
    g = j.groupBy(F.col(group_col)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(inside.cast("long")).cast("long").alias("n_used"),
        F.sum(F.when(inside, v.cast("decimal(28,10)"))).alias("__s"),
        F.first("__lo").alias("__locut"),
        F.first("__hi").alias("__hicut"),
    )
    return g.select(
        group_col,
        "n",
        "n_used",
        F.round(F.col("__locut"), 6).alias("lo_cut"),
        F.round(F.col("__hicut"), 6).alias("hi_cut"),
        F.round(
            (F.col("__s") / F.col("n_used")).cast("double"), 6
        ).alias("mean_trimmed"),
    )


def target_encoding(
    df: DataFrame,
    cat_col: str,
    target_col,
    m: float = 10.0,
) -> DataFrame:
    """m-estimate target encoding: per category, the smoothed target
    mean (n·mean + m·prior)/(n + m) — the classic high-cardinality
    categorical feature that plain one-hot can't handle, with the
    smoothing that keeps rare categories from memorizing their few
    labels (leakage discipline — fit on train only, join onto the
    rest — is the caller's job; pair with ``hash_split``).

    Exactness: sums accumulate DECIMAL(28,10); the prior is the
    global mean from the same aggregate pass (windowed over
    category-grain rows), so the whole table derives from one scan.

    Output: (category, n, raw_mean, encoded), rounded 6.
    """
    from pyspark.sql.window import Window

    tgt = (F.col(target_col) if isinstance(target_col, str) else target_col).cast(
        "decimal(28,10)"
    )
    cats = df.groupBy(F.col(cat_col).alias("category")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(tgt).alias("__s"),
    )
    w = Window.partitionBy()
    prior = (F.sum("__s").over(w) / F.sum("n").over(w)).cast("double")
    raw = (F.col("__s") / F.col("n")).cast("double")
    enc = (F.col("__s").cast("double") + m * prior) / (F.col("n") + F.lit(m))
    return cats.select(
        "category",
        "n",
        F.round(raw, 6).alias("raw_mean"),
        F.round(enc, 6).alias("encoded"),
    )


def hierarchical_shares(
    df: DataFrame,
    level1_col: str,
    level2_col: str,
    measure_col,
) -> DataFrame:
    """Two-level contribution analysis: per (parent, child) — the
    measure total, its share of the PARENT, and the parent's share of
    the GRAND total — the drill-down table every revenue dashboard
    opens with, derived from one aggregate plus two windows (no
    second scan, no self-join).

    Exactness: DECIMAL(28,8) measure sums; shares are double ratios
    of exact decimals, rounded 6.

    Output: (level1, level2, total, share_of_parent, parent_total,
    parent_share).
    """
    from pyspark.sql.window import Window

    msr = (F.col(measure_col) if isinstance(measure_col, str) else measure_col).cast(
        "decimal(28,8)"
    )
    cells = df.groupBy(
        F.col(level1_col).alias("level1"), F.col(level2_col).alias("level2")
    ).agg(F.sum(msr).alias("__t"))
    wp = Window.partitionBy("level1")
    wall = Window.partitionBy()
    parent = F.sum("__t").over(wp)
    grand = F.sum("__t").over(wall)
    return cells.select(
        "level1",
        "level2",
        # round the DECIMAL first, cast after: these totals reach 1e9+
        # where round-6 needs 16 significant digits — not
        # double-representable, and engines disagree post-cast
        F.round(F.col("__t"), 6).cast("double").alias("total"),
        F.round((F.col("__t") / parent).cast("double"), 6).alias("share_of_parent"),
        F.round(parent, 6).cast("double").alias("parent_total"),
        F.round((parent / grand).cast("double"), 6).alias("parent_share"),
    )


def delta_attribution(
    df: DataFrame,
    key_col: str,
    measure_col,
    ts_col: str = "ts",
    k: int = 20,
) -> DataFrame:
    """Period-over-period delta decomposition: the change in a measure
    between the first and second time half, attributed to the keys
    that moved it — "revenue fell 3%; these ten customers explain
    80% of the drop". Complements ``topk_churn`` (rank/count churn)
    with measure-weighted attribution and ``period_delta`` (per-key
    deltas) with contribution shares against the GLOBAL delta.

    Output: top-``k`` keys by |delta| — (key, m1, m2, delta,
    pct_of_total_delta = delta / Σdelta, rank); share is signed (a
    key moving against the aggregate direction shows a negative
    share), DECIMAL-exact sums, rounded 6. When the total delta is 0
    the share column is null.

    Scale shape: one key-grain conditional-half aggregate (map-side
    combined); the total delta and ranks ride windows over KEY-GRAIN
    rows; the mid scalar is a 1-row broadcast.
    """
    from pyspark.sql.window import Window

    msr = (F.col(measure_col) if isinstance(measure_col, str) else measure_col).cast(
        "decimal(28,8)"
    )
    scal = df.agg(
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid")
    )
    half1 = F.unix_micros(F.col(ts_col)) <= F.col("__mid")
    keys = (
        df.crossJoin(F.broadcast(scal))
        .groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sum(F.when(half1, msr).otherwise(F.lit(0).cast("decimal(28,8)"))).alias(
                "__m1"
            ),
            F.sum(F.when(half1, F.lit(0).cast("decimal(28,8)")).otherwise(msr)).alias(
                "__m2"
            ),
        )
    )
    delta = F.col("__m2") - F.col("__m1")
    w = Window.partitionBy()
    wr = Window.partitionBy().orderBy(F.abs(delta).desc(), "key")
    total = F.sum(delta).over(w)
    ranked = keys.select(
        "key",
        F.round(F.col("__m1").cast("double"), 6).alias("m1"),
        F.round(F.col("__m2").cast("double"), 6).alias("m2"),
        F.round(delta.cast("double"), 6).alias("delta"),
        F.round(
            F.when(total != 0, (delta / total).cast("double")), 6
        ).alias("pct_of_total_delta"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )
    return ranked.where(F.col("rank") <= k)


# Poisson(1) CDF thresholds (12 dp) for the deterministic inverse-CDF
# draw shared by bootstrap_ci_mean and its oracle — identical literals
# on both engines, so the resample weights match bit-for-bit.
POISSON1_CDF = (
    0.367879441171, 0.735758882343, 0.919698602929, 0.981011843124,
    0.996340153173, 0.999405815182, 0.999916758851, 0.999989750803,
    0.999998874797,
)


def bootstrap_ci_mean(
    df: DataFrame,
    id_col: str,
    value_col,
    n_resamples: int = 50,
    alpha: float = 0.05,
    salt: str = "boot",
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean — the
    distributed bootstrap (Chamandy et al., Google's "Estimating
    uncertainty for massive data streams"): instead of the
    multinomial resample (which needs global coordination), every row
    draws an independent Poisson(1) weight per resample, which
    approximates the multinomial to O(1/n) and folds in ONE pass. The
    draw is md5(salt, id, b) → uniform → inverse-CDF, so the entire
    CI is deterministic and engine-reproducible (no RNG).

    Output: one row — (n, mean, se = sd of resample means, ci_lo,
    ci_hi) with the CI as the [alpha/2, 1−alpha/2] exact quantiles of
    the ``n_resamples`` resample means, rounded 6.

    Scale shape: the explode factor is ``n_resamples`` (bounded,
    default 50) and the (b) aggregate is map-side combined — the cost
    is B cheap expressions per row and a B-row shuffle; the quantile
    runs over B rows on one reducer. Never materializes a resampled
    dataset.
    """
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast("double")
    base = df.select(F.col(id_col).cast("string").alias("__id"), v.alias("__v"))
    b_arr = F.array(*[F.lit(i) for i in range(n_resamples)])
    rows = base.select(
        "__id", "__v", F.explode(b_arr).alias("b")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", F.lit(salt), F.col("__id"), F.col("b").cast("string"))),
                1,
                11,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**44))
    w = None
    for k, c in enumerate(POISSON1_CDF):
        cond = u < F.lit(c)
        w = F.when(cond, F.lit(k)) if w is None else w.when(cond, F.lit(k))
    w = w.otherwise(F.lit(len(POISSON1_CDF)))
    # plain double sums: the resample means carry ~ulp(|v|)-scale
    # engine noise from partial-aggregation order, invisible at round-6
    # for |v| up to ~1e9. (A DECIMAL quantization would NOT help: the
    # engines' double->decimal casts themselves disagree above ~4.5e3 —
    # Spark pads the shortest decimal rendering with zeros while DuckDB
    # expands the binary fraction.)
    per_b = rows.select("b", w.alias("__w"), "__v").groupBy("b").agg(
        (
            F.sum(F.col("__w") * F.col("__v"))
            / F.sum(F.col("__w")).cast("double")
        ).alias("__mean_b")
    )
    lo, hi = alpha / 2, 1 - alpha / 2
    # se via explicit centered sums, NOT the engines' stddev kernels:
    # one-pass variance implementations diverge at the 6th decimal once
    # |mean|/sd passes ~1e7 (probed at 1e12-offset inputs — Spark
    # 0.57865 vs DuckDB 0.57823), and the two kernels also merge in
    # different orders. Centering on floor(min) BEFORE squaring removes
    # the cancellation; the remaining sum-order noise is ~1 ulp of the
    # spread, far below round-6. (Engine agreement bound: the resample
    # means themselves carry ~ulp(|v|) per-engine noise, so round-6
    # parity needs ulp(|v|) << 1e-6 — |v| < ~1e9, far above any event
    # magnitude here.)
    cmin = per_b.agg(F.floor(F.min("__mean_b")).cast("double").alias("__c"))
    cen = per_b.crossJoin(F.broadcast(cmin)).select(
        "__mean_b", (F.col("__mean_b") - F.col("__c")).alias("__d")
    )
    nb = F.count("*").cast("double")
    # se/ci_lo/ci_hi are genuine doubles (resample means, not one
    # integer ratio) — round through the probed DECIMAL(27,12) bridge
    # instead of bare F.round, which splits on 7th-decimal midpoints
    # (the chao1 class). Values here are at event-value scale (~1e2),
    # far inside the bridge's |x| < ~4.5e3 agreement bound.
    stats = cen.agg(
        _round6_bridge(
            F.sqrt(
                F.greatest(
                    (nb * F.sum(F.col("__d") * F.col("__d")) - F.sum("__d") * F.sum("__d"))
                    / (nb * (nb - F.lit(1.0))),
                    F.lit(0.0),
                )
            )
        ).alias("se"),
        _round6_bridge(F.percentile(F.col("__mean_b"), F.lit(lo))).alias("ci_lo"),
        _round6_bridge(F.percentile(F.col("__mean_b"), F.lit(hi))).alias("ci_hi"),
    )
    # mean: events.value is a 2-decimal fixed value, so avg is an exact
    # rational (cents / 100·n) — precisely the midpoint class bare
    # F.round splits on. Exact integer half-up via the DECIMAL route
    # (micro-unit cent sums can pass the BIGINT·2e6 ceiling at sf >= 1);
    # signed variant in case regenerated data ships negative values.
    overall = base.agg(
        F.count("*").cast("long").alias("n"),
        _round6_ratio_dec_signed(
            F.sum(_cents(F.col("__v"))),
            F.lit(100) * F.count("*"),
        ).alias("mean"),
    )
    return overall.crossJoin(F.broadcast(stats)).select(
        "n", "mean", "se", "ci_lo", "ci_hi"
    )


def conformal_coverage(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction audit (Vovk et al.; the split recipe
    of Lei et al. 2018): hash-partition rows into train/calibration/
    test by md5(id) (8/4/4 sixteenths — deterministic, seed-free), fit
    the trivial per-group mean model on train, take the conformal
    quantile q̂ of absolute calibration residuals (the ⌈(n+1)(1−α)⌉-th
    smallest, capped at the max), and report the TEST-set coverage of
    the interval pred ± q̂ per group. A well-calibrated split yields
    coverage ≳ 1−α; a drifted or heteroscedastic group under-covers —
    this is the go/no-go check before shipping model-based filters.

    Returns (group, n_cal, n_test, pred, qhat, coverage).

    Determinism across engines: the split is the first hex digit of
    md5(id); the train mean accumulates in DECIMAL(38,12); residuals
    are rounded to 6 decimals BEFORE both the order statistic and the
    coverage compare, so engines agree at interval boundaries.

    Scale shape: one shuffle per aggregation on the group key; the
    order statistic uses a per-group sort window over CALIBRATION
    rows only (a fixed fraction of the data — for huge groups swap in
    percentile_approx and accept approximate q̂)."""
    from pyspark.sql.window import Window

    digit = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    split = (
        F.when(digit.isin(*"01234567"), F.lit("train"))
        .when(digit.isin(*"89ab"), F.lit("cal"))
        .otherwise(F.lit("test"))
    )
    base = df.select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("double").alias("v"),
        split.alias("split"),
    )
    pred = (
        base.where(F.col("split") == "train")
        .groupBy("group")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,12)")).cast("double") / F.count("*")
            ).alias("pred")
        )
    )
    cal = (
        base.where(F.col("split") == "cal")
        .join(F.broadcast(pred), "group")
        .select("group", F.round(F.abs(F.col("v") - F.col("pred")), 6).alias("resid"))
    )
    w = Window.partitionBy("group").orderBy(F.col("resid"))
    ranked = cal.select(
        "group",
        "resid",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(Window.partitionBy("group")).cast("long").alias("n_cal"),
    )
    k = F.least(F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha)), F.col("n_cal"))
    qhat = ranked.where(F.col("rn") == k).select(
        "group", F.col("resid").alias("qhat"), "n_cal"
    )
    test = base.where(F.col("split") == "test").join(F.broadcast(pred), "group")
    return (
        test.join(F.broadcast(qhat), "group")
        .groupBy("group")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            # pred is a mean of event values — same midpoint exposure
            # as raw_mean (41/640 class): bridge it on both sides
            _round6_bridge(F.max("pred")).alias("pred"),
            F.max("qhat").alias("qhat"),
            # hits/n is an integer/integer ratio: exact integer
            # half-up (midpoint class, caught by the r9 multi-line
            # round_lint upgrade)
            _round6_ratio(
                F.sum(
                    F.when(
                        F.round(F.abs(F.col("v") - F.col("pred")), 6) <= F.col("qhat"), 1
                    ).otherwise(0)
                ),
                F.count("*"),
            ).alias("coverage"),
        )
    )


def quantile_normalize_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Quantile normalization across groups (the batch-effect
    correction standard in bioinformatics, Bolstad et al. 2003): map
    each group's values onto the POOLED distribution by rank — value →
    percent_rank within group → the pooled order statistic at that
    rank — so every group ends up with (nearly) the same marginal
    distribution. Reports per-group moments of the mapped values
    (group, n, mean_raw, mean_mapped, var_mapped): groups whose
    mean_mapped still diverge are too small for rank alignment.

    Determinism: percent_rank ties follow SQL semantics identically in
    any engine; the pooled index is floor(r·(N−1) + 0.5) — explicit
    floor, not round, so no half-even/half-up divergence; moment sums
    are exact (DECIMAL) before one final double division.

    Scale shape: one window per group for percent_rank (shuffle on
    group), one GLOBAL row_number to index the pooled distribution —
    a single-partition sort acceptable for lookup-table-sized pools;
    at fact scale replace the pooled index with percentile_approx
    cutpoints (documented trade: exactness for one global sort)."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(group_col).alias("group"), F.col(value_col).cast("double").alias("v")
    )
    n_pool = base.agg(F.count("*").cast("long").alias("n_pool"))
    pooled = base.select(
        F.row_number()
        .over(Window.orderBy(F.col("v"), F.col("group")))
        .cast("long")
        .alias("idx"),
        F.col("v").alias("pooled_v"),
    )
    r = F.percent_rank().over(Window.partitionBy("group").orderBy("v"))
    idxed = base.crossJoin(F.broadcast(n_pool)).select(
        "group",
        "v",
        (F.floor(r * (F.col("n_pool") - 1).cast("double") + F.lit(0.5)) + 1)
        .cast("long")
        .alias("idx"),
    )
    mapped = idxed.join(pooled, "idx")
    dec = lambda c: F.sum(F.col(c).cast("decimal(38,12)")).cast("double")
    return (
        mapped.groupBy("group")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(dec("v") / F.count("*"), 6).alias("mean_raw"),
            F.round(dec("pooled_v") / F.count("*"), 6).alias("mean_mapped"),
            F.round(
                (
                    F.sum((F.col("pooled_v") * F.col("pooled_v")).cast("decimal(38,12)")).cast(
                        "double"
                    )
                    - dec("pooled_v") * dec("pooled_v") / F.count("*")
                )
                / F.count("*"),
                6,
            ).alias("var_mapped"),
        )
    )


def cvm_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-sample Cramér-von Mises drift between the first and second
    time half, per group — the integral companion to ``ks_drift``:
    where KS reacts to the single largest ECDF gap, CvM accumulates
    the SQUARED gap over the whole distribution
    (T = n1·n2/(n1+n2)² · Σ_points (F1−F2)², the Anderson 1962
    two-sample form summed over all pooled observations with
    multiplicity), so broad low-amplitude shifts that KS underweights
    show up. Same half-split, same empty-half omission contract, same
    (name, n1, n2, stat) shape as ks_drift — run both and alert when
    either trips.

    Exactness: ECDF steps are exact integer cumulative counts; each
    squared gap is a handful of double ops on exact ints; the
    per-group weighted sum accumulates in DECIMAL(38,12)
    (associative — identical under any partitioning and in the
    oracle). Scale shape: identical to ks_drift — value-grain count
    table, one cumulative window per group."""
    counts = _half_value_counts(df, group_col, value_col, ts_col)
    w, tot = _ecdf_windows()
    stepped = counts.select(
        "name",
        (F.col("__c1") + F.col("__c2")).alias("__m"),
        F.sum("__c1").over(w).alias("__cum1"),
        F.sum("__c2").over(w).alias("__cum2"),
        F.sum("__c1").over(tot).alias("__n1"),
        F.sum("__c2").over(tot).alias("__n2"),
    )
    gap = (
        F.col("__cum1").cast("double") / F.col("__n1")
        - F.col("__cum2").cast("double") / F.col("__n2")
    )
    return (
        stepped.where((F.col("__n1") > 0) & (F.col("__n2") > 0))
        .groupBy("name")
        .agg(
            F.sum((F.col("__m") * gap * gap).cast("decimal(38,12)"))
            .cast("double")
            .alias("__s"),
            F.min("__n1").cast("long").alias("n1"),
            F.min("__n2").cast("long").alias("n2"),
        )
        .select(
            "name",
            "n1",
            "n2",
            F.round(
                F.col("n1")
                * F.col("n2")
                / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2")))
                * F.col("__s"),
                6,
            ).alias("cvm"),
        )
    )


_FP_PRIME = 2305843009213693951  # 2^61 - 1


def group_fingerprint(
    df: DataFrame,
    group_col: str,
    cols: list[str],
) -> DataFrame:
    """Order-independent content fingerprint per group: each row hashes
    to a 44-bit integer (md5 of the '|'-joined column values — the
    same seed-free md5-derived hashing every operator here uses), and
    the group checksum is the SUM of row hashes mod 2^61−1. Addition
    is commutative/associative, so the fingerprint is independent of
    row order, partitioning, and engine — two snapshots of a table
    agree iff (up to hash collision) their row multisets agree, which
    makes this the cheap first-line reconciliation check before a
    row-level diff (``snapshot_diff``) is worth running. NULL columns
    hash as the empty string (concat_ws skips them) — two rows
    differing only in NULL vs '' collide by design; include an
    explicit sentinel upstream if that distinction matters.

    Returns (group, n_rows, fingerprint). Sums accumulate in
    DECIMAL(38,0) (exact); one map-side-combined aggregation, no
    join, no window, no sort."""
    basis = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    h = F.conv(F.substring(F.md5(basis), 1, 11), 16, 10).cast("long")
    return (
        df.select(F.col(group_col).alias("group"), h.alias("__h"))
        .groupBy("group")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.sum(F.col("__h").cast("decimal(38,0)")) % F.lit(_FP_PRIME))
            .cast("long")
            .alias("fingerprint"),
        )
    )


def ipf_raking(
    df: DataFrame,
    row_col: str,
    col_col: str,
    iters: int = 2,
) -> DataFrame:
    """Iterative proportional fitting (raking, Deming & Stephan 1940):
    reweight the (row, col) contingency cells so both marginals match
    UNIFORM targets — the survey-weighting / data-mix-balancing
    primitive (e.g. equalize language and source shares
    simultaneously without changing cell structure). Each iteration
    scales every cell by target/current row marginal, then by
    target/current column marginal; ``iters`` is fixed so the plan is
    static and an independent engine reproduces it as chained
    aggregations. Returns (row, col, n, weight) with weight the
    per-cell multiplier after ``iters`` iterations (round-6).

    Exactness: cell counts are exact ints; marginal sums of weighted
    counts accumulate in DECIMAL(38,12); each scaling is one double
    division in a fixed order. Scale shape per iteration: two
    marginal aggregations + two broadcast joins back onto the cell
    table (cells ≈ |rows|×|cols| — tiny relative to the fact table;
    the single fact-scale stage is the initial cell count)."""
    cells = (
        df.groupBy(F.col(row_col).alias("row"), F.col(col_col).alias("col"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    # uniform targets: total/n_rows per row marginal, total/n_cols per col
    tot = cells.agg(
        F.sum("n").cast("double").alias("__tot"),
        F.countDistinct("row").cast("double").alias("__nr"),
        F.countDistinct("col").cast("double").alias("__nc"),
    )
    cur = cells.crossJoin(F.broadcast(tot)).select(
        "row", "col", "n", "__tot", "__nr", "__nc",
        (F.col("n") * F.lit(1.0)).alias("__w"),
    )
    for _ in range(iters):
        rm = cur.groupBy("row").agg(
            F.sum(F.col("__w").cast("decimal(38,12)")).cast("double").alias("__rm")
        )
        cur = (
            cur.join(F.broadcast(rm), "row")
            .withColumn("__w", F.col("__w") * (F.col("__tot") / F.col("__nr")) / F.col("__rm"))
            .drop("__rm")
        )
        cm = cur.groupBy("col").agg(
            F.sum(F.col("__w").cast("decimal(38,12)")).cast("double").alias("__cm")
        )
        cur = (
            cur.join(F.broadcast(cm), "col")
            .withColumn("__w", F.col("__w") * (F.col("__tot") / F.col("__nc")) / F.col("__cm"))
            .drop("__cm")
        )
    return cur.select(
        "row", "col", "n", F.round(F.col("__w") / F.col("n"), 6).alias("weight")
    )


def srm_audit(
    df: DataFrame,
    unit_col: str,
    group_col: str,
) -> DataFrame:
    """Sample-ratio-mismatch audit (the first gate of any hash-split
    experiment): assign each unit to A/B by md5 half-range (the same
    seed-free split rule as hash_split/conformal_coverage), then per
    group compare observed counts against the expected 50/50 with a
    1-dof chi-square. A tripped flag (χ² > 3.841, the 95% critical
    value) means the split is biased for that slice — randomization
    bug, bot traffic, or id-space structure — and any downstream
    lift number is untrustworthy. Doubles as an A/A sanity harness:
    on healthy data nothing should flag.

    Counts are exact ints; χ² is three double ops on them — identical
    in any engine. One aggregation, no join, no window."""
    variant = F.when(
        F.substring(F.md5(F.col(unit_col).cast("string")), 1, 1).isin(*"01234567"),
        F.lit("A"),
    ).otherwise(F.lit("B"))
    agg = (
        df.select(F.col(group_col).alias("group"), variant.alias("__v"))
        .groupBy("group")
        .agg(
            F.sum(F.when(F.col("__v") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("__v") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    e = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = (F.col("n_a") - e) * (F.col("n_a") - e) / e + (
        F.col("n_b") - e
    ) * (F.col("n_b") - e) / e
    return agg.select(
        "group",
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


def bh_adjust(
    df: DataFrame,
    p_col: str,
    key_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a (small) family of
    per-group p-values: rank ascending, p_adj(i) = min_{j>=i} m·p(j)/j
    capped at 1 — the standard multiple-testing control before acting
    on a dashboard of drift/SRM tests (running 50 drift tests at 0.05
    each false-alarms weekly; BH keeps the FALSE DISCOVERY rate at
    alpha). Returns the input keys with (p, rank, p_adj, reject).

    The suffix-min is a reversed cumulative window; ranks break ties
    by key so both engines agree. The family is group-grain (one row
    per tested slice) — a global window over it is lookup-table-sized
    by construction."""
    from pyspark.sql.window import Window

    w_rank = Window.orderBy(F.col(p_col), F.col(key_col))
    ranked = df.select(
        F.col(key_col).alias("key"),
        F.col(p_col).alias("p"),
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("__m"),
    )
    w_suffix = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ranked.select(
        "key",
        F.round("p", 6).alias("p"),
        "rank",
        F.round(
            F.least(F.min(F.col("__m") * F.col("p") / F.col("rank")).over(w_suffix), F.lit(1.0)),
            6,
        ).alias("p_adj"),
    ).withColumn(
        "reject", F.when(F.col("p_adj") <= alpha, 1).otherwise(0).cast("long")
    )


def freshness_audit(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    window_sec: int = 86400,
) -> DataFrame:
    """Per-group data-freshness audit anchored to the GLOBAL max
    timestamp (no wall clock — deterministic and replayable): how far
    each group's latest event lags the table's latest, and how many
    events the group produced in the trailing ``window_sec`` before
    that global anchor. A feed whose staleness grows or whose trailing
    count collapses has stopped ingesting — the cheapest upstream-arm
    tripwire a pipeline dashboard runs per table per slice.

    Returns (group, n_events, staleness_sec, n_window). The global
    anchor rides a 1-row broadcast; one aggregation per group."""
    t = F.unix_micros(F.col(ts_col))
    anchor = df.agg(F.max(t).alias("__gmax"))
    return (
        df.crossJoin(F.broadcast(anchor))
        .select(
            F.col(group_col).alias("group"),
            t.alias("__t"),
            F.col("__gmax"),
        )
        .groupBy("group")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round((F.max("__gmax") - F.max("__t")) / 1000000.0, 6).alias(
                "staleness_sec"
            ),
            F.sum(
                F.when(
                    # micros literal built in Python: an INT*INT Spark
                    # expression would overflow 32 bits at 86400s
                    F.col("__t") > F.col("__gmax") - F.lit(int(window_sec) * 1000000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_window"),
        )
    )


def policy_replay(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    reward_col: str,
) -> DataFrame:
    """Offline policy evaluation by replay (Li et al., WSDM 2011): a
    deterministic target policy assigns each unit an arm by hash
    (md5(unit) mod n_arms over the sorted arm vocabulary); logged
    events whose arm MATCHES the target's choice are replayed, and
    their mean reward is an unbiased estimate of the target policy's
    value when the logging policy chose arms uniformly at random.
    Returns per arm (arm, n_logged, n_matched, replay_mean) — the
    match rate also audits the logging policy (n_matched/n_logged far
    from 1/n_arms means non-uniform logging and a biased estimate).

    The arm index rides a broadcast (arm-vocabulary-sized); matching
    is a map-side projection; reward means accumulate in
    DECIMAL(38,12). One fact-scale pass, no window."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(unit_col).cast("string").alias("u"),
        F.col(arm_col).alias("arm"),
        F.col(reward_col).cast("double").alias("r"),
    )
    arms_idx = (
        base.select("arm")
        .distinct()
        .select(
            "arm",
            (F.row_number().over(Window.orderBy("arm")) - 1).cast("long").alias("idx"),
        )
    )
    n_arms = arms_idx.agg(F.count("*").cast("long").alias("n_arms"))
    tgt = arms_idx.select(F.col("arm").alias("target_arm"), "idx")
    h = F.conv(F.substring(F.md5(F.col("u")), 1, 11), 16, 10).cast("long")
    matched = (
        base.crossJoin(F.broadcast(n_arms))
        .withColumn("t_idx", h % F.col("n_arms"))
        .join(F.broadcast(tgt), F.col("t_idx") == F.col("idx"))
        .select(
            "arm",
            "r",
            F.when(F.col("arm") == F.col("target_arm"), 1).otherwise(0).alias("m"),
        )
    )
    return (
        matched.groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n_logged"),
            F.sum("m").cast("long").alias("n_matched"),
            # an arm the hash rule never targets has sum(m)=0; the
            # unguarded division is NULL in both engines — sentinel
            # -1.0 keeps the no-NULL output invariant (oracle mirrors
            # with CASE).
            F.when(
                F.sum("m") > 0,
                # mean of event values (|x| << 4.5e3): bridge, never
                # bare F.round on the double quotient (midpoint class,
                # caught by the r9 round_lint tightening)
                _round6_bridge(
                    F.sum(F.when(F.col("m") == 1, F.col("r")).otherwise(F.lit(0.0)).cast("decimal(38,12)"))
                    .cast("double")
                    / F.sum("m")
                ),
            )
            .otherwise(F.lit(-1.0))
            .alias("replay_mean"),
        )
    )


def ab_lift(
    df: DataFrame,
    unit_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-slice A/B lift with a Welch t statistic: units split A/B by
    the same md5-half rule as ``srm_audit`` (run that first — a tripped
    SRM voids these numbers), then per group the two variant means are
    compared with the unequal-variance t
    (t = (μ_A−μ_B)/√(s²_A/n_A + s²_B/n_B)). On hash-split A/A data the
    lift should hover near 0 with |t| < 2 — any slice that trips on an
    A/A run exposes id-space structure, not a treatment effect.

    Exactness: all moments accumulate in DECIMAL(38,12) (count, sum,
    sum-of-squares per variant — associative, engine-identical); the
    final t is a fixed sequence of double ops. One aggregation, no
    join, no window."""
    variant = F.when(
        F.substring(F.md5(F.col(unit_col).cast("string")), 1, 1).isin(*"01234567"),
        F.lit(1),
    ).otherwise(F.lit(0))
    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(group_col).alias("group"), variant.alias("a"), v.alias("v")
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    agg = base.groupBy("group").agg(
        F.sum("a").cast("long").alias("n_a"),
        (F.count("*") - F.sum("a")).cast("long").alias("n_b"),
        dec(F.when(F.col("a") == 1, F.col("v")).otherwise(0.0)).alias("s_a"),
        dec(F.when(F.col("a") == 0, F.col("v")).otherwise(0.0)).alias("s_b"),
        dec(F.when(F.col("a") == 1, F.col("v") * F.col("v")).otherwise(0.0)).alias("q_a"),
        dec(F.when(F.col("a") == 0, F.col("v") * F.col("v")).otherwise(0.0)).alias("q_b"),
    )
    ma = F.col("s_a") / F.col("n_a")
    mb = F.col("s_b") / F.col("n_b")
    va = (F.col("q_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (F.col("n_a") - 1)
    vb = (F.col("q_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (F.col("n_b") - 1)
    return agg.where((F.col("n_a") > 1) & (F.col("n_b") > 1)).select(
        "group",
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(ma - mb, 6).alias("lift"),
        # both arms constant → zero standard error → t undefined; 0.0
        # sentinel on BOTH sides (ANSI divide would error)
        F.when(
            va / F.col("n_a") + vb / F.col("n_b") > 0,
            F.round((ma - mb) / F.sqrt(va / F.col("n_a") + vb / F.col("n_b")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("t_welch"),
    )


def simpson_check(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Simpson's-paradox detector: the OLS slope of y on x within each
    group versus the POOLED slope over all rows. A group whose slope
    sign disagrees with the pooled sign (flip=1) marks a relationship
    that inverts under aggregation — acting on the pooled number would
    point the wrong way for that segment. Returns one row per group:
    (group, n, slope, pooled_slope, flip).

    Exactness: slopes are the closed form (nΣxy − ΣxΣy)/(nΣx² −
    (Σx)²) over DECIMAL(38,12) moment sums; the pooled moments are the
    SAME per-group sums re-aggregated (one extra tiny aggregation, no
    second fact scan) and ride a 1-row broadcast."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.select(F.col(group_col).alias("group"), x.alias("x"), y.alias("y"))
    dec = lambda c: F.sum(c.cast("decimal(38,12)"))
    per = base.groupBy("group").agg(
        F.count("*").cast("long").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
    )
    def slope(n, sx, sy, sxy, sxx):
        return (
            n * sxy.cast("double") - sx.cast("double") * sy.cast("double")
        ) / (n * sxx.cast("double") - sx.cast("double") * sx.cast("double"))

    pooled = per.agg(
        F.sum("n").cast("long").alias("pn"),
        F.sum("sx").alias("px"),
        F.sum("sy").alias("py"),
        F.sum("sxy").alias("pxy"),
        F.sum("sxx").alias("pxx"),
    )
    g_slope = slope(F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx"))
    p_slope = slope(F.col("pn"), F.col("px"), F.col("py"), F.col("pxy"), F.col("pxx"))
    return (
        per.crossJoin(F.broadcast(pooled))
        .select(
            "group",
            "n",
            F.round(g_slope, 6).alias("slope"),
            F.round(p_slope, 6).alias("pooled_slope"),
            F.when(F.round(g_slope, 6) * F.round(p_slope, 6) < 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("flip"),
        )
    )


def post_stratified_mean(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
) -> DataFrame:
    """Post-stratification estimator: the overall mean re-weighted so
    every stratum contributes EQUALLY (uniform target shares) — the
    correction applied when a feed over/under-samples segments and the
    raw mean would inherit that skew. Returns ONE row: (n, n_strata,
    raw_mean, post_mean, max_stratum_share) — a raw-vs-corrected gap
    that exceeds tolerance is the tripwire that the mix shifted.

    Per-stratum sums in DECIMAL(38,12); the estimator is
    (1/H)·Σ_h mean_h — per-stratum means averaged in a second tiny
    aggregation (stratum-grain). No join, no window."""
    v = F.col(value_col).cast("double")
    per = (
        df.select(F.col(stratum_col).alias("h"), v.alias("v"))
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n_h"),
            F.sum(F.col("v").cast("decimal(38,12)")).alias("s_h"),
            # exact cent sums: raw_mean over a 2-decimal fixed value is
            # an exact rational (cents / 100·n) — the grand events mean
            # lands EXACTLY on 41/640 in the adversarial set, where
            # bare F.round splits the engines (caught live in r8)
            F.sum(_cents(F.col("v"))).alias("c_h"),
        )
    )
    return per.agg(
        F.sum("n_h").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_strata"),
        _round6_ratio_dec_signed(
            F.sum("c_h"), F.lit(100) * F.sum("n_h")
        ).alias("raw_mean"),
        # per-stratum means re-cast to DECIMAL before the cross-stratum
        # sum so the reduction stays associative; the H-division output
        # goes through the probed DECIMAL(27,12) bridge (values at
        # event scale << 4.5e3), not bare F.round
        _round6_bridge(
            F.sum(
                (F.col("s_h").cast("double") / F.col("n_h")).cast("decimal(38,12)")
            ).cast("double")
            / F.count("*")
        ).alias("post_mean"),
        _round6_ratio(F.max("n_h"), F.sum("n_h")).alias(
            "max_stratum_share"
        ),
    )


def capture_recapture(
    df: DataFrame,
    unit_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate of the TRUE
    population behind a feed: units "captured" in the first time
    quarter form sample 1, units in the last quarter form sample 2,
    and the overlap m estimates total population N̂ = n1·n2/m (the
    Chapman small-sample correction (n1+1)(n2+1)/(m+1) − 1 is
    reported alongside). Comparing N̂ to the distinct units actually
    observed answers "what fraction of the universe does this feed
    see?" — the coverage question behind every crawl/telemetry
    completeness debate. Returns ONE row: (n1, n2, m, n_observed,
    chapman_est, coverage).

    Quarter boundaries derive from global min/max timestamps (1-row
    broadcast); membership is two distinct-aggregations plus one
    intersection count — all unit-grain, no window."""
    t = F.unix_micros(F.col(ts_col))
    scal = df.agg(
        F.min(t).alias("__lo"), F.max(t).alias("__hi")
    )
    base = df.crossJoin(F.broadcast(scal)).select(
        F.col(unit_col).alias("u"),
        (t <= F.col("__lo") + (F.col("__hi") - F.col("__lo")) / 4).alias("in1"),
        (t >= F.col("__hi") - (F.col("__hi") - F.col("__lo")) / 4).alias("in2"),
    )
    per_unit = base.groupBy("u").agg(
        F.max(F.col("in1").cast("int")).alias("s1"),
        F.max(F.col("in2").cast("int")).alias("s2"),
    )
    return per_unit.agg(
        F.sum("s1").cast("long").alias("n1"),
        F.sum("s2").cast("long").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("m"),
        F.count("*").cast("long").alias("n_observed"),
    ).select(
        "n1",
        "n2",
        "m",
        "n_observed",
        F.round(
            (F.col("n1") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1.0, 6
        ).alias("chapman_est"),
        F.round(
            F.col("n_observed")
            / ((F.col("n1") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1.0),
            6,
        ).alias("coverage"),
    )


def powerlaw_alpha(
    df: DataFrame,
    count_col: str,
    xmin: int = 5,
) -> DataFrame:
    """Hill maximum-likelihood estimate of a power-law tail exponent
    (Clauset-Shalizi-Newman 2009, eq. 3.1 for discrete-ish tails):
    α̂ = 1 + n_tail / Σ ln(x_i / (xmin − 0.5)) over observations with
    x ≥ xmin. Run over token frequencies it checks Zipf behaviour (α
    ≈ 2 for natural text — flatter tails mean templated/duplicated
    content); over degree or activity counts it grades hubbiness.
    Returns ONE row: (n_tail, xmin, alpha, tail_mass_share).

    The log terms accumulate in DECIMAL(38,12); everything else is
    exact integer sums. One filter + one aggregation over an already
    count-grain table."""
    x = F.col(count_col).cast("double")
    tail = F.when(x >= float(xmin), 1).otherwise(0)
    return df.agg(
        F.sum(tail).cast("long").alias("n_tail"),
        F.lit(int(xmin)).cast("long").alias("xmin"),
        # exempt: alpha's denominator is a sum of ln() terms — a
        # full-precision transcendental double, not an exact rational,
        # so 7th-decimal round-6 midpoints are measure-zero here
        F.round(
            1.0
            + F.sum(tail).cast("double")
            / F.sum(
                F.when(x >= float(xmin), F.log(x / (float(xmin) - 0.5)))
                .otherwise(F.lit(0.0))
                .cast("decimal(38,12)")
            ).cast("double"),
            6,
        ).alias("alpha"),
        # tail mass over INTEGER counts is an exact integer ratio —
        # DECIMAL route (token-count sums pass the BIGINT·2e6 ceiling
        # at corpus scale); midpoint class, caught by the r9 lint
        _round6_ratio_dec(
            F.sum(
                F.when(x >= float(xmin), F.col(count_col).cast("long")).otherwise(
                    F.lit(0)
                )
            ),
            F.sum(F.col(count_col).cast("long")),
        ).alias("tail_mass_share"),
    )


def scale_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Variance-ratio drift between the first and second time half,
    per group — the SCALE companion to the location-sensitive
    ks/cvm/psi family: a feed whose mean holds but whose spread
    doubles (sensor degradation, mixed populations, unit changes)
    sails through mean-drift checks and trips this one. Reports the
    per-group F ratio var₁/var₂ and its log (symmetric around 0).
    Same half-split and empty-half omission contract as ks_drift.
    Returns (name, n1, n2, var_ratio, log_ratio).

    Variances come from DECIMAL moment sums (count/sum/sum-of-squares
    per half — associative); one aggregation, no window, no join
    beyond the 1-row midpoint broadcast."""
    scal = df.agg(
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid")
    )
    h1 = F.unix_micros(F.col(ts_col)) <= F.col("__mid")
    v = F.col(value_col).cast("double")
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    agg = (
        df.crossJoin(F.broadcast(scal))
        .select(F.col(group_col).alias("name"), h1.cast("int").alias("h"), v.alias("v"))
        .groupBy("name")
        .agg(
            F.sum("h").cast("long").alias("n1"),
            (F.count("*") - F.sum("h")).cast("long").alias("n2"),
            dec(F.when(F.col("h") == 1, F.col("v")).otherwise(0.0)).alias("s1"),
            dec(F.when(F.col("h") == 0, F.col("v")).otherwise(0.0)).alias("s2"),
            dec(F.when(F.col("h") == 1, F.col("v") * F.col("v")).otherwise(0.0)).alias("q1"),
            dec(F.when(F.col("h") == 0, F.col("v") * F.col("v")).otherwise(0.0)).alias("q2"),
        )
    )
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)
    v2 = (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1)
    # constant windows (zero variance) make the ratio undefined — and
    # Spark's ANSI divide ERRORS on them where DuckDB would NULL; drop
    # those groups on BOTH sides
    return agg.where(
        (F.col("n1") > 1) & (F.col("n2") > 1) & (v1 > 0) & (v2 > 0)
    ).select(
        "name",
        "n1",
        "n2",
        F.round(v1 / v2, 6).alias("var_ratio"),
        F.round(F.log(v1 / v2), 6).alias("log_ratio"),
    )


def cohens_kappa(
    df: DataFrame,
    label_a: str,
    label_b: str,
) -> DataFrame:
    """Cohen's kappa between two categorical labelings of the same
    rows (Cohen 1960) — chance-corrected agreement: κ = (p_o −
    p_e)/(1 − p_e) with p_o the observed agreement rate and p_e the
    agreement expected from the two marginal distributions alone.
    The one-number upgrade over raw accuracy for judging a classifier
    against ground truth (a majority-class predictor scores high
    accuracy but κ ≈ 0) or two annotators against each other.
    Returns ONE row: (n, po, pe, kappa).

    Exactness: p_o and every marginal are ratios of exact integer
    counts; p_e sums exact integer PRODUCTS (n_a(c)·n_b(c)) before a
    single division — no float accumulation anywhere. Scale shape:
    one row-grain aggregation to class-marginal counts, then
    class-grain arithmetic (a full-outer join of two tiny marginal
    tables)."""
    base = df.select(
        F.col(label_a).cast("string").alias("a"),
        F.col(label_b).cast("string").alias("b"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ma = base.groupBy(F.col("a").alias("cls")).agg(F.count("*").cast("long").alias("na"))
    mb = base.groupBy(F.col("b").alias("cls")).agg(F.count("*").cast("long").alias("nb"))
    cross = (
        ma.join(mb, "cls", "full_outer")
        .select(
            (
                F.coalesce(F.col("na"), F.lit(0)) * F.coalesce(F.col("nb"), F.lit(0))
            ).alias("prod")
        )
        .agg(F.sum("prod").cast("decimal(38,0)").alias("sum_prod"))
    )
    # kappa = (po-pe)/(1-pe) restructured to ONE exact signed integer
    # ratio (agree·n − Σnₐn_b)/(n² − Σnₐn_b); the n² and agree·n
    # products pass the BIGINT·2e6 ANSI ceiling at fact scale, so the
    # whole rational runs in DECIMAL(38,0) (_round6_ratio_dec*) — no
    # long cast of Σnₐn_b anywhere
    nn = F.col("n").cast("decimal(38,0)") * F.col("n")
    return (
        tot.crossJoin(F.broadcast(cross))
        .select(
            "n",
            _round6_ratio(F.col("agree"), F.col("n")).alias("po"),
            _round6_ratio_dec(F.col("sum_prod"), nn).alias("pe"),
            _round6_ratio_dec_signed(
                F.col("agree").cast("decimal(38,0)") * F.col("n")
                - F.col("sum_prod"),
                nn - F.col("sum_prod"),
            ).alias("kappa"),
        )
    )


def did_estimate(
    df: DataFrame,
    unit_col: str,
    treated_units: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Difference-in-differences estimator: split time at the global
    midpoint, compare the before→after change in mean outcome for
    TREATED units against the change for controls —
    DiD = (T₂−T₁) − (C₂−C₁) nets out both the level difference
    between groups and the common time trend (the parallel-trends
    workhorse of applied causal analysis). ``treated_units`` is a
    one-column DataFrame of treated unit ids (broadcast). Returns ONE
    row: (n_treated, n_control, t_pre, t_post, c_pre, c_post, did).

    All four cell means come from DECIMAL(38,12) sums over exact
    splits; one fact-scale aggregation after a broadcast semi-mark
    join, no window."""
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    scal = df.agg(F.floor((F.min(t) + F.max(t)) / 2).cast("long").alias("__mid"))
    tu = treated_units.select(
        F.col(treated_units.columns[0]).alias("__tu"), F.lit(1).alias("__is_t")
    )
    base = (
        df.crossJoin(F.broadcast(scal))
        .join(F.broadcast(tu), F.col(unit_col) == F.col("__tu"), "left")
        .select(
            F.coalesce(F.col("__is_t"), F.lit(0)).alias("g"),
            (t > F.col("__mid")).cast("int").alias("p"),
            F.col(value_col).cast("double").alias("v"),
            F.col(unit_col).alias("u"),
        )
    )
    dec = lambda cond: F.sum(
        F.when(cond, F.col("v")).otherwise(0.0).cast("decimal(38,12)")
    ).cast("double")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))
    # an EMPTY cell (e.g. no control-period rows) makes its mean
    # undefined: 0.0 sentinel on BOTH sides instead of the ANSI
    # divide error / NULL split
    cell = lambda cond: F.when(cnt(cond) > 0, dec(cond) / cnt(cond)).otherwise(
        F.lit(0.0)
    )
    agg = base.agg(
        F.countDistinct(F.when(F.col("g") == 1, F.col("u"))).cast("long").alias("n_treated"),
        F.countDistinct(F.when(F.col("g") == 0, F.col("u"))).cast("long").alias("n_control"),
        cell((F.col("g") == 1) & (F.col("p") == 0)).alias("t_pre"),
        cell((F.col("g") == 1) & (F.col("p") == 1)).alias("t_post"),
        cell((F.col("g") == 0) & (F.col("p") == 0)).alias("c_pre"),
        cell((F.col("g") == 0) & (F.col("p") == 1)).alias("c_post"),
    )
    return agg.select(
        "n_treated",
        "n_control",
        F.round("t_pre", 6).alias("t_pre"),
        F.round("t_post", 6).alias("t_post"),
        F.round("c_pre", 6).alias("c_pre"),
        F.round("c_post", 6).alias("c_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 6
        ).alias("did"),
    )


def theil_decomposition(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-T inequality index with its exact between/within
    decomposition (the property Gini lacks): T = Σᵢ (xᵢ/(Nμ))·ln(xᵢ/μ)
    splits ADDITIVELY into T_between (inequality of group means) +
    Σ_g s_g·T_g (share-weighted within-group inequality), answering
    "is the concentration across sources or inside them?" — the
    actionable version of a single concentration number. Requires
    positive values (zero/negative rows are dropped, count reported).
    Returns ONE row: (n, n_dropped, theil_total, theil_between,
    theil_within).

    Exactness: value sums are DECIMAL; each ln term is a fixed double
    expression over exact sums; per-group ln-term sums accumulate in
    DECIMAL before the final share-weighted merge (group-grain). Two
    aggregations (rows → groups → scalar), no window, no join beyond
    1-row broadcasts."""
    v = F.col(value_col).cast("double")
    base = df.select(F.col(group_col).alias("g"), v.alias("v"))
    dropped = base.where(~(F.col("v") > 0)).agg(
        F.count("*").cast("long").alias("n_dropped")
    )
    pos = base.where(F.col("v") > 0)
    per = pos.groupBy("g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(F.col("v").cast("decimal(38,12)")).alias("s_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
    )
    # per-row term needs the global mean; ride it in via broadcast
    withmu = pos.crossJoin(F.broadcast(tot)).select(
        "g",
        "v",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.col("n"),
    )
    within_g = (
        withmu.select(
            "g",
            ((F.col("v") / F.col("mu")) * F.log(F.col("v") / F.col("mu"))).alias("t"),
            F.col("n"),
        )
        .groupBy("g")
        .agg(
            F.sum(F.col("t").cast("decimal(38,12)")).cast("double").alias("tsum"),
            F.max("n").alias("n"),
        )
    )
    total_t = within_g.agg(
        (
            F.sum(F.col("tsum").cast("decimal(38,12)")).cast("double") / F.max("n")
        ).alias("theil_total")
    )
    between = (
        per.crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("s_g").cast("double") / F.col("s").cast("double"))
                * F.log(
                    (F.col("s_g").cast("double") / F.col("n_g"))
                    / (F.col("s").cast("double") / F.col("n"))
                )
            ).alias("tb")
        )
        .agg(
            F.sum(F.col("tb").cast("decimal(38,12)")).cast("double").alias("theil_between")
        )
    )
    return (
        tot.crossJoin(F.broadcast(dropped))
        .crossJoin(F.broadcast(total_t))
        .crossJoin(F.broadcast(between))
        .select(
            "n",
            "n_dropped",
            F.round("theil_total", 6).alias("theil_total"),
            F.round("theil_between", 6).alias("theil_between"),
            F.round(F.col("theil_total") - F.col("theil_between"), 6).alias(
                "theil_within"
            ),
        )
    )


def wasserstein_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-sample 1-D Wasserstein (earth-mover) distance between the
    first and second time half, per group: W₁ = ∫|F₁−F₂| dx over the
    pooled value axis — the third member of the drift family (KS =
    the SUP of the ECDF gap, CvM = the integral of its SQUARE, W₁ =
    its integral in VALUE units, so "the mean shifted by ~0.3 units"
    reads straight off the statistic). Same half-split/omission
    contract and (name, n1, n2, stat) shape as ks/cvm_drift.

    Exactness: between consecutive distinct values the ECDF gap is
    constant, so W₁ is exactly Σ_steps |gap|·Δvalue — cumulative
    integer counts, one lead() for Δvalue, DECIMAL accumulation of
    the products. Scale shape identical to ks_drift: value-grain
    count table + one window per group."""
    from pyspark.sql.window import Window

    counts = _half_value_counts(df, group_col, value_col, ts_col)
    w, tot = _ecdf_windows()
    w_lead = Window.partitionBy("name").orderBy("__v")
    stepped = counts.select(
        "name",
        "__v",
        F.sum("__c1").over(w).alias("__cum1"),
        F.sum("__c2").over(w).alias("__cum2"),
        F.sum("__c1").over(tot).alias("__n1"),
        F.sum("__c2").over(tot).alias("__n2"),
        (F.lead("__v").over(w_lead) - F.col("__v")).alias("__dv"),
    )
    gap = F.abs(
        F.col("__cum1").cast("double") / F.col("__n1")
        - F.col("__cum2").cast("double") / F.col("__n2")
    )
    return (
        stepped.where(
            (F.col("__n1") > 0) & (F.col("__n2") > 0) & F.col("__dv").isNotNull()
        )
        .groupBy("name")
        .agg(
            # round the exact DECIMAL sum FIRST, cast to double after
            # (CLAUDE.md invariant): rounding the post-cast double
            # reopens the shortest-rendering midpoint split
            F.round(
                F.sum((gap * F.col("__dv")).cast("decimal(38,12)")), 6
            ).cast("double").alias("w1"),
            F.min("__n1").cast("long").alias("n1"),
            F.min("__n2").cast("long").alias("n2"),
        )
        .select("name", "n1", "n2", "w1")
    )


def variance_decomposition(
    df: DataFrame,
    factor_a: str,
    factor_b: str,
    value_col: str,
) -> DataFrame:
    """Two-factor variance decomposition (the ANOVA sums-of-squares
    identity as an EDA tool): how much of a metric's variance do two
    categorical factors explain, alone and together? Reports
    η²(A) = SS_A/SS_total, η²(B), η²(A×B cells) and the residual
    share — the 10-second answer to "is value driven by event type,
    by hour of day, both, or neither". SS_A = Σ_a n_a(μ_a−μ)²
    computed from exact per-cell DECIMAL moment sums; cell grain =
    |A|×|B|, tiny. Returns ONE row: (n, eta2_a, eta2_b, eta2_cells,
    residual_share).

    One fact-scale aggregation to (a, b) cells; everything after is
    cell-grain arithmetic with 1-row broadcast totals."""
    v = F.col(value_col).cast("double")
    cells = (
        df.select(
            F.col(factor_a).alias("a"), F.col(factor_b).alias("b"), v.alias("v")
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n_c"),
            F.sum(F.col("v").cast("decimal(38,12)")).alias("s_c"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).alias("q_c"),
        )
    )
    tot = cells.agg(
        F.sum("n_c").cast("long").alias("n"),
        F.sum("s_c").alias("s"),
        F.sum("q_c").alias("q"),
    )
    # SS helpers: group sums over cells, then Σ n_g(μ_g − μ)² =
    # Σ s_g²/n_g − s²/N (the computational ANOVA form — exact sums)
    def ss_between(grouped):
        return grouped.agg(
            F.sum(
                (
                    F.col("s_g").cast("double")
                    * F.col("s_g").cast("double")
                    / F.col("n_g")
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("ssq")
        )

    ga = ss_between(
        cells.groupBy("a").agg(
            F.sum("n_c").cast("long").alias("n_g"), F.sum("s_c").alias("s_g")
        )
    ).select(F.col("ssq").alias("ssq_a"))
    gb = ss_between(
        cells.groupBy("b").agg(
            F.sum("n_c").cast("long").alias("n_g"), F.sum("s_c").alias("s_g")
        )
    ).select(F.col("ssq").alias("ssq_b"))
    gc = cells.agg(
        F.sum(
            (
                F.col("s_c").cast("double") * F.col("s_c").cast("double") / F.col("n_c")
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("ssq_c")
    )
    base = (
        tot.crossJoin(F.broadcast(ga))
        .crossJoin(F.broadcast(gb))
        .crossJoin(F.broadcast(gc))
    )
    corr = F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ss_tot = F.col("q").cast("double") - corr
    return base.select(
        "n",
        F.round((F.col("ssq_a") - corr) / ss_tot, 6).alias("eta2_a"),
        F.round((F.col("ssq_b") - corr) / ss_tot, 6).alias("eta2_b"),
        F.round((F.col("ssq_c") - corr) / ss_tot, 6).alias("eta2_cells"),
        F.round(
            (F.col("q").cast("double") - F.col("ssq_c")) / ss_tot, 6
        ).alias("residual_share"),
    )


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Wilson score interval for a per-group proportion (Wilson 1927)
    — the binomial CI that actually behaves at small n and extreme
    p, unlike the naive Wald interval every dashboard starts with
    (Wald collapses to zero width at p̂∈{0,1}; Wilson doesn't).
    ``success_col`` is a 0/1 column. Returns (group, n, p_hat, ci_lo,
    ci_hi) at the z-quantile supplied (default two-sided 95%).

    Counts are exact ints; the interval is a fixed double formula on
    them — identical in any engine. One aggregation, no join."""
    s = F.col(success_col).cast("long")
    agg = (
        df.select(F.col(group_col).alias("group"), s.alias("s"))
        .groupBy("group")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("s").cast("long").alias("k"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("k") / n
    z2 = float(z) * float(z)
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return agg.select(
        "group",
        "n",
        _round6_ratio(F.col("k"), F.col("n")).alias("p_hat"),
        # k=0 makes center-half a tiny-negative residual: Spark's round
        # drops the zero sign (+0.0) but DuckDB's keeps it (-0.0), so
        # the oracle twin normalizes with `+ 0.0` (signed-zero
        # invariant, tools/zero_audit.py).
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ts_col: str = "ts",
    bucket_sec: int = 86400,
) -> DataFrame:
    """Mann-Kendall nonparametric trend test per group over the
    bucket-grain value series: S = Σ_{i<j} sign(x_j − x_i), with the
    normal approximation z = (S∓1)/√Var(S) (continuity-corrected; the
    tie adjustment is omitted — bucket sums of continuous values tie
    with measure zero). The distribution-free companion to the
    Theil-Sen slope: MK answers IS there a monotone trend, Theil-Sen
    says how steep. Returns (group, n_buckets, s_stat, z).

    Scale shape: the fact table collapses to per-(group, bucket) sums
    first; the O(b²) pair comparison then runs on the BUCKET series
    (days, not rows) via a within-group self-join — bounded by
    (series length)², never by data size."""
    b = F.floor(F.col(ts_col).cast("double") / bucket_sec).cast("long")
    per = (
        df.select(
            F.col(group_col).alias("g"), b.alias("b"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("g", "b")
        .agg(F.sum(F.col("v").cast("decimal(38,12)")).cast("double").alias("x"))
    )
    l = per.select(F.col("g"), F.col("b").alias("bi"), F.col("x").alias("xi"))
    r = per.select(F.col("g").alias("g2"), F.col("b").alias("bj"), F.col("x").alias("xj"))
    pairs = l.join(r, (F.col("g") == F.col("g2")) & (F.col("bi") < F.col("bj")))
    s_terms = F.when(F.col("xj") > F.col("xi"), 1).when(
        F.col("xj") < F.col("xi"), -1
    ).otherwise(0)
    agg = pairs.groupBy("g").agg(
        F.sum(s_terms).cast("long").alias("s_stat"),
        (F.countDistinct("bi") + 1).cast("long").alias("n_buckets"),
    )
    nn = F.col("n_buckets").cast("double")
    var = nn * (nn - 1.0) * (2.0 * nn + 5.0) / 18.0
    zc = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        F.col("g").alias("group"),
        "n_buckets",
        "s_stat",
        F.round(zc, 6).alias("z"),
    )


def peak_detection(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    bucket_sec: int = 3600,
    min_prominence: float = 1.5,
) -> DataFrame:
    """Local-peak census over per-group bucket counts: a bucket is a
    peak when its count strictly exceeds BOTH neighbours and clears
    ``min_prominence`` × the smaller neighbour — the load-spike /
    incident-detection primitive a monitoring stack runs per metric.
    (Neighbours step over NON-EMPTY buckets, the same gap contract as
    ewma_smooth/anomaly_zscore.) Returns per group: (group, n_buckets,
    n_peaks, max_peak, max_peak_bucket).

    One aggregation to bucket counts, one lag/lead window per group
    over the BUCKET series."""
    from pyspark.sql.window import Window

    b = F.floor(F.col(ts_col).cast("double") / bucket_sec).cast("long")
    per = (
        df.select(F.col(group_col).alias("g"), b.alias("b"))
        .groupBy("g", "b")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("g").orderBy("b")
    flagged = per.select(
        "g",
        "b",
        "n",
        F.lag("n").over(w).alias("prev"),
        F.lead("n").over(w).alias("nxt"),
    ).select(
        "g",
        "b",
        "n",
        (
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("n") > F.col("prev"))
            & (F.col("n") > F.col("nxt"))
            & (
                F.col("n").cast("double")
                >= F.lit(float(min_prominence)) * F.least("prev", "nxt").cast("double")
            )
        ).cast("int").alias("is_peak"),
    )
    return flagged.groupBy(F.col("g").alias("group")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("is_peak").cast("long").alias("n_peaks"),
        # -1 sentinels for peakless groups: NULLs canonicalize
        # differently across engines (None vs NaN)
        F.coalesce(
            F.max(F.when(F.col("is_peak") == 1, F.col("n"))), F.lit(-1)
        )
        .cast("long")
        .alias("max_peak"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("is_peak") == 1,
                    F.struct(F.col("n").alias("n"), F.col("b").alias("b")),
                )
            )["b"],
            F.lit(-1),
        )
        .cast("long")
        .alias("max_peak_bucket"),
    )


def schema_drift(
    df: DataFrame,
    json_col: str = "props",
    ts_col: str = "ts",
) -> DataFrame:
    """Semi-structured schema drift between the first and second time
    half: which JSON keys appeared, vanished, or changed prevalence —
    the event-payload evolution tripwire (a key silently renamed
    upstream shows up here before any consumer breaks). Returns one
    row per key ever seen: (key, n1, n2, share1, share2, status) with
    status ∈ {new, dropped, stable} (new = absent in half 1, dropped
    = absent in half 2).

    Keys come from json_object_keys (JVM builtin, map-only); counts
    are exact ints; shares divide by each half's ROW count so
    prevalence is comparable across halves of different sizes."""
    scal = df.agg(
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid")
    )
    half = F.when(F.unix_micros(F.col(ts_col)) <= F.col("__mid"), 1).otherwise(2)
    base = df.crossJoin(F.broadcast(scal)).select(
        half.alias("h"), F.col(json_col).alias("j")
    )
    rows = base.agg(
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(F.col("h") == 2, 1).otherwise(0)).cast("long").alias("r2"),
    )
    keys = base.select(
        "h", F.explode(F.json_object_keys(F.col("j"))).alias("key")
    )
    cnt = keys.groupBy("key").agg(
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("h") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    return (
        cnt.crossJoin(F.broadcast(rows))
        .select(
            "key",
            "n1",
            "n2",
            _round6_ratio(F.col("n1"), F.col("r1")).alias("share1"),
            _round6_ratio(F.col("n2"), F.col("r2")).alias("share2"),
            F.when(F.col("n1") == 0, "new")
            .when(F.col("n2") == 0, "dropped")
            .otherwise("stable")
            .alias("status"),
        )
    )


def cluster_ratio_ci(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    value_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Cluster-aware ratio-estimator CI (the survey-sampling ratio
    R = Σy_u/Σx_u over UNITS with the linearized variance
    Var(R) ≈ n/(n−1)·Σ(y_u − R·x_u)²/(Σx)²): the correct uncertainty
    for per-event averages when events cluster within users — the
    naive per-row SE pretends every event is independent and
    understates the interval, sometimes badly (the design effect
    column quantifies by how much). Returns per group: (group,
    n_units, n_rows, ratio, se_cluster, ci_lo, ci_hi).

    One aggregation to unit grain, one to group grain; the residual
    sum uses the moment identity Σ(y−Rx)² = Syy − 2R·Sxy + R²·Sxx
    over DECIMAL sums, so no second pass and no join-back."""
    per_unit = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(unit_col).alias("u"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("g", "u")
        .agg(
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double").alias("y"),
            F.count("*").cast("long").alias("x"),
        )
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    agg = per_unit.groupBy("g").agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("x").cast("long").alias("n_rows"),
        dec(F.col("y")).alias("sy"),
        F.sum("x").cast("double").alias("sx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("y") * F.col("x")).alias("sxy"),
        dec(F.col("x").cast("double") * F.col("x")).alias("sxx"),
    )
    r = F.col("sy") / F.col("sx")
    resid = F.col("syy") - 2.0 * r * F.col("sxy") + r * r * F.col("sxx")
    se = (
        F.sqrt(
            F.col("n_units").cast("double")
            / (F.col("n_units") - 1)
            * F.greatest(resid, F.lit(0.0))
        )
        / F.col("sx")
    )
    return agg.where(F.col("n_units") > 1).select(
        F.col("g").alias("group"),
        "n_units",
        "n_rows",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se_cluster"),
        F.round(r - float(z) * se, 6).alias("ci_lo"),
        F.round(r + float(z) * se, 6).alias("ci_hi"),
    )


def qq_shift_fit(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Quantile-quantile drift fit between the first and second time
    half, per group: regress the second half's deciles on the first's
    (OLS over the 9 matched quantile pairs). Where KS/CvM/W₁ say HOW
    MUCH the distribution moved, the QQ line says HOW — slope ≈ scale
    ratio, intercept ≈ location shift (slope 1/intercept 0 = no
    drift; slope 1/intercept 5 = pure +5 shift; slope 2/intercept 0 =
    pure spread doubling). Returns (name, slope, intercept).

    Exactness: deciles are the shared R-7 interpolated percentile;
    the 9-point OLS uses DECIMAL moment sums. Scale shape: exact
    per-half percentiles per group (one aggregation), then all
    fitting on 9-row-per-group tables."""
    scal = df.agg(
        F.floor(
            (F.min(F.unix_micros(F.col(ts_col))) + F.max(F.unix_micros(F.col(ts_col))))
            / 2
        )
        .cast("long")
        .alias("__mid")
    )
    half = F.when(F.unix_micros(F.col(ts_col)) <= F.col("__mid"), 1).otherwise(2)
    probs = [i / 10.0 for i in range(1, 10)]
    parr = F.array(*[F.lit(p) for p in probs])
    base = df.crossJoin(F.broadcast(scal)).select(
        F.col(group_col).alias("name"),
        half.alias("h"),
        F.col(value_col).cast("double").alias("v"),
    )
    qs = base.groupBy("name", "h").agg(F.percentile(F.col("v"), parr).alias("q"))
    pairs = (
        qs.where(F.col("h") == 1)
        .select("name", F.posexplode("q").alias("i", "q1"))
        .join(
            qs.where(F.col("h") == 2).select(
                "name", F.posexplode("q").alias("i", "q2")
            ),
            ["name", "i"],
        )
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    agg = pairs.groupBy("name").agg(
        F.count("*").cast("double").alias("n"),
        dec(F.col("q1")).alias("sx"),
        dec(F.col("q2")).alias("sy"),
        dec(F.col("q1") * F.col("q2")).alias("sxy"),
        dec(F.col("q1") * F.col("q1")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    # all-equal quantiles (zero spread) make the fit undefined — drop
    # the group on BOTH sides rather than hit the ANSI divide error
    return agg.where(den > 0).select(
        "name",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    )


def chao1_richness(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 species-richness estimate of the UNSEEN vocabulary
    (Chao 1984): V̂ = V_obs + F₁²/(2·F₂), where F₁/F₂ are the counts
    of tokens seen exactly once/twice. The ecology estimator applied
    to corpora answers "how much vocabulary would more crawling
    surface?" — the budget question Heaps-law extrapolation
    (vocab_growth) fits from the curve and Chao1 answers from one
    snapshot. Returns ONE row: (v_obs, f1, f2, chao1,
    unseen_share).

    One vocabulary-grain aggregation, one frequency-of-frequency
    aggregation; exact integer counts. Both outputs are exact rationals
    of integer counts with a SMALL denominator (2·F₂, or 2), so they
    land exactly on 7th-decimal round midpoints (any odd F₁ with
    F₂ = 320 does it) — rounded via the single-integer-ratio
    restructure, never F.round on the double:
    F₂>0: chao1 = (2·F₂·V + F₁²)/(2·F₂), unseen = F₁²/(2·F₂·V + F₁²);
    F₂=0 (Chao 1987 bias-corrected): chao1 = (2·V + F₁(F₁−1))/2,
    unseen = F₁(F₁−1)/(2·V + F₁(F₁−1)). The 2·F₂·V product can pass
    the BIGINT·2·10^6 ceiling at corpus scale, so the ratio runs in
    DECIMAL(38,0) (``_round6_ratio_dec``). Empty corpus (V = 0) emits
    the 0.0 sentinel for unseen_share on both engines (never NULL)."""
    from kairos_spark.operators.text import word_tokens

    toks = df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("n"))
    # coalesce the sums: over an EMPTY vocabulary (zero token rows)
    # F.sum returns NULL where F.count returns 0, and NULL f1/f2 would
    # cascade into a NULL chao1 — breaking the documented 0.0 sentinel
    # and the no-NULL invariant (ADVICE r7)
    agg = vocab.agg(
        F.count("*").cast("long").alias("v_obs"),
        F.coalesce(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("f1"),
        F.coalesce(
            F.sum(F.when(F.col("n") == 2, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("f2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — overflow-proof products
    # numerator of chao1 == denominator of unseen_share, in DECIMAL(38,0)
    num = F.when(
        F.col("f2") > 0,
        F.lit(2) * dec(F.col("f2")) * F.col("v_obs")
        + dec(F.col("f1")) * F.col("f1"),
    ).otherwise(
        F.lit(2) * dec(F.col("v_obs")) + dec(F.col("f1")) * (F.col("f1") - 1)
    )
    den = F.when(F.col("f2") > 0, F.lit(2) * dec(F.col("f2"))).otherwise(
        F.lit(2).cast("decimal(38,0)")
    )
    extra_num = F.when(
        F.col("f2") > 0, dec(F.col("f1")) * F.col("f1")
    ).otherwise(dec(F.col("f1")) * (F.col("f1") - 1))
    return agg.select(
        "v_obs",
        "f1",
        "f2",
        _round6_ratio_dec(num, den).alias("chao1"),
        F.when(
            num > 0, _round6_ratio_dec(extra_num, num)
        ).otherwise(F.lit(0.0)).alias("unseen_share"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Association strength between two categorical columns as a
    one-row (n, n_rows, n_cols, chi2, cramers_v) table — the
    bias/coupling audit a pipeline owner runs before treating two
    stratification keys as independent (source × language, shard ×
    label): V ≈ 0 means stratifying by one balances the other for
    free; V → 1 means the keys are aliases and stratified sampling on
    both double-counts.

    Determinism contract: chi² is the QUANTIZED definition
    n·(Σ⌊O²·10¹²/(r·c)⌋ − 10¹²)/10¹² — every per-cell term is an exact
    integer floor computed in DECIMAL(38,0) (O² ≤ r·c keeps each term
    ≤ 10¹²; O²·10¹² ≤ 10³⁶ stays inside DECIMAL(38,0) up to the
    10-TB-of-rows scale O ≤ 10¹²), so both engines sum IDENTICAL
    integers in any order — no float summation anywhere. The per-cell
    floor under-counts chi² by < n·cells/10¹² (≪ round-6 at profile
    grain); that bias is part of this operator's definition, mirrored
    exactly by the oracle. V = √(D/(10¹²·k)) with k = min(r−1, c−1)
    divides two exactly-representable integers (exact while
    D, 10¹²·k < 2⁵³, i.e. k ≤ ~9000 categories) — sqrt is the one
    IEEE-mandated bit-exact transcendental — and rounds through
    :func:`_round6_bridge` (V ≤ 1, inside the bridge bound).
    Degenerate tables (a single row or column category, k = 0)
    sentinel chi2 and V to 0.0 on both engines; no NULL, no x/0.

    Scale shape: ONE corpus shuffle (the (a, b) cell aggregate with
    map-side combine); marginals are cell-grain re-aggregates
    broadcast back onto cells; the finale is a single global combiner
    row. Raw rows never shuffle twice, nothing quadratic anywhere."""
    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count("*").alias("__o"))
    r = cells.groupBy("__a").agg(F.sum("__o").alias("__r"))
    c = cells.groupBy("__b").agg(F.sum("__o").alias("__c"))
    j = cells.join(F.broadcast(r), "__a").join(F.broadcast(c), "__b")
    e12 = F.lit(1_000_000_000_000).cast("decimal(38,0)")
    x = F.col("__o").cast("decimal(38,0)") * F.col("__o").cast("decimal(38,0)") * e12
    y = F.col("__r").cast("decimal(38,0)") * F.col("__c").cast("decimal(38,0)")
    term = ((x - F.pmod(x, y)) / y).cast("decimal(38,0)")
    agg = j.agg(
        F.sum("__o").cast("long").alias("n"),
        F.countDistinct("__a").cast("long").alias("n_rows"),
        F.countDistinct("__b").cast("long").alias("n_cols"),
        F.sum(term).alias("__s"),
    )
    k = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    d = F.greatest(
        F.col("__s") - F.lit(1_000_000_000_000).cast("decimal(38,0)"),
        F.lit(0).cast("decimal(38,0)"),
    )
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        F.when(
            k > 0,
            _round6_ratio_dec(F.col("n").cast("decimal(38,0)") * d, e12),
        )
        .otherwise(F.lit(0.0))
        .alias("chi2"),
        F.when(
            k > 0,
            _round6_bridge(
                F.sqrt(
                    d.cast("double")
                    / (F.lit(1_000_000_000_000) * k).cast("double")
                )
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("cramers_v"),
    )


def kendall_tau(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    type_a: str = "click",
    type_b: str = "view",
) -> DataFrame:
    """Kendall's τ-b between two event types' hourly volumes, per day —
    the rank-concordance complement to ``spearman_activity`` (rank
    correlation) and ``count_correlation`` (Pearson): τ counts
    concordant vs discordant hour pairs directly, so it is robust to
    any monotone volume transform and reads as a probability
    (P(concordant) − P(discordant)). The pairing audit for "do these
    two funnels move together hour by hour?".

    Exactness: C, D, and the tie counts are exact integers over
    BOUNDED per-day pair sets (≤ C(24,2) = 276 pairs/day); τ-b =
    (C−D)/√((n₀−t_x)(n₀−t_y)) divides an exact integer by the
    bit-exact sqrt of an exact integer product and rounds through the
    decimal bridge (|τ| ≤ 1). Days where either variable is constant
    across hours sentinel to 0.0 on both engines. Hours with no
    events of EITHER type carry no rank and are excluded by
    construction (no zero-spine — the oracle mirrors the same rule).

    Scale shape: ONE corpus aggregate to (day, hour) cells with
    conditional sums (map-side combined); the pair join runs on
    cell-grain rows (≤ 24/day) with day equality + hour inequality —
    bounded blocks, never corpus-quadratic; the finale is a
    |days|-row aggregate."""
    # epoch-derived day/hour (the ts_* oracle convention): exact
    # integer indexes, robust to the testdata's ts encoding changes
    us = F.unix_micros(F.col(ts_col))
    day = F.floor(us / F.lit(86_400_000_000.0)).cast("long")
    hour = F.floor(us / F.lit(3_600_000_000.0)).cast("long")
    cells = (
        df.where(F.col(type_col).isin([type_a, type_b]))
        .groupBy(day.alias("day"), hour.alias("__h"))
        .agg(
            F.sum(F.when(F.col(type_col) == type_a, 1).otherwise(0)).alias("__x"),
            F.sum(F.when(F.col(type_col) == type_b, 1).otherwise(0)).alias("__y"),
        )
    )
    a, b = cells.alias("a"), cells.alias("b")
    dx = F.col("b.__x") - F.col("a.__x")
    dy = F.col("b.__y") - F.col("a.__y")
    pairs = a.join(
        b, (F.col("a.day") == F.col("b.day")) & (F.col("a.__h") < F.col("b.__h"))
    ).select(
        F.col("a.day").alias("day"),
        (dx * dy > 0).cast("int").alias("__c"),
        (dx * dy < 0).cast("int").alias("__d"),
        (dx == 0).cast("int").alias("__tx"),
        (dy == 0).cast("int").alias("__ty"),
    )
    g = pairs.groupBy("day").agg(
        F.count("*").cast("long").alias("__n0"),
        F.sum("__c").cast("long").alias("concordant"),
        F.sum("__d").cast("long").alias("discordant"),
        F.sum("__tx").cast("long").alias("__t1"),
        F.sum("__ty").cast("long").alias("__t2"),
    )
    nh = cells.groupBy("day").agg(F.count("*").cast("long").alias("n_hours"))
    px = F.col("__n0") - F.col("__t1")
    py = F.col("__n0") - F.col("__t2")
    return nh.join(g, "day").select(
        "day",
        "n_hours",
        "concordant",
        "discordant",
        F.when(
            (px > 0) & (py > 0),
            _round6_bridge(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.sqrt((px * py).cast("double"))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("tau_b"),
    )


def cuped_adjustment(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """CUPED-adjusted experiment readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013): per-user PRE-period spend as the control covariate for
    the POST-period metric — the standard variance-reduction trick
    that makes an A/B readout significant weeks earlier at the same
    traffic. Pre/post split at the midpoint of the observed time range
    (exact integer µs); variant = md5 bucket of the user id (the
    repo's seed-free assignment, ``sampling.hash_bucket``); θ =
    cov(X,Y)/var(X) POOLED across variants (the published estimator —
    per-variant θ reintroduces bias); adjusted mean per variant is
    Ȳ_v − θ·(X̄_v − X̄).

    Exactness: values quantize to integer cents (``_cents``); every
    moment is an exact integer sum (cross products cast to
    DECIMAL(38,0) BEFORE multiplying — the ANSI long·long ceiling);
    raw means are exact cents ratios; θ and the adjusted means are
    single mirrored IEEE double expressions over exact-integer casts,
    output-rounded with the engine-identical sign·floor(|x|·10⁶+0.5)
    quantizer (safe at any magnitude, unlike the DECIMAL bridge).
    Degenerate var(X) = 0 sentinels θ to 0.0 — CUPED collapses to the
    raw readout on both engines.

    Scale shape: one fact-scale aggregate to USER grain (map-side
    combine; the 1-row min/max broadcast rides a BNLJ), then a 2-row
    variant aggregate and a 1-row global moment aggregate re-joined by
    broadcast. Raw events never shuffle twice; user-grain rows are the
    only shuffle payload."""
    from kairos_spark.operators.sampling import hash_bucket

    us = F.unix_micros(F.col(ts_col))
    minmax = df.agg(
        F.min(us).alias("__lo"), F.max(us).alias("__hi")
    )
    bound = F.expr("__lo + (__hi - __lo) div 2")
    c = _cents(F.col(value_col))
    per = (
        df.crossJoin(F.broadcast(minmax))
        .groupBy(F.col(user_col).alias("__u"))
        .agg(
            F.coalesce(F.sum(F.when(us < bound, c)), F.lit(0)).cast("long").alias("__x"),
            F.coalesce(F.sum(F.when(us >= bound, c)), F.lit(0)).cast("long").alias("__y"),
        )
        .withColumn("variant", hash_bucket(F.col("__u"), 2))
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    glob = per.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(dec("__x") * dec("__y")).alias("__sxy"),
        F.sum(dec("__x") * dec("__x")).alias("__sxx"),
        F.sum(dec("__y") * dec("__y")).alias("__syy"),
    )
    pv = per.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("__x").cast("long").alias("__svx"),
        F.sum("__y").cast("long").alias("__svy"),
    )
    j = pv.crossJoin(F.broadcast(glob))
    num = dec("__n") * F.col("__sxy") - dec("__sx") * dec("__sy")
    den_x = dec("__n") * F.col("__sxx") - dec("__sx") * dec("__sx")
    den_y = dec("__n") * F.col("__syy") - dec("__sy") * dec("__sy")
    theta = F.when(
        den_x.cast("double") > 0, num.cast("double") / den_x.cast("double")
    ).otherwise(F.lit(0.0))
    xbar_v = F.col("__svx").cast("double") / (100 * F.col("n_users")).cast("double")
    ybar_v = F.col("__svy").cast("double") / (100 * F.col("n_users")).cast("double")
    xbar = F.col("__sx").cast("double") / (100 * F.col("__n")).cast("double")
    adj = ybar_v - theta * (xbar_v - xbar)
    rho2 = F.when(
        (den_x.cast("double") > 0) & (den_y.cast("double") > 0),
        num.cast("double") * num.cast("double")
        / (den_x.cast("double") * den_y.cast("double")),
    ).otherwise(F.lit(0.0))

    def q6(col):
        mag = F.floor(F.abs(col) * F.lit(1_000_000.0) + F.lit(0.5))
        return (
            F.when(col >= 0, mag).otherwise(-mag).cast("long")
            / F.lit(1_000_000.0)
        )

    return j.select(
        "variant",
        "n_users",
        _round6_ratio_signed(F.col("__svy"), 100 * F.col("n_users")).alias("raw_mean"),
        q6(adj).alias("adj_mean"),
        q6(theta).alias("theta"),
        _round6_bridge(rho2).alias("rho2"),
    ).orderBy("variant")


def qte_deciles(
    df: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Quantile treatment effects at every decile — the distributional
    A/B readout (Koenker & Bassett's quantile lens applied to
    experiments): a mean lift of +2% can hide a policy that helps the
    p90 and hurts the p10, and only the per-quantile difference
    Q_treat(τ) − Q_control(τ) shows it. Variants are the repo's
    seed-free md5 user buckets (``sampling.hash_bucket``); the metric
    is the raw event value in exact integer cents.

    Exactness: both variants' deciles use the exact integer rank
    machinery (``_pct_pick``/``_pct_num``: row_number + count, the
    b·v_lo + k·(v_hi−v_lo) numerator) — never float percentile(); the
    QTE itself is the DIFFERENCE of two such numerators over the same
    denominator, one exact signed integer ratio. Negative values
    (refunds) route through the signed DECIMAL helpers.

    Scale shape: one shuffle to rank values within each variant (2
    partitions — at fleet scale partition further by stratum), one
    combiner aggregate per variant (27 conditional terms), a 2-row
    broadcast join, and a 9-row explode AFTER aggregation."""
    from pyspark.sql.window import Window

    from kairos_spark.operators.sampling import hash_bucket
    from kairos_spark.operators.windows import _pct_num, _pct_pick

    base = df.select(
        hash_bucket(F.col(user_col), 2).alias("__variant"),
        _cents(F.col(value_col)).alias("__v"),
        F.col(order_col).alias("__o"),
    )
    w = Window.partitionBy("__variant").orderBy("__v", "__o")
    wn = Window.partitionBy("__variant")
    ranked = base.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(wn)
    )
    picks = []
    for a in range(1, 10):
        picks.extend(_pct_pick("__v", a, 10, f"d{a}"))
    agg = ranked.groupBy("__variant").agg(
        F.count("*").cast("long").alias("n_events"), *picks
    )
    c = agg.where(F.col("__variant") == 0).select(
        F.col("n_events").alias("n_control"),
        *[
            _pct_num(f"d{a}", 10).alias(f"__nc{a}")
            for a in range(1, 10)
        ],
    )
    t = agg.where(F.col("__variant") == 1).select(
        F.col("n_events").alias("n_treat"),
        *[
            _pct_num(f"d{a}", 10).alias(f"__nt{a}")
            for a in range(1, 10)
        ],
    )
    j = c.crossJoin(F.broadcast(t))
    den = F.lit(1000)  # b=10 deciles × 100 cents per unit
    structs = [
        F.struct(
            F.lit(a).cast("long").alias("decile"),
            _round6_ratio_dec_signed(F.col(f"__nc{a}"), den).alias("q_control"),
            _round6_ratio_dec_signed(F.col(f"__nt{a}"), den).alias("q_treat"),
            _round6_ratio_dec_signed(
                F.col(f"__nt{a}") - F.col(f"__nc{a}"), den
            ).alias("qte"),
        )
        for a in range(1, 10)
    ]
    return j.select(
        "n_control", "n_treat", F.explode(F.array(*structs)).alias("__s")
    ).select(
        F.col("__s.decile").alias("decile"),
        "n_control",
        "n_treat",
        F.col("__s.q_control").alias("q_control"),
        F.col("__s.q_treat").alias("q_treat"),
        F.col("__s.qte").alias("qte"),
    )


def partial_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r(X,Y | Z) per group — the
    confound check behind every "quality correlates with dedup count"
    style claim: is the X–Y association real, or is Z (usually
    length) driving both? r_xy.z = (r_xy − r_xz·r_yz) /
    √((1−r_xz²)(1−r_yz²)) (the standard recursion, e.g. Kendall &
    Stuart). Inputs must be INTEGER-valued columns.

    Exactness: every pairwise correlation is built from exact
    DECIMAL(38,0) moment sums (products cast to decimal BEFORE
    multiplying — the ANSI ceiling); the r's and the partial are one
    mirrored IEEE expression over the exact casts (√ is bit-exact),
    bridge-rounded (|r| ≤ 1 modulo last-ulp wobble). Degenerate
    variance (any denominator ≤ 0, or a |r_·z| = 1 confound that
    zeroes the partial's denominator) sentinels to 0.0 on both sides.

    Scale shape: ONE map-side-combined aggregate per group carrying 10
    moment sums; everything after is group-grain arithmetic. No joins,
    no windows."""
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col(x_col).cast("long")).cast("long").alias("__sx"),
        F.sum(F.col(y_col).cast("long")).cast("long").alias("__sy"),
        F.sum(F.col(z_col).cast("long")).cast("long").alias("__sz"),
        F.sum(F.col(x_col).cast("decimal(38,0)") * F.col(y_col).cast("decimal(38,0)")).alias("__sxy"),
        F.sum(F.col(x_col).cast("decimal(38,0)") * F.col(z_col).cast("decimal(38,0)")).alias("__sxz"),
        F.sum(F.col(y_col).cast("decimal(38,0)") * F.col(z_col).cast("decimal(38,0)")).alias("__syz"),
        F.sum(F.col(x_col).cast("decimal(38,0)") * F.col(x_col).cast("decimal(38,0)")).alias("__sxx"),
        F.sum(F.col(y_col).cast("decimal(38,0)") * F.col(y_col).cast("decimal(38,0)")).alias("__syy"),
        F.sum(F.col(z_col).cast("decimal(38,0)") * F.col(z_col).cast("decimal(38,0)")).alias("__szz"),
    )
    n = dec("n_docs")
    cxy = (n * F.col("__sxy") - dec("__sx") * dec("__sy")).cast("double")
    cxz = (n * F.col("__sxz") - dec("__sx") * dec("__sz")).cast("double")
    cyz = (n * F.col("__syz") - dec("__sy") * dec("__sz")).cast("double")
    vx = (n * F.col("__sxx") - dec("__sx") * dec("__sx")).cast("double")
    vy = (n * F.col("__syy") - dec("__sy") * dec("__sy")).cast("double")
    vz = (n * F.col("__szz") - dec("__sz") * dec("__sz")).cast("double")
    # ANSI: even double division raises on /0, and a division buried in
    # a WHEN *condition* is evaluated unconditionally — so every r is a
    # sentineled column FIRST (the when-branch division only runs on
    # rows where ok holds), and pden is built from the sentineled r's.
    ok = (vx > 0) & (vy > 0) & (vz > 0)
    r_xy = F.when(ok, cxy / F.sqrt(vx * vy)).otherwise(F.lit(0.0))
    r_xz = F.when(ok, cxz / F.sqrt(vx * vz)).otherwise(F.lit(0.0))
    r_yz = F.when(ok, cyz / F.sqrt(vy * vz)).otherwise(F.lit(0.0))
    pden = (F.lit(1.0) - r_xz * r_xz) * (F.lit(1.0) - r_yz * r_yz)
    partial = F.when(
        ok & (pden > 0), (r_xy - r_xz * r_yz) / F.sqrt(pden)
    ).otherwise(F.lit(0.0))
    return g.select(
        "grp",
        "n_docs",
        _round6_bridge(r_xy).alias("r_xy"),
        _round6_bridge(r_xz).alias("r_xz"),
        _round6_bridge(r_yz).alias("r_yz"),
        _round6_bridge(partial).alias("partial_xy_z"),
    )


def brier_decomposition(
    df: DataFrame,
    cents_col: str,
    label_col: str,
    scale: int,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score —
    Brier = Reliability − Resolution + Uncertainty — the one table
    that says WHY a probability score is bad: badly calibrated values
    (high REL: fixable by recalibration, keep the model) vs no
    discriminative power (low RES: the score is noise, replace it).
    The decomposition companion to ``calibration_bins`` (ECE) and
    ``rank_auc``.

    ``cents_col`` must hold the score as an exact INTEGER in
    [0, scale] (score = cents/scale) — the same integer-score
    contract as the repo's cents machinery. Brier and Uncertainty are
    then single exact integer ratios; Reliability and Resolution sum
    per-bin squared deviations whose exact values have UNEQUAL
    denominators (n_k), so each bin term is quantized to an exact
    integer at 10^12 (REL) / 10^6 (RES) grain by exact DECIMAL floor
    division (the pmod-strip trick — engine-identical, ≤1e-12/1e-6
    absolute error per bin, deterministic on both engines), then
    summed exactly and rounded once via the DECIMAL ratio. No bare
    float summation anywhere — partition-order-proof by construction.

    SCALE BOUND (DECIMAL(38,0) contract, like _round6_ratio_dec's):
    the RES path squares e_k = n·y_k − n_k·y (|e_k| ≤ N²), so the
    final 2·10^6 · Σ(e_k²·10^6 div n_k) product is ≤ ~2·10^12·N⁴ and
    must stay under 10^38 → N ≲ 8·10^6 rows per call (hard ANSI error
    past it, DuckDB HUGEINT hits its ceiling similarly — fails loudly,
    never silently). Driver scales are ≤ 10^5; for a corpus-scale run
    drop the RES quantization grain from 10^6 to 10^3 (buys ~3 orders
    of magnitude) or pre-aggregate to bin grain upstream.

    Scale shape: one map-only projection, one n_bins-row combiner
    aggregate + a 1-row broadcast of corpus totals; everything after
    is bin-grain integer arithmetic."""
    c = F.col(cents_col).cast("long")
    y = F.col(label_col).cast("long")
    base = df.select(
        c.alias("__c"),
        y.alias("__y"),
        F.least(
            F.expr(f"({n_bins} * CAST({cents_col} AS BIGINT)) div {scale}"),
            F.lit(n_bins - 1).cast("long"),
        ).alias("__b"),
    )
    dec = lambda col: col.cast("decimal(38,0)")
    bins = base.groupBy("__b").agg(
        F.count("*").cast("long").alias("__nk"),
        F.sum("__c").cast("long").alias("__sc"),
        F.sum("__y").cast("long").alias("__yk"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__yy"),
        F.sum(
            dec(F.col("__c") - F.lit(scale) * F.col("__y"))
            * dec(F.col("__c") - F.lit(scale) * F.col("__y"))
        ).alias("__sq"),
    )
    j = bins.crossJoin(F.broadcast(tot))

    def floordiv(x, yv):
        return (x - F.pmod(x, yv)) / yv

    d_k = dec(F.col("__sc") - F.lit(scale) * F.col("__yk"))
    rel_term = floordiv(d_k * d_k * F.lit(1_000_000_000_000), dec(F.col("__nk")))
    e_k = dec(
        F.col("__n") * F.col("__yk") - F.col("__nk") * F.col("__yy")
    )
    res_term = floordiv(e_k * e_k * F.lit(1_000_000), dec(F.col("__nk")))
    agg = j.groupBy("__n", "__yy", "__sq").agg(
        F.sum(rel_term).alias("__rel"),
        F.sum(res_term).alias("__res"),
    )
    nn = dec(F.col("__n"))
    return agg.select(
        F.col("__n").alias("n"),
        _round6_ratio_dec(
            F.col("__sq"), F.lit(scale * scale) * nn
        ).alias("brier"),
        _round6_ratio_dec(
            F.col("__rel"),
            F.lit(1_000_000_000_000) * F.lit(scale * scale) * nn,
        ).alias("reliability"),
        _round6_ratio_dec(
            F.col("__res"), F.lit(1_000_000) * nn * nn * nn
        ).alias("resolution"),
        _round6_ratio_dec(
            dec(F.col("__yy")) * dec(F.col("__n") - F.col("__yy")), nn * nn
        ).alias("uncertainty"),
    )


def value_precision_audit(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
) -> DataFrame:
    """Rounding-artifact / price-point profile of a nominally
    2-decimal monetary column — the data-entry forensics panel
    (trailing-digit analysis, the same instrument as Benford-style
    digit tests but aimed at the LAST digits, where hand-entry,
    binning and charm pricing leave fingerprints): per group, the
    share of whole-unit values (cents ≡ 0 mod 100), dime-grid values
    (≡ 0 mod 10), .99 charm endings, and the modal final cent digit
    with its share. A share_int near 1 says the column was binned
    upstream; a top-digit share ≫ 1/10 says values are synthetic or
    templated — either way percentile/drift audits downstream are
    reading artifacts, not signal.

    Exactness: cents via the engine-mirrored ``exact._cents``
    (sign·floor(|x·100|+0.5)); every share is ONE exact integer
    ratio; the modal digit breaks count ties on the SMALLER digit
    (deterministic on uniform adversarial grids). NULL values are
    dropped on both engines (n counts scored rows only).

    Output: (group, n, share_int, share_dime, share_99, top_digit,
    top_digit_share).

    Scale shape: map-only cents extraction, one (group, digit)-grain
    aggregate (≤ 10 rows per group) and one group-grain rollup — the
    modal pick is a tiny per-group sort, never a corpus window."""
    from kairos_spark.exact import _cents

    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("group"),
        _cents(F.col(value_col)).alias("__c"),
    )
    # pmod: cents can be negative; both engines' % differ on negatives
    # (Spark % keeps sign) — pmod/((x % m) + m) % m agree instead
    digit = F.pmod(F.col("__c"), F.lit(10))
    mod100 = F.pmod(F.col("__c"), F.lit(100))
    per_digit = (
        base.select(
            "group",
            digit.alias("__d"),
            F.when(mod100 == 0, 1).otherwise(0).alias("__int"),
            F.when(F.pmod(F.col("__c"), F.lit(10)) == 0, 1)
            .otherwise(0)
            .alias("__dime"),
            F.when(mod100 == 99, 1).otherwise(0).alias("__n99"),
        )
        .groupBy("group", "__d")
        .agg(
            F.count("*").cast("long").alias("__nd"),
            F.sum("__int").cast("long").alias("__ni"),
            F.sum("__dime").cast("long").alias("__ndime"),
            F.sum("__n99").cast("long").alias("__n99s"),
        )
    )
    from pyspark.sql.window import Window

    wtop = Window.partitionBy("group").orderBy(
        F.col("__nd").desc(), F.col("__d").asc()
    )
    ranked = per_digit.withColumn("__rk", F.row_number().over(wtop))
    agg = per_digit.groupBy("group").agg(
        F.sum("__nd").cast("long").alias("n"),
        F.sum("__ni").cast("long").alias("__int_n"),
        F.sum("__ndime").cast("long").alias("__dime_n"),
        F.sum("__n99s").cast("long").alias("__99_n"),
    )
    top = ranked.where(F.col("__rk") == 1).select(
        "group", F.col("__d").alias("top_digit"), F.col("__nd").alias("__top_n")
    )
    return (
        agg.join(F.broadcast(top), "group")
        .select(
            "group",
            "n",
            _round6_ratio(F.col("__int_n"), F.col("n")).alias("share_int"),
            _round6_ratio(F.col("__dime_n"), F.col("n")).alias("share_dime"),
            _round6_ratio(F.col("__99_n"), F.col("n")).alias("share_99"),
            F.col("top_digit").cast("long").alias("top_digit"),
            _round6_ratio(F.col("__top_n"), F.col("n")).alias("top_digit_share"),
        )
        .orderBy("group")
    )
