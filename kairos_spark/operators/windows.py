"""Event-stream window operators: sessionization and as-of join.

Neither exists in the reference (kairos has no window functions at all —
SURVEY.md §2.4 "Window functions: none"); both are table stakes for the
event/training-data pipelines this engine targets, and both are pure
DataFrame window compositions — no UDFs, one key-shuffle each.

Scale shape (100 TB):
- Both operators shuffle ONCE on the entity key and then do an in-
  partition sort (Spark window). That is the same physical plan any
  warehouse uses for gaps-and-islands / ASOF; there is no cheaper
  general shape.
- Skewed keys (one user with 10^8 events) are the failure mode: the
  per-key sort is single-task. Mitigate upstream by splitting hot keys
  on a coarse time prefix (key, day) when key cardinality is known to
  be skewed — sessions never span days in that variant, which is the
  standard trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from kairos_spark.exact import (
    _round6_bridge,
    _round6_ratio,
    _round6_ratio_dec,
    _round6_ratio_dec_signed,
    _round6_ratio_signed,
)


def _pct_pick(val_col: str, a: int, b: int, tag: str) -> list:
    """Conditional-aggregate terms for the EXACT a/b percentile of an
    integer column, over rows already carrying ``__r`` (1-based
    row_number in value order within the group) and ``__n`` (group
    count): for idx_b = a·(n−1), lo = idx_b div b and k = idx_b mod b,
    emit [v_lo, v_hi, k] as three agg expressions tagged ``tag``. The
    caller combines them with :func:`_pct_num` into the exact integer
    numerator b·v_lo + k·(v_hi − v_lo), avoiding the float-interpolated
    percentile() whose exact-rational result lands on 7th-decimal
    midpoints (the round-6 engine-split class; ADVICE r9 /
    conversion_latency r10)."""
    idx = (F.col("__n") - 1) * a
    lo = ((idx - F.pmod(idx, F.lit(b))) / F.lit(b)).cast("long") + 1
    return [
        F.max(F.when(F.col("__r") == lo, F.col(val_col))).alias(f"__{tag}lo"),
        F.max(F.when(F.col("__r") == lo + 1, F.col(val_col))).alias(f"__{tag}hi"),
        F.max(F.pmod(idx, F.lit(b))).alias(f"__{tag}k"),
    ]


def _pct_num(tag: str, b: int):
    """Exact integer percentile numerator from :func:`_pct_pick` terms:
    b·v_lo + k·(v_hi − v_lo); divide by b·denominator via the DECIMAL
    ratio helpers."""
    d = F.coalesce(F.col(f"__{tag}hi"), F.col(f"__{tag}lo")) - F.col(f"__{tag}lo")
    return F.lit(b) * F.col(f"__{tag}lo") + F.col(f"__{tag}k") * d


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: float = 1800.0,
    order_col: str | None = None,
) -> DataFrame:
    """Assign gaps-and-islands session ids: a new session starts when
    the time since the key's previous event exceeds ``gap_sec``.

    Returns the input plus ``session_id`` (1-based, per key, in time
    order). One shuffle on ``key_col``; both window passes reuse the
    same sort order so Catalyst plans a single Exchange + Sort.
    """
    order = [ts_col] + ([order_col] if order_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    secs = F.col(ts_col).cast("double")
    prev = F.lag(secs).over(w)
    new_sess = F.when(prev.isNull() | ((secs - prev) > gap_sec), 1).otherwise(0)
    cum = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(new_sess).over(cum))


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: float = 1800.0,
    order_col: str | None = None,
) -> DataFrame:
    """Per-key session summary: session count, event count, and mean
    events per session. Sessionize (one key-shuffle) then re-aggregate
    on the same key — the second groupBy reuses the existing hash
    partitioning, so no extra Exchange."""
    s = sessionize(df, key_col, ts_col, gap_sec, order_col)
    return s.groupBy(key_col).agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
        # integer half-up (_round6_ratio): count ratios are exact
        # rationals that can land on round-6 midpoints where the two
        # engines' double round() diverge (CLAUDE.md invariant)
        _round6_ratio(F.count("*"), F.max("session_id")).alias("events_per_session"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """As-of (most-recent-prior) join: for every left row, attach the
    right row with the greatest ``right_ts`` ≤ ``left_ts`` for the same
    key (inclusive, matching DuckDB/QuestDB ASOF semantics).

    ``tolerance_sec`` bounds staleness (the feature-store point-in-time
    contract): a carried match older than the bound is nulled out, as
    if no right row existed — so "most recent signal, but never serve a
    value staler than X" is one argument, not a post-hoc filter the
    caller has to remember. The mask is a projection on the carried
    columns; the join shape and cost are unchanged.

    Implementation is the union-and-carry pattern, NOT a range join:
    tag both streams, union them, and carry the right payload forward
    with last(..., ignorenulls=True) over (key ORDER BY ts, tag). At
    equal timestamps the right row sorts first (tag 0 < 1) so the match
    is inclusive. One shuffle on the key, one in-partition sort — no
    candidate-pair blowup, which is what makes this the 100 TB shape
    (a range join materializes |left|×|right-per-key| candidates).
    """
    right_cols = right_cols or []
    rts = F.col(right_ts).cast("double")
    lts = F.col(left_ts).cast("double")
    r = right.select(
        *[F.col(k) for k in key_cols],
        rts.alias("__ats"),
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        F.col(right_ts).alias("__r_ts"),
    )
    l = left.select(
        "*",
        lts.alias("__ats"),
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("__r_ts"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__ats", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last(F.col("__r_ts"), ignorenulls=True).over(w).alias(f"{right_ts}{suffix}"),
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in right_cols
        ],
    )
    drop = ["__ats", "__tag", "__r_ts"] + [f"__r_{c}" for c in right_cols]
    out = carried.where(F.col("__tag") == 1)
    if tolerance_sec is not None:
        fresh = (
            F.col(left_ts).cast("double")
            - F.col(f"{right_ts}{suffix}").cast("double")
        ) <= tolerance_sec
        # Mask exactly the columns this join carried over — never a
        # suffix match over out.columns, which would null a left-side
        # column that happens to end with the suffix.
        carried_names = {f"{right_ts}{suffix}"} | {f"{c}{suffix}" for c in right_cols}
        out = out.select(
            *[c for c in out.columns if c not in carried_names],
            *[
                F.when(fresh, F.col(c)).alias(c)
                for c in out.columns
                if c in carried_names
            ],
        )
    return out.drop(*drop)


def bucket_counts(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
) -> DataFrame:
    """Per-key tumbling-bucket event counts — the shared base for the
    trailing-window trend operators below. One partial-aggregated
    shuffle on (key, bucket); floor() so pre-epoch timestamps bucket
    down exactly like the oracle."""
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec).cast("long") * step_sec
    )
    return df.groupBy(
        F.col(key_col).alias("name"), bucket.alias("i_time")
    ).agg(F.count("*").alias("n"))


def anomaly_zscore(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
    lookback: int = 24,
    z_thresh: float = 2.0,
) -> DataFrame:
    """Trailing-window anomaly detection: per key, z-score each bucket's
    count against the mean/stddev of the previous ``lookback`` buckets
    (the current bucket excluded so an outlier can't mask itself). Only
    buckets with a FULL trailing window are scored.

    Gap semantics: the window frame runs over NON-EMPTY buckets only.
    A zero-event hour is simply absent from ``bucket_counts``, so on a
    sparse key the "previous 24 buckets" can span more than 24 hours of
    wall-clock — missing hours are skipped, not treated as 0. This is a
    deliberate choice (gap-filling every key's full span would blow the
    row count up to |keys| x |hours| regardless of activity); callers
    that need calendar-dense semantics should left-join a time spine
    first (see ``timeseries.iterate``'s spine join for the pattern).

    Scale shape: buckets pre-aggregate map-side, so the window input is
    |keys| x |buckets| short rows, never raw events; the single window
    pass shuffles once on the key and sorts in-partition. State per key
    is one row per bucket — bounded by the retention horizon."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    w = (
        Window.partitionBy("name")
        .orderBy("i_time")
        .rowsBetween(-lookback, -1)
    )
    mu = F.avg("n").over(w)
    sd = F.stddev_samp("n").over(w)
    z = F.when(sd > 0, (F.col("n") - mu) / sd).otherwise(F.lit(0.0))
    return (
        counts.select(
            "name",
            "i_time",
            "n",
            F.count("n").over(w).alias("__seen"),
            F.round(mu, 6).alias("mean_n"),
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > z_thresh).alias("is_anomaly"),
        )
        .where(F.col("__seen") == lookback)
        .drop("__seen")
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
    alpha: float = 0.3,
    k: int = 8,
) -> DataFrame:
    """Truncated exponentially-weighted moving average over per-key
    bucket counts: y_t = sum_{j<k} w_j * x_{t-j} / sum_{j<k,avail} w_j
    with w_j = (1-alpha)^j, renormalized over the lags that exist near
    the series head.

    The k-term truncation is deliberate: the exact recursive EWMA needs
    either sequential state or (1-alpha)^(-i) window tricks that
    overflow doubles for long series. k fixed lag() terms keep the whole
    computation one window pass over pre-aggregated buckets —
    whole-stage-codegen projections, no recursion, oracle-expressible.

    Gap semantics: lags step over NON-EMPTY buckets (same contract as
    ``anomaly_zscore`` — see its docstring): on a sparse key, lag j is
    the j-th previous bucket WITH data, not t − j·step. Zero-filling
    would require a |keys| x |hours| spine; left-join one first if
    calendar-dense decay is required."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    w = Window.partitionBy("name").orderBy("i_time")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(k):
        x = F.col("n") if j == 0 else F.lag("n", j).over(w)
        wj = F.lit((1.0 - alpha) ** j)
        num = num + F.when(x.isNotNull(), wj * x).otherwise(F.lit(0.0))
        den = den + F.when(x.isNotNull(), wj).otherwise(F.lit(0.0))
    return counts.select(
        "name", "i_time", "n", F.round(num / den, 6).alias("ewma")
    )


def rolling_distinct(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    step_sec: int = 86400,
    window_steps: int = 7,
) -> DataFrame:
    """Rolling N-step distinct entities (e.g. 7-day active users) per
    step. COUNT(DISTINCT) over a sliding frame isn't a window function
    in any engine, so this uses the contribution-explode shape: distinct
    (entity, step) pairs each contribute to the ``window_steps`` window
    ends they fall into, then one count-distinct per window end.

    Scale shape: raw events collapse to distinct (entity, step) pairs
    FIRST (two-phase distinct, map-side combine), so the explode
    multiplies |entities| x |steps| short rows by window_steps — never
    raw event volume. Window ends past the data's last step are dropped
    (they'd be partial windows)."""
    step = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec).cast("long") * step_sec
    )
    pairs = df.select(F.col(user_col).alias("__u"), step.alias("__d")).distinct()
    last_step = pairs.groupBy().agg(F.max("__d").alias("__last"))
    contrib = pairs.select(
        "__u",
        F.explode(
            F.sequence(F.lit(0), F.lit((window_steps - 1) * step_sec), F.lit(step_sec))
        ).alias("__off"),
        "__d",
    ).select("__u", (F.col("__d") + F.col("__off")).alias("w_end"))
    return (
        contrib.join(F.broadcast(last_step), contrib.w_end <= F.col("__last"))
        .groupBy("w_end")
        .agg(F.count_distinct("__u").alias("n_users"))
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: stage i counts users whose earliest
    qualifying step-i event happens strictly AFTER their stage-(i-1)
    time (the classic strictly-ordered funnel, not a bag-of-events
    count). Returns (stage, step_name, n_users, conversion-vs-stage-1).

    Scale shape: each stage is a filter + per-user min-aggregate joined
    to the previous stage's (user, time) table — every join is on the
    user key against an already-aggregated, strictly shrinking side.
    Nothing wider than (user, ts) ever shuffles."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    reached: DataFrame | None = None
    stage_counts = []
    for i, s in enumerate(steps):
        ev = df.where(F.col(type_col) == s).select(
            F.col(user_col).alias("__u"), F.col(ts_col).cast("double").alias("__t")
        )
        if reached is None:
            reached = ev.groupBy("__u").agg(F.min("__t").alias("__t"))
        else:
            reached = (
                ev.join(reached.withColumnRenamed("__t", "__prev"), "__u")
                .where(F.col("__t") > F.col("__prev"))
                .groupBy("__u")
                .agg(F.min("__t").alias("__t"))
            )
        stage_counts.append(
            reached.groupBy().agg(
                F.lit(i + 1).alias("stage"),
                F.lit(s).alias("step_name"),
                F.count("*").alias("n_users"),
            )
        )
    out = stage_counts[0]
    for s in stage_counts[1:]:
        out = out.unionByName(s)
    w = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return out.withColumn(
        "conversion", _round6_ratio(F.col("n_users"), F.first("n_users").over(w))
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    signup_type: str = "signup",
    step_sec: int = 86400,
) -> DataFrame:
    """Cohort retention — the reference's home analytics domain (game
    metrics): cohort each user by the bucket of their FIRST signup
    event, then measure what fraction of each cohort is active N steps
    later.

    Returns (cohort, offset, n_active, cohort_size, retention) rows —
    cohort = epoch bucket start, offset = whole steps since cohort,
    n_active = distinct cohort users with ANY event in that step.

    Scale shape: (user, day) activity pairs are distinct-ed FIRST
    (two-phase, map-side combine), so the join against cohorts moves at
    most |users| × |days| short rows; cohort sizes broadcast back. Only
    per-day distinct user ids shuffle — never raw events."""
    # floor, not cast-truncation: pre-epoch timestamps must bucket DOWN
    # (truncation rounds toward zero), matching the oracle's floor()
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec).cast("long") * step_sec
    cohorts = (
        events.where(F.col(type_col) == signup_type)
        .groupBy(user_col)
        .agg(F.min(bucket).alias("cohort"))
    )
    activity = events.select(F.col(user_col), bucket.alias("__day")).distinct()
    joined = activity.join(cohorts, user_col).where(F.col("__day") >= F.col("cohort"))
    per = joined.groupBy(
        "cohort",
        ((F.col("__day") - F.col("cohort")) / step_sec).cast("long").alias("offset"),
    ).agg(F.count_distinct(user_col).alias("n_active"))
    sizes = cohorts.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    return (
        per.join(F.broadcast(sizes), "cohort")
        .withColumn("retention", _round6_ratio(F.col("n_active"), F.col("cohort_size")))
    )


def session_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_sec: float = 1800.0,
    order_col: str | None = None,
) -> DataFrame:
    """Markov-style transition counts between consecutive event types
    WITHIN a session: (from_type, to_type, n_transitions, share), where
    share is the fraction of from_type's outgoing transitions — the raw
    material for next-action prediction and funnel discovery.

    Scale shape: sessionize already shuffles once on the key; the
    lead() window reuses the same (key, ts) sort so Catalyst plans ONE
    Exchange + Sort for both passes. The pair aggregation then moves
    only (from, to, partial count) rows — at most |types|² per
    partition after map-side combine, regardless of event volume. The
    share window runs over |types|² rows on a single tiny partition.
    """
    order = [ts_col] + ([order_col] if order_col else [])
    s = sessionize(df, key_col, ts_col, gap_sec, order_col)
    w = Window.partitionBy(key_col, "session_id").orderBy(*order)
    pairs = (
        s.withColumn("__next", F.lead(type_col).over(w))
        .where(F.col("__next").isNotNull())
        .groupBy(F.col(type_col).alias("from_type"), F.col("__next").alias("to_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    out_w = Window.partitionBy("from_type")
    return pairs.withColumn(
        "share",
        _round6_ratio(F.col("n_transitions"), F.sum("n_transitions").over(out_w)),
    )


def merged_activity_intervals(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    pad_sec: int = 300,
) -> DataFrame:
    """Interval union per key: pad each event to [ts−pad, ts+pad],
    merge every overlapping/touching interval (classic
    interval-scheduling islands), and summarize per key:
    (key, n_intervals, covered_sec, longest_sec). "How much wall-clock
    was this entity actually active, counting each moment once?" —
    billing/abuse/engagement math that naive sum-of-durations
    double-counts.

    Scale shape: one shuffle on the key, then two window passes over
    the SAME (key, start) sort (running-max end, then island cumsum) —
    a single Exchange+Sort in the plan. The per-(key, island) and
    per-key aggregates reuse that partitioning. Row count never
    exceeds the event count; no joins, no explode.
    """
    secs = F.col(ts_col).cast("double")
    iv = df.select(
        F.col(key_col),
        (secs - pad_sec).alias("__s"),
        (secs + pad_sec).alias("__e"),
    )
    order = Window.partitionBy(key_col).orderBy("__s", "__e")
    prev_max_end = F.max("__e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "__new", F.when(prev_max_end.isNull() | (F.col("__s") > prev_max_end), 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__new").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = islands.groupBy(key_col, "__island").agg(
        F.min("__s").alias("__is"), F.max("__e").alias("__ie")
    )
    return merged.groupBy(key_col).agg(
        F.count("*").alias("n_intervals"),
        # F.round(F.sum) exempt from the exact-rational sweep: interval
        # lengths are microsecond-exact epoch diffs (6dp-exact doubles,
        # sums stay exact below 2^53 us) — round-6 is the identity, no
        # 7th-decimal midpoint exists (CLAUDE.md)
        F.round(F.sum(F.col("__ie") - F.col("__is")), 6).alias("covered_sec"),
        F.round(F.max(F.col("__ie") - F.col("__is")), 6).alias("longest_sec"),
    )


def seasonal_baseline(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
    period: int = 24,
) -> DataFrame:
    """Seasonal-naive baseline and deviation: each (key, bucket) count
    is compared to the key's average count for the SAME slot-of-period
    (hour-of-day for step=1h, period=24). Output: (name, i_time, n,
    slot, baseline, ratio) — "is this hour's traffic unusual *for this
    hour of the day*", the first question seasonality-aware alerting
    asks (a plain trailing z-score flags every morning ramp-up).

    Baselines average over NON-EMPTY buckets only (same gap contract
    as anomaly_zscore — see its docstring).

    Scale shape: raw events collapse to per-(key, bucket) counts with
    map-side partial aggregation first; the baseline aggregate runs
    over those short rows and produces ≤ |keys| × period rows, which
    broadcast back onto the counts — no second shuffle of the data."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    slot = ((F.col("i_time") / step_sec).cast("long") % period).alias("slot")
    counts = counts.withColumn("slot", slot)
    base = counts.groupBy("name", "slot").agg(F.avg("n").alias("__b"))
    return (
        counts.join(F.broadcast(base), ["name", "slot"])
        .select(
            "name",
            "i_time",
            "n",
            "slot",
            F.round(F.col("__b"), 6).alias("baseline"),
            F.round(F.col("n") / F.col("__b"), 6).alias("ratio"),
        )
    )


def period_delta(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 86400,
) -> DataFrame:
    """Period-over-period change per key: each bucket's count next to
    the PREVIOUS bucket's, with absolute and relative deltas — the
    day-over-day / week-over-week movement every operational report
    leads with. pct_change is NULL on a key's first bucket (nothing to
    compare against) rather than 0, so "new" and "flat" stay
    distinguishable.

    Gap semantics: lag steps over NON-EMPTY buckets (same contract as
    anomaly_zscore); on a sparse key "previous period" means the
    previous period WITH data.

    Scale shape: raw events collapse to per-(key, bucket) counts
    first; one window pass over those short rows, one shuffle total."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    w = Window.partitionBy("name").orderBy("i_time")
    prev = F.lag("n").over(w)
    return counts.select(
        "name",
        "i_time",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).alias("delta"),
        _round6_ratio_signed(F.col("n") - prev, prev).alias("pct_change"),
    )


def interarrival_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str | None = None,
) -> DataFrame:
    """Per-key inter-arrival time distribution: number of gaps, median,
    p90, and max gap in seconds — the cadence fingerprint behind
    session-gap tuning (pick gap_sec where the distribution breaks),
    bot detection (unnaturally regular medians), and churn risk
    (stretching gaps).

    Gaps are exact integer MICROSECONDS and the percentiles are exact
    integer rank interpolations (the ``_pct_pick`` machinery) divided
    on the DECIMAL route — a float-interpolated percentile of 6dp
    gap-seconds is an exact rational that lands on 7th-decimal
    midpoints (the round-6 engine-split class, swept r10 after ADVICE
    r9 flagged conversion_latency). Swap for percentile_approx at
    100 TB. One key shuffle for the lag window; the rank window and
    the aggregate reuse the same partitioning."""
    order = [ts_col] + ([order_col] if order_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    us_ = F.unix_micros(F.col(ts_col))
    gaps = df.select(
        F.col(key_col), (us_ - F.lag(us_).over(w)).alias("__g")
    ).where(F.col("__g").isNotNull())
    wr = Window.partitionBy(key_col).orderBy("__g")
    ranked = gaps.withColumn("__r", F.row_number().over(wr)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(key_col))
    )
    agg = ranked.groupBy(F.col(key_col)).agg(
        F.count("*").alias("n_gaps"),
        F.max("__g").alias("__mx"),
        *_pct_pick("__g", 1, 2, "m"),
        *_pct_pick("__g", 9, 10, "p"),
    )
    return agg.select(
        F.col(key_col),
        "n_gaps",
        _round6_ratio_dec(_pct_num("m", 2), F.lit(2_000_000)).alias("median_gap"),
        _round6_ratio_dec(_pct_num("p", 10), F.lit(10_000_000)).alias("p90_gap"),
        _round6_ratio_dec(F.col("__mx"), F.lit(1_000_000)).alias("max_gap"),
    )


def trend_slope(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
) -> DataFrame:
    """Per-key least-squares trend over bucket counts: slope (events
    per bucket-step), intercept, and R² from the closed-form OLS sums
    — "is this metric actually growing, and how well does a line
    explain it" without leaving SQL-exact arithmetic.

    Exactness: x is the bucket index OFFSET FROM THE KEY'S FIRST
    BUCKET (not the raw epoch — raw-epoch x² sums cancel
    catastrophically in doubles), so every Σx, Σy, Σxy, Σx², Σy² is
    exact int64; the final slope/intercept/R² are single double
    divisions over exact integers — engine-reproducible to the bit.
    Keys with fewer than 2 buckets (or zero x-variance) are dropped.

    Scale shape: events collapse to per-(key, bucket) counts first;
    the per-key mins broadcast back; one more aggregate computes the
    five sums. Raw events shuffle once."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    mins = counts.groupBy("name").agg(F.min("i_time").alias("__m"))
    xy = counts.join(F.broadcast(mins), "name").select(
        "name",
        ((F.col("i_time") - F.col("__m")) / step_sec).cast("long").alias("__x"),
        F.col("n").alias("__y"),
    )
    s = xy.groupBy("name").agg(
        F.count("*").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    den1 = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    den2 = (F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    inum = (F.col("__sy") * F.col("__sxx") - F.col("__sx") * F.col("__sxy")).cast(
        "double"
    )
    return (
        s.where((F.col("__n") >= 2) & (den1 > 0))
        .select(
            "name",
            F.col("__n").alias("n_buckets"),
            F.round(num / den1, 6).alias("slope"),
            F.round(inum / den1, 6).alias("intercept"),
            F.round(
                F.when(den2 > 0, (num * num) / (den1 * den2)).otherwise(F.lit(1.0)),
                6,
            ).alias("r2"),
        )
    )


def debounce_stats(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    min_gap_sec: float = 5.0,
    order_col: str | None = None,
) -> DataFrame:
    """Debounce audit: per key-group, how many events survive a
    "drop anything closer than min_gap_sec to the PREVIOUS event"
    filter — the double-click / retry / sensor-chatter cleanup every
    event pipeline runs before counting anything. Output per first
    key column: n_events, n_kept, drop_rate.

    Semantics note (deliberate, SQL-exact): the gap is measured to the
    previous RAW event, not the previous kept one — a burst of events
    each 1 s apart keeps only the first-of-run under chained-debounce
    semantics but drops all-but-first here too; the two differ only
    when bursts outlast min_gap_sec. Chained debounce is inherently
    sequential (each decision depends on the previous decision);
    this lag form is the distributable one-window-pass variant.

    One key shuffle; the count aggregate reuses the partitioning."""
    key_cols = key_cols or ["user_id", "event_type"]
    order = [ts_col] + ([order_col] if order_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    secs = F.col(ts_col).cast("double")
    gap = secs - F.lag(secs).over(w)
    kept = (gap.isNull() | (gap >= min_gap_sec)).cast("long")
    flagged = df.select(*[F.col(c) for c in key_cols], kept.alias("__k"))
    return flagged.groupBy(key_cols[0]).agg(
        F.count("*").alias("n_events"),
        F.sum("__k").cast("long").alias("n_kept"),
        _round6_ratio(F.count("*") - F.sum("__k"), F.count("*")).alias("drop_rate"),
    )


def _pearson(pairs: DataFrame, *keys: str) -> tuple[DataFrame, Column]:
    """Pearson r of the ``(__x, __y)`` integer pairs per `keys` group,
    from exact integer moment sums: the groups with nonzero variance on
    both sides (count ``__n``), and r rounded to 6 over them."""
    s = pairs.groupBy(*keys).agg(
        F.count("*").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    vx = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vy = (F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    return s.where((vx > 0) & (vy > 0)), F.round(num / F.sqrt(vx * vy), 6)


def count_correlation(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
) -> DataFrame:
    """Pearson correlation between every PAIR of keys' bucket counts
    over their SHARED buckets — "do errors spike when views spike?"
    Output (key_a, key_b, n_buckets, corr) for key_a < key_b.

    Exactness: counts are integers, so all five correlation sums are
    exact int64 and the final r is one double expression over exact
    integers (same discipline as trend_slope) — engine-exact. Pairs
    with zero variance on either side are dropped.

    Shared-bucket semantics: the inner join means an hour where one
    key is silent is EXCLUDED, not zero-filled — correlation of
    activity levels when both are active. Zero-filling would need the
    dense spine (|keys| × |hours|); left-join one first if you want
    absence to count as 0.

    Scale shape: events collapse to per-(key, bucket) counts first;
    the pair join is on the bucket key over those short rows
    (|keys|² pair rows per bucket worst case); one aggregate per pair.
    """
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    a = counts.select(
        F.col("i_time"), F.col("name").alias("key_a"), F.col("n").alias("__x")
    )
    b = counts.select(
        F.col("i_time"), F.col("name").alias("key_b"), F.col("n").alias("__y")
    )
    pairs = a.join(b, "i_time").where(F.col("key_a") < F.col("key_b"))
    s, r = _pearson(pairs, "key_a", "key_b")
    return s.select("key_a", "key_b", F.col("__n").alias("n_buckets"), r.alias("corr"))


def conversion_latency(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    from_type: str = "signup",
    to_type: str = "purchase",
) -> DataFrame:
    """Time-to-convert summary: per user take the FIRST ``from_type``
    event and the first ``to_type`` event strictly after it; report
    one row — how many users started, how many converted, the
    conversion rate, and the latency distribution (p50/p90/mean
    seconds). The "how long does signup→purchase take" number product
    reviews run on; pairs with ``funnel`` (which counts stages but
    not durations).

    Latencies are exact integer MICROSECONDS end to end (unix_micros /
    epoch_us on both engines), so mean_sec is one exact integer ratio
    (Σlat_us / 10^6·n, DECIMAL route — a micro-unit sum passes the
    BIGINT·2e6 ceiling) and never a bare round over a double quotient
    (midpoint class, caught by the r9 round_lint tightening).
    Percentiles are the SAME class (ADVICE r10): the linear
    interpolation lower + frac·(upper−lower) over exact-rational
    seconds lands exactly on 7th-decimal midpoints (p50 with an even
    count is (a+b)/2), so they are computed as ONE exact integer ratio
    too — for p = a/b over n sorted integer-microsecond values,
    idx·b = a·(n−1) splits into lo = idx_b div b, k = idx_b mod b,
    and percentile_sec = (b·v_lo + k·(v_hi−v_lo)) / (b·10^6), routed
    through the DECIMAL ratio helper (b·v can pass the BIGINT·2e6
    ceiling at real time spans). Never a bare F.round over
    percentile() doubles.

    Scale shape: two per-user min-aggregates (raw events shuffle once
    per aggregate on the user key); the percentile rank extraction is
    one global sort window over the CONVERTER-grain rows — the same
    all-values-in-one-buffer cost class as percentile() itself, on a
    scalar-summary output."""
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col(ts_col))
    first_a = (
        df.where(F.col(type_col) == from_type)
        .groupBy(user_col)
        .agg(F.min(us).alias("__ta"))
    )
    joined = (
        df.where(F.col(type_col) == to_type)
        .select(F.col(user_col), us.alias("__tb"))
        .join(first_a, user_col)
        .where(F.col("__tb") > F.col("__ta"))
        .groupBy(user_col)
        .agg((F.min("__tb") - F.first("__ta")).alias("__lat_us"))
    )
    n_started = first_a.agg(F.count("*").alias("n_started"))

    # exact-integer percentile rank extraction: rank each latency,
    # then pull v_lo / v_hi for p50 (a/b = 1/2) and p90 (a/b = 9/10)
    # and interpolate entirely in integer microseconds.
    w = Window.orderBy("__lat_us", user_col)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (
        joined.select(user_col, "__lat_us")
        .withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wall))
    )
    picked = ranked.agg(
        F.count("*").alias("n_converted"),
        F.sum("__lat_us").alias("__sum_us"),
        *_pct_pick("__lat_us", 1, 2, "m"),
        *_pct_pick("__lat_us", 9, 10, "p"),
    )
    conv = picked.select(
        "n_converted",
        _round6_ratio_dec(_pct_num("m", 2), F.lit(2_000_000)).alias("p50_sec"),
        _round6_ratio_dec(_pct_num("p", 10), F.lit(10_000_000)).alias("p90_sec"),
        _round6_ratio_dec(
            F.col("__sum_us"), F.lit(1_000_000) * F.col("n_converted")
        ).alias("mean_sec"),
    )
    return n_started.crossJoin(F.broadcast(conv)).select(
        "n_started",
        "n_converted",
        _round6_ratio(F.col("n_converted"), F.col("n_started")).alias("conv_rate"),
        "p50_sec",
        "p90_sec",
        "mean_sec",
    )


def kaplan_meier(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    from_type: str = "signup",
    to_type: str = "purchase",
    step_sec: int = 86400,
) -> DataFrame:
    """Discrete Kaplan-Meier survival curve for time-to-convert with
    right-censoring: per user, duration = periods from the FIRST
    ``from_type`` event to the first ``to_type`` event strictly after
    it; users who never convert are CENSORED at the end of observation
    (the global max timestamp) instead of being dropped — the
    correction ``conversion_latency`` (converters only) cannot make.
    One row per period k: n_at_risk, n_events, n_censored, and
    S(k) = prod_{j<=k} (1 - d_j / n_j) — the standard product-limit
    estimator (Kaplan & Meier 1958), the churn/retention curve product
    analytics runs on.

    Exactness: durations are integer-microsecond arithmetic (`div`, no
    float epoch); the survival product runs as exp(cumsum(ln(1-d/n)))
    over the period-grain rows, rounded to 6 — engine-reproducible.

    Scale shape: two per-user min-aggregates (events shuffle once per
    aggregate on the user key), the observation end rides a 1-row
    broadcast, and every window runs over the PERIOD-grain table
    (|periods| rows, never events)."""
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col(ts_col))
    step_us = step_sec * 1_000_000
    first_a = (
        df.where(F.col(type_col) == from_type)
        .groupBy(user_col)
        .agg(F.min(us).alias("__ta"))
    )
    conv = (
        df.where(F.col(type_col) == to_type)
        .select(F.col(user_col), us.alias("__tb"))
        .join(first_a, user_col)
        .where(F.col("__tb") > F.col("__ta"))
        .groupBy(user_col)
        .agg(F.min(F.expr(f"(__tb - __ta) div {step_us}")).alias("__dur"))
    )
    end = df.agg(F.max(us).alias("__end"))
    per_user = (
        first_a.join(conv, user_col, "left")
        .crossJoin(F.broadcast(end))
        .select(
            F.coalesce(
                F.col("__dur"), F.expr(f"(__end - __ta) div {step_us}")
            ).alias("period"),
            F.col("__dur").isNotNull().alias("__obs"),
        )
    )
    grid = per_user.groupBy("period").agg(
        F.sum(F.when(F.col("__obs"), 1).otherwise(0)).alias("n_events"),
        F.sum(F.when(F.col("__obs"), 0).otherwise(1)).alias("n_censored"),
    )
    w = Window.orderBy("period").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the global-ordered windows run over |periods| aggregated rows
    # (days, not events) — bounded state by construction
    out = grid.withColumn(
        "n_at_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(
            Window.orderBy(F.col("period").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    # d == n (everyone remaining converts) would be ln(0): Spark log
    # returns NULL there while DuckDB returns -inf — compute that case
    # as an explicit 0.0 so both engines agree bit-for-bit.
    dead = F.max(
        F.when(F.col("n_events") == F.col("n_at_risk"), 1).otherwise(0)
    ).over(w)
    term = F.when(
        F.col("n_events") < F.col("n_at_risk"),
        F.log(1.0 - F.col("n_events") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0))
    out = out.withColumn(
        "survival",
        F.when(dead == 1, F.lit(0.0)).otherwise(
            F.round(F.exp(F.sum(term).over(w)), 6)
        ),
    )
    return out.select(
        F.col("period").cast("long").alias("period"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        "survival",
    )


def mean_shift_changepoints(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 86400,
    window: int = 7,
    min_score: float = 2.0,
) -> DataFrame:
    """Changepoint detection on per-key bucket counts: score every
    bucket by the standardized mean shift between the ``window``
    buckets before it and the ``window`` starting at it —
    |mean_after - mean_before| / pooled_std — and report each key's
    strongest changepoint plus how many buckets cross ``min_score``.
    The two-sample mean-shift scan is the window-expressible form of
    CUSUM-style level-shift detection (an exact running CUSUM is a
    clamped recurrence neither Catalyst windows nor ANSI SQL express;
    the two-window scan is the standard scan-statistic equivalent).

    Exactness: means/variances come from integer sum/sum-of-squares
    window aggregates (exact in double below 2^53) rather than
    engine-specific stddev streaming kernels, so every score is
    bit-reproducible. Only buckets with BOTH windows full are scored.

    Shape: raw events collapse to (key, bucket) counts first; every
    window after that runs over the bucket-grain table partitioned by
    key — bounded rows, one key shuffle."""
    from pyspark.sql.window import Window

    counts = bucket_counts(df, key_col, ts_col, step_sec)
    wb = (
        Window.partitionBy("name")
        .orderBy("i_time")
        .rowsBetween(-window, -1)
    )
    wa = (
        Window.partitionBy("name")
        .orderBy("i_time")
        .rowsBetween(Window.currentRow, window - 1)
    )
    n = F.col("n").cast("double")
    scored = (
        counts.withColumn("__cb", F.count("n").over(wb))
        .withColumn("__sb", F.sum(n).over(wb))
        .withColumn("__qb", F.sum(n * n).over(wb))
        .withColumn("__ca", F.count("n").over(wa))
        .withColumn("__sa", F.sum(n).over(wa))
        .withColumn("__qa", F.sum(n * n).over(wa))
        .where((F.col("__cb") == window) & (F.col("__ca") == window))
    )
    mb = F.col("__sb") / window
    ma = F.col("__sa") / window
    vb = F.col("__qb") / window - mb * mb
    va = F.col("__qa") / window - ma * ma
    pooled = F.sqrt((vb + va) / 2)
    score = F.when(pooled > 0, F.abs(ma - mb) / pooled).otherwise(
        # identical windows -> no shift; any difference with zero
        # pooled variance is an infinite-confidence shift
        F.when(F.abs(ma - mb) > 0, F.lit(float("inf"))).otherwise(F.lit(0.0))
    )
    per_bucket = scored.select(
        "name", "i_time", F.round(score, 6).alias("__score")
    )
    wr = Window.partitionBy("name").orderBy(
        F.col("__score").desc(), "i_time"
    )
    return (
        per_bucket.withColumn("__rn", F.row_number().over(wr))
        .groupBy("name")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("i_time"))).alias("cp_time"),
            F.max(F.when(F.col("__rn") == 1, F.col("__score"))).alias("cp_score"),
            F.sum(F.when(F.col("__score") >= min_score, 1).otherwise(0))
            .cast("long")
            .alias("n_shifts"),
        )
    )


def decayed_topk(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str | None = None,
    half_life_sec: float = 86400.0 * 7,
    k: int = 20,
) -> DataFrame:
    """Exponentially-decayed leaderboard: per key, the half-life-decayed
    activity score sum(v * 2^(-(end - t) / half_life)) anchored at the
    global max timestamp, then the top ``k`` keys. The
    recency-weighted ranking feature stores and leaderboards serve —
    a plain count window forgets nothing, decay forgets smoothly.

    Shape: the anchor scalar rides a 1-row broadcast; the decay factor
    is a map-side projection; scores partial-aggregate on the key; the
    top-k is orderBy().limit() — TakeOrderedAndProject partition heaps,
    never a global sort. Ranking compares the ROUNDED score (6 dp) with
    the key as tiebreak so result order is engine-exact."""
    import math as _math

    v = F.lit(1.0) if value_col is None else F.col(value_col).cast("double")
    end = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("__end"))
    lam = _math.log(2.0) / (half_life_sec * 1_000_000.0)
    scored = df.crossJoin(F.broadcast(end)).select(
        F.col(key_col),
        (
            v
            * F.exp(
                (F.unix_micros(F.col(ts_col)) - F.col("__end")).cast("double")
                * F.lit(lam)
            )
        ).alias("__s"),
    )
    agg = scored.groupBy(key_col).agg(
        # F.round(F.sum) exempt: exp() decay terms are full-precision
        # doubles — a 7th-decimal midpoint has measure zero (CLAUDE.md)
        F.round(F.sum("__s"), 6).alias("decayed_score"),
        F.count("*").cast("long").alias("n_events"),
    )
    return agg.orderBy(F.col("decayed_score").desc(), key_col).limit(k)


def spearman_correlation(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
) -> DataFrame:
    """Spearman rank correlation between every pair of keys' bucket
    counts — the robust (monotone-invariant) sibling of
    count_correlation, insensitive to the heavy-tailed magnitudes that
    dominate a Pearson r on raw counts.

    Ranks are tie-averaged and computed once per key over that key's
    FULL bucket history (one window per key — the scale-friendly
    order), then Pearson-correlated over the pair's shared buckets;
    this equals textbook Spearman whenever the two keys share all
    buckets, and is documented as the per-series-rank variant when they
    don't. Exactness: tie-averaged ranks are half-integers, so the
    DOUBLED rank 2·rank_min + ties − 1 is an exact int64 and all five
    correlation sums stay integer until the final double expression
    (doubling both sides leaves r unchanged) — engine-exact, same
    discipline as count_correlation.

    Scale shape: events collapse to per-(key, bucket) counts first;
    the rank window partitions by key over those short rows; the pair
    join is on the bucket key."""
    from pyspark.sql.window import Window

    counts = bucket_counts(df, key_col, ts_col, step_sec)
    wr = Window.partitionBy("name").orderBy("n")
    wt = Window.partitionBy("name", "n")
    ranked = counts.select(
        "name",
        "i_time",
        # rank() is 32-bit: promote before the doubling so a group past
        # ~1.07e9 rows cannot overflow INT under ANSI
        (
            2 * F.rank().over(wr).cast("long")
            + F.count("*").over(wt)
            - 1
        ).alias("__r2"),
    )
    a = ranked.select(F.col("i_time"), F.col("name").alias("key_a"), F.col("__r2").alias("__x"))
    b = ranked.select(F.col("i_time"), F.col("name").alias("key_b"), F.col("__r2").alias("__y"))
    pairs = a.join(b, "i_time").where(F.col("key_a") < F.col("key_b"))
    s, r = _pearson(pairs, "key_a", "key_b")
    return s.select("key_a", "key_b", F.col("__n").alias("n_buckets"), r.alias("spearman"))


def theilsen_trend(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
) -> DataFrame:
    """Theil–Sen robust trend estimate per key: the MEDIAN of all
    pairwise slopes between the key's bucket counts — tolerates up to
    ~29% outlier buckets where the OLS slope (trend_slope) is dragged
    arbitrarily by one spike. Returns (name, n_buckets, n_pairs,
    slope_per_hour).

    Exactness: each pairwise slope is an exact int64 RATIONAL
    (Δn, Δt); the double quotient is used only for RANKING (identical
    on both engines, with the (Δn, Δt) pair as the deterministic
    tiebreak for double-equal rationals), and the median itself is
    computed in exact integer arithmetic — for an odd pair count
    3600·Δn_m/Δt_m, for an even count 1800·(Δn_lo·Δt_hi +
    Δn_hi·Δt_lo)/(Δt_lo·Δt_hi) — through the signed DECIMAL ratio
    helper. A float-interpolated median ×3600 of exact slope rationals
    lands on 7th-decimal midpoints (the round-6 engine-split class,
    swept r10 after ADVICE r9 flagged conversion_latency); the
    cross products are formed in DECIMAL(38,0) so ANSI cannot
    hard-error on long·long at wide time ranges.

    Scale shape: events collapse to per-(key, bucket) counts FIRST, so
    the quadratic pair join is over B = time-range/step rows per key —
    bounded by the calendar (e.g. 8 760 hourly buckets/year → ≤ 38M
    pairs per key), never by event volume; the median is a per-key
    exact percentile over those pairs."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    a = counts.select(F.col("name"), F.col("i_time").alias("__ta"), F.col("n").alias("__na"))
    b = counts.select(F.col("name"), F.col("i_time").alias("__tb"), F.col("n").alias("__nb"))
    pairs = a.join(b, "name").where(F.col("__ta") < F.col("__tb"))
    num = (F.col("__nb") - F.col("__na")).cast("long")
    den = (F.col("__tb") - F.col("__ta")).cast("long")
    pr = pairs.select(
        "name",
        num.alias("__sn"),
        den.alias("__sd"),
        (num.cast("double") / den.cast("double")).alias("__s"),
    )
    wr = Window.partitionBy("name").orderBy("__s", "__sn", "__sd")
    ranked = pr.withColumn("__r", F.row_number().over(wr)).withColumn(
        "__n", F.count("*").over(Window.partitionBy("name"))
    )
    picked = ranked.groupBy("name").agg(
        F.count("*").cast("long").alias("n_pairs"),
        *_pct_pick("__sn", 1, 2, "n"),
        *_pct_pick("__sd", 1, 2, "d"),
    )
    dec = "decimal(38,0)"
    nlo, dlo = F.col("__nlo").cast(dec), F.col("__dlo").cast(dec)
    nhi = F.coalesce(F.col("__nhi"), F.col("__nlo")).cast(dec)
    dhi = F.coalesce(F.col("__dhi"), F.col("__dlo")).cast(dec)
    med_num = F.when(
        F.col("__nk") == 0, F.lit(3600).cast(dec) * nlo
    ).otherwise(F.lit(1800).cast(dec) * (nlo * dhi + nhi * dlo))
    med_den = F.when(F.col("__nk") == 0, dlo).otherwise(dlo * dhi)
    sizes = counts.groupBy("name").agg(F.count("*").cast("long").alias("n_buckets"))
    med = picked.select(
        "name",
        "n_pairs",
        _round6_ratio_dec_signed(med_num, med_den).alias("slope_per_hour"),
    )
    return sizes.join(med, "name").select(
        "name", "n_buckets", "n_pairs", "slope_per_hour"
    )


def _second_sessions(df, user_col, ts_col, seq_col, type_col, gap_sec):
    """The path operators' sessions: `df`'s user, time, seq and type
    columns plus ``__sess``, a new session per user after a gap over
    `gap_sec` whole seconds; and the per-session window in (time, seq)
    order. The session id and the caller's per-session windows share
    one per-user sort."""
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    prev = F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - prev) > F.lit(gap_sec)),
        1,
    ).otherwise(0)
    sess = df.select(
        F.col(user_col), F.col(ts_col), F.col(seq_col), F.col(type_col)
    ).withColumn("__sess", F.sum(new_sess).over(w))
    return sess, Window.partitionBy(user_col, "__sess").orderBy(ts_col, seq_col)


def session_paths(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    seq_col: str = "event_id",
    gap_sec: float = 1800.0,
    depth: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k behavioral paths: the most frequent ``depth``-step
    event-type sequences occurring INSIDE sessions (30-min default
    gap) — the path-mining read behind funnel discovery ("what do
    users actually do, in order?"). Returns (path, n) with the
    deterministic (count desc, path) tiebreak.

    Scale shape: sessionization and the ``depth-1`` leads share ONE
    per-user Exchange+Sort (identical window partitioning/ordering);
    path counts aggregate with map-side combine on the path string;
    top-k is TakeOrderedAndProject. Sequences crossing a session
    boundary are excluded by requiring all steps in one session."""
    sess, ws = _second_sessions(df, user_col, ts_col, seq_col, type_col, gap_sec)
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(ws) for i in range(1, depth)
    ]
    paths = sess.select(F.concat_ws(" > ", *steps).alias("path"), steps[-1].alias("__last"))
    return (
        paths.where(F.col("__last").isNotNull())
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(k)
    )


def lateness_audit(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Event-time out-of-orderness audit: per key, how late events
    arrive relative to the running event-time high-water mark in
    ARRIVAL order (``seq_col``) — exactly the distribution that picks a
    Structured Streaming watermark delay (an event with lateness L is
    dropped by ``withWatermark(ts, < L)``). Returns (name, n_events,
    n_late, max_late_sec, p95_late_sec, p99_late_sec).

    Scale shape: the running max is a window per key in arrival order —
    each key's stream sorts within its partition, the same per-key
    discipline as sessionization (a production audit runs it per
    shard/partition, which is what a real watermark tracks anyway);
    lateness percentiles are EXACT integer rank interpolations over the
    integer-microsecond lateness column, divided on the DECIMAL route —
    a float-interpolated percentile of 6dp seconds is an exact rational
    on 7th-decimal midpoints (the round-6 engine-split class, swept r10
    after ADVICE r9 flagged conversion_latency)."""
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = df.select(
        F.col(key_col).alias("name"),
        (F.max(us).over(w) - us).alias("__late_us"),
    )
    wr = Window.partitionBy("name").orderBy("__late_us")
    ranked = late.withColumn("__r", F.row_number().over(wr)).withColumn(
        "__n", F.count("*").over(Window.partitionBy("name"))
    )
    agg = ranked.groupBy("name").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("__late_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max("__late_us").alias("__mx"),
        *_pct_pick("__late_us", 19, 20, "a"),
        *_pct_pick("__late_us", 99, 100, "b"),
    )
    return agg.select(
        "name",
        "n_events",
        "n_late",
        _round6_ratio_dec(F.col("__mx"), F.lit(1_000_000)).alias("max_late_sec"),
        _round6_ratio_dec(_pct_num("a", 20), F.lit(20_000_000)).alias(
            "p95_late_sec"
        ),
        _round6_ratio_dec(_pct_num("b", 100), F.lit(100_000_000)).alias(
            "p99_late_sec"
        ),
    )


def autocorrelation(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
    lag: int = 1,
) -> DataFrame:
    """Lag-``lag`` autocorrelation of each key's bucket-count series —
    the persistence/seasonality diagnostic (r₁ near 1: momentum; r₂₄
    on hourly buckets: daily cycle). Computed as the Pearson r between
    the series and itself shifted by ``lag`` buckets over ALIGNED
    bucket pairs (t, t+lag·step both present). Returns
    (name, n_pairs, autocorr).

    Exactness: counts are integers, so all five sums are exact int64
    and r is one double expression — engine-exact, same discipline as
    count_correlation. Pairs with zero variance on either side drop.

    Scale shape: events collapse to per-(key, bucket) counts first;
    the self-join matches on (key, bucket+lag·step) — equality join on
    short aggregated rows, no window needed."""
    counts = bucket_counts(df, key_col, ts_col, step_sec)
    a = counts.select(
        F.col("name"),
        (F.col("i_time") + lag * step_sec).alias("__t"),
        F.col("n").alias("__x"),
    )
    b = counts.select(F.col("name"), F.col("i_time").alias("__t"), F.col("n").alias("__y"))
    pairs = a.join(b, ["name", "__t"])
    s, r = _pearson(pairs, "name")
    return s.select("name", F.col("__n").cast("long").alias("n_pairs"), r.alias("autocorr"))


def transition_entropy(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    seq_col: str = "event_id",
    gap_sec: float = 1800.0,
) -> DataFrame:
    """Per-state entropy of the in-session next-event distribution —
    how PREDICTABLE behavior is after each event type (0 bits: always
    the same next step; log₂|types|: uniform). The Markov-chain
    sibling of session_transitions. Returns (from_type, n_transitions,
    entropy_bits, top_next).

    Exactness: probabilities are exact integer ratios n_ij/n_i; each
    −p·log2(p) term is cast to DECIMAL(28,12) before the per-state sum
    so accumulation order cannot flip the round-6 hash; top_next
    breaks ties lexicographically via min-by on (−count, type).

    Scale shape: sessionize + lead share one per-user sort (the
    session_paths discipline); transitions aggregate to |types|² rows
    with map-side combine; entropy folds over those aggregated rows."""
    sess, ws = _second_sessions(df, user_col, ts_col, seq_col, type_col, gap_sec)
    steps = sess.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(ws).alias("__to"),
    ).where(F.col("__to").isNotNull())
    counts = steps.groupBy("from_type", "__to").agg(F.count("*").alias("__c"))
    tot = counts.groupBy("from_type").agg(F.sum("__c").alias("__n"))
    p = F.col("__c").cast("double") / F.col("__n")
    term = (-p * F.log2(p)).cast("decimal(28,12)")
    return (
        counts.join(tot, "from_type")
        .groupBy("from_type")
        .agg(
            F.min("__n").cast("long").alias("n_transitions"),
            # F.round(F.sum) exempt: -p*log2(p) terms are full-precision
            # doubles — midpoint exposure is measure zero (CLAUDE.md)
            F.round(F.sum(term).cast("double"), 6).alias("entropy_bits"),
            F.min_by("__to", F.struct((-F.col("__c")).alias("c"), F.col("__to"))).alias(
                "top_next"
            ),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an event log: per
    key, consecutive runs of the same state collapse to one validity
    interval [valid_from_us, valid_to_us) — the standard warehouse
    shape for "what was this entity's state at time T" (as-of joins
    then hit these intervals with a plain BETWEEN). The current run
    closes at the 9999-12-31 high-date sentinel (the SCD2 convention;
    a non-null close also keeps the column integer-typed end to end).
    Returns (key, state, valid_from_us, valid_to_us, n_events).

    Exactness: run boundaries come from the gaps-and-islands cumsum
    (lag + running sum — pure integer logic over the deterministic
    (ts, seq) order); interval edges are exact integer microseconds.

    Scale shape: the change-flag window and the run cumsum share ONE
    per-key sort; runs aggregate with map-side combine; valid_to is a
    lead over the RUN-grain rows (already collapsed), not raw events."""
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    chg = F.when(
        F.lag(state_col).over(w).isNull()
        | (F.lag(state_col).over(w) != F.col(state_col)),
        1,
    ).otherwise(0)
    runs = df.select(
        F.col(key_col), F.col(state_col), F.col(ts_col), F.col(seq_col), us.alias("__us")
    ).withColumn("__run", F.sum(chg).over(w))
    per_run = runs.groupBy(key_col, "__run").agg(
        F.min(state_col).alias("state"),
        F.min("__us").alias("valid_from_us"),
        F.count("*").cast("long").alias("n_events"),
    )
    wr = Window.partitionBy(key_col).orderBy("__run")
    high_date_us = 253402300799999999  # 9999-12-31T23:59:59.999999Z
    return per_run.select(
        F.col(key_col),
        "state",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(wr), F.lit(high_date_us)
        ).alias("valid_to_us"),
        "n_events",
    )


def _hourly_lags(df: DataFrame, group_col: str, ts_col: str, season_lag: int) -> DataFrame:
    """Per (``grp``, hour) event count ``y`` with the naive forecast
    ``p1`` (the previous hour's count) and the seasonal one ``ps``
    (`season_lag` hours back); both NULL where the lag runs off the
    group's first row."""
    hourly = (
        df.select(
            F.col(group_col).alias("grp"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .groupBy("grp", "hour")
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = Window.partitionBy("grp").orderBy("hour")
    return hourly.select(
        "grp",
        "y",
        F.lag("y", 1).over(w).alias("p1"),
        F.lag("y", season_lag).over(w).alias("ps"),
    )


def forecast_eval(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    season_lag: int = 24,
) -> DataFrame:
    """Backtest of the two standard zero-parameter forecasters on the
    hourly count series of each group: PERSISTENCE (ŷ_t = y_{t-1}) and
    SEASONAL-NAIVE (ŷ_t = y_{t-season_lag}), scored with MAE and RMSE
    over every hour where the forecast is defined. These are the
    baselines any capacity/anomaly model must beat — and the seasonal
    one usually wins on diurnal event traffic, which is itself the
    diagnostic ("this series is seasonal, model accordingly").

    Lags are over the OBSERVED hourly grid (missing hours are skipped,
    not zero-filled — compose with the iterate/gap-fill spine first for
    zero-filled semantics; documented rather than defaulted because
    zero-filling is wrong for sparse series where absence means "no
    traffic recorded", e.g. partial retention windows).

    Output: (group, n_eval_naive, mae_naive, rmse_naive,
    n_eval_seasonal, mae_seasonal, rmse_seasonal), errors rounded 6,
    RMSE from exact integer squared-error sums.

    Scale shape: one map-side-combined (group, hour) count aggregate;
    the lag windows then run per-group over hour-grain rows (≤ a few
    thousand per group-year) — the window input is the AGGREGATE, so
    partition skew is bounded by the calendar, not the traffic.
    """
    with_lags = _hourly_lags(df, group_col, ts_col, season_lag)
    def _err(pred):
        d = (F.col("y") - pred).cast("long")
        return d

    e1, es = _err(F.col("p1")), _err(F.col("ps"))
    agg = with_lags.groupBy("grp").agg(
        F.count("p1").cast("long").alias("n_eval_naive"),
        F.sum(F.abs(e1)).cast("long").alias("__ae1"),
        F.sum(e1 * e1).cast("long").alias("__se1"),
        F.count("ps").cast("long").alias("n_eval_seasonal"),
        F.sum(F.abs(es)).cast("long").alias("__aes"),
        F.sum(es * es).cast("long").alias("__ses"),
    )
    # -1.0 sentinels: a group with no evaluable lags (fewer rows than
    # the lag) must not emit NULL (None vs NaN hash split)
    return agg.select(
        F.col("grp").alias(group_col),
        "n_eval_naive",
        F.coalesce(
            _round6_ratio(F.col("__ae1"), F.col("n_eval_naive")), F.lit(-1.0)
        ).alias("mae_naive"),
        F.coalesce(
            F.round(F.sqrt(F.col("__se1") / F.col("n_eval_naive").cast("double")), 6),
            F.lit(-1.0),
        ).alias("rmse_naive"),
        "n_eval_seasonal",
        F.coalesce(
            _round6_ratio(F.col("__aes"), F.col("n_eval_seasonal")), F.lit(-1.0)
        ).alias("mae_seasonal"),
        F.coalesce(
            F.round(F.sqrt(F.col("__ses") / F.col("n_eval_seasonal").cast("double")), 6),
            F.lit(-1.0),
        ).alias("rmse_seasonal"),
    )


def ols2_fit(
    df: DataFrame,
    group_col: str,
    y_col: str,
    x1_col: str,
    x2_col: str,
    scale: int = 6,
) -> DataFrame:
    """Per-group TWO-feature least squares y = b0 + b1·x1 + b2·x2 via
    the closed-form normal equations — the multivariate extension of
    ``trend_slope``'s single-x OLS, solved distributed-style: ONE hash
    aggregation collects the nine sufficient statistics (n, Σx1, Σx2,
    Σx1², Σx2², Σx1x2, Σy, Σx1y, Σx2y, Σy²) and Cramer's rule on the
    3×3 system runs as scalar expressions over group-grain rows. This
    is how regression works at 100 TB: the data pass is a map-side-
    combined aggregate; the algebra never sees a record.

    Exactness: operands cast to DECIMAL(18,``scale``) before
    multiplying (exact fixed-point products, engine-identical sums —
    same discipline as ``corr_matrix``); the determinant arithmetic
    is then a pure double expression over exact inputs. Singular or
    near-singular groups (determinant 0 — e.g. constant x) yield null
    coefficients rather than garbage.

    Output: (group, n, b0, b1, b2, r2) rounded 6; r2 = 1 − SSE/SST
    from the same sums.
    """
    dec = f"decimal(18,{scale})"
    y = F.col(y_col).cast(dec)
    x1 = F.col(x1_col).cast(dec)
    x2 = F.col(x2_col).cast(dec)
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x1).alias("__s1"),
        F.sum(x2).alias("__s2"),
        F.sum(x1 * x1).alias("__s11"),
        F.sum(x2 * x2).alias("__s22"),
        F.sum(x1 * x2).alias("__s12"),
        F.sum(y).alias("__sy"),
        F.sum(x1 * y).alias("__s1y"),
        F.sum(x2 * y).alias("__s2y"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n").cast("double")
    s1, s2 = F.col("__s1").cast("double"), F.col("__s2").cast("double")
    s11, s22 = F.col("__s11").cast("double"), F.col("__s22").cast("double")
    s12 = F.col("__s12").cast("double")
    sy = F.col("__sy").cast("double")
    s1y, s2y = F.col("__s1y").cast("double"), F.col("__s2y").cast("double")
    syy = F.col("__syy").cast("double")
    # | n   s1   s2  | b0   sy
    # | s1  s11  s12 | b1 = s1y
    # | s2  s12  s22 | b2   s2y
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    # RELATIVE singularity threshold: an exactly-collinear design (e.g.
    # a constant predictor) has det = 0 mathematically but ulp-level
    # noise numerically — and the noise DIFFERS between engines, so the
    # coefficients would explode differently. 1e-9·scale sits far above
    # ulp noise (~1e-16·scale), so both engines take the same branch;
    # singular groups are DROPPED on both sides (NULL columns would
    # split as None vs NaN in the hash).
    scale = F.greatest(F.abs(n * s11 * s22), F.lit(1.0))
    safe = F.abs(det) > F.lit(1e-9) * scale
    b0 = det0 / det
    b1 = det1 / det
    b2 = det2 / det
    sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    sst = syy - sy * sy / n
    return g.where(safe & (sst > 0)).select(
        F.col("grp").alias(group_col),
        "n",
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(1.0 - sse / sst, 6).alias("r2"),
    )


def pit_join(
    facts: DataFrame,
    dim_history: DataFrame,
    key_col: str,
    probe_us_col: str,
    valid_from_col: str = "valid_from_us",
    valid_to_col: str = "valid_to_us",
) -> DataFrame:
    """Point-in-time (temporal) join of a fact stream against an SCD2
    dimension history: each fact row picks up the dimension columns of
    the version whose [valid_from, valid_to) interval contains the
    fact's probe time — the join every warehouse runs to answer "what
    was the customer's segment WHEN the order happened" without
    leaking future versions (the lookahead bug an equality join on the
    current version silently commits). Composes with
    ``scd2_intervals``: build the history once, probe it from any
    fact table.

    Semantics: inner join; intervals are half-open, so probes on a
    boundary hit the NEWER version; probes before a key's first
    version or for unknown keys drop (pair with an anti-join audit to
    count them). Assumes non-overlapping intervals per key —
    guaranteed by construction from scd2_intervals.

    Scale shape: the equality key drives a plain HASH join (facts
    shuffle on key, history broadcast when it is dim-sized); the
    interval predicate is a residual filter evaluated inside the join
    — never a range-only nested loop. Per-key version counts are
    small by nature (state changes, not events), so the residual
    fan-out is bounded.
    """
    f = facts
    d = dim_history.select(
        F.col(key_col).alias("__k"),
        *[c for c in dim_history.columns if c != key_col],
    )
    cond = (
        (f[key_col] == d["__k"])
        & (f[probe_us_col] >= d[valid_from_col])
        & (f[probe_us_col] < d[valid_to_col])
    )
    return f.join(d, cond, "inner").drop("__k")


def calendar_heatmap(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str | None = None,
) -> DataFrame:
    """Day-of-week × hour-of-day traffic profile: counts and share per
    cell (optionally per group) — the calendar heatmap behind capacity
    planning and the denominator ``seasonal_baseline`` deviates
    against. dow follows the ISO convention via dayofweek (1=Sunday …
    7=Saturday, Spark's convention, mirrored in the oracle).

    Output: (group?, dow, hod, n, share) with share = cell/total
    (per group when grouped), rounded 6. One map-side-combined
    aggregate over at most |groups|·168 cells; the share rides a
    window over cell-grain rows.
    """
    from pyspark.sql.window import Window

    keys = ([group_col] if group_col else []) + ["dow", "hod"]
    cells = (
        df.select(
            *([F.col(group_col)] if group_col else []),
            F.dayofweek(F.col(ts_col)).cast("int").alias("dow"),
            F.hour(F.col(ts_col)).cast("int").alias("hod"),
        )
        .groupBy(*keys)
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy(*([group_col] if group_col else []))
    return cells.select(
        *keys,
        "n",
        _round6_ratio(F.col("n"), F.sum("n").over(w)).alias("share"),
    )


def attribution_split(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    conversion_type: str = "purchase",
    lookback_sec: int = 86400,
) -> DataFrame:
    """Multi-touch conversion attribution: for every conversion event,
    the non-conversion touches in the preceding ``lookback_sec``
    window share the credit three ways at once — FIRST-touch (the
    opener), LAST-touch (the closer), and LINEAR (1/n each) — the
    three standard models a growth team compares before arguing about
    Shapley. Output per touch type: (touch_type, n_touches,
    conv_first, conv_last, credit_linear) with linear credit summed
    DECIMAL(28,12)-exact (1/n terms are rationals; decimal
    accumulation keeps engine association irrelevant), rounded 6.

    Scale shape: conversions and touches join on USER equality with
    the time window as residual (hash join, never range-only); per-
    conversion first/last/n come from windows over the JOINED rows
    partitioned by conversion id — fan-out bounded by touches-per-
    window, the quantity the lookback cap exists to bound.
    """
    us = F.unix_micros(F.col(ts_col))
    conv = df.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col(seq_col).alias("__cid"),
        us.alias("__cus"),
    )
    touch = df.where(F.col(type_col) != conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("touch_type"),
        F.col(seq_col).alias("__tid"),
        us.alias("__tus"),
    )
    j = conv.join(touch, "__u").where(
        (F.col("__tus") < F.col("__cus"))
        & (F.col("__tus") >= F.col("__cus") - lookback_sec * 1000000)
    )
    wc = Window.partitionBy("__cid")
    w_first = Window.partitionBy("__cid").orderBy("__tus", "__tid")
    w_last = Window.partitionBy("__cid").orderBy(
        F.col("__tus").desc(), F.col("__tid").desc()
    )
    scored = j.select(
        "touch_type",
        (F.row_number().over(w_first) == 1).cast("int").alias("__f"),
        (F.row_number().over(w_last) == 1).cast("int").alias("__l"),
        (F.lit(1.0) / F.count("*").over(wc)).cast("decimal(28,12)").alias("__lin"),
    )
    return scored.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum("__f").cast("long").alias("conv_first"),
        F.sum("__l").cast("long").alias("conv_last"),
        # F.round(F.sum) exempt: linear-decay credit shares are
        # full-precision doubles (divisions by per-session path length)
        # — midpoint exposure is measure zero (CLAUDE.md)
        F.round(F.sum("__lin").cast("double"), 6).alias("credit_linear"),
    )


def _us_sessions(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    seq_col: str,
    gap_sec: float,
) -> DataFrame:
    """Gaps-and-islands sessions on integer µs: ``(__u, __t, __us,
    __seq)`` plus ``__sid``, a new session per user after a gap over
    `gap_sec`, ordered by (time, `seq_col`). Unlike sessionize (double
    seconds, a ROWS frame), the gap test and the default RANGE frame
    run on exact µs, which the session-shape operators' oracles mirror
    with epoch_us."""
    base = df.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t"),
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(seq_col).alias("__seq"),
    )
    w = Window.partitionBy("__u").orderBy("__us", "__seq")
    new_sess = F.when(
        F.lag("__us").over(w).isNull()
        | ((F.col("__us") - F.lag("__us").over(w)) > int(gap_sec * 1000000)),
        1,
    ).otherwise(0)
    return base.withColumn("__sid", F.sum(new_sess).over(w))


def session_entry_exit(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    gap_sec: float = 1800.0,
) -> DataFrame:
    """Landing/exit analysis over gap-based sessions: per event type —
    how many sessions ENTER through it (first event), how many EXIT
    through it (last event), and how many of its entries BOUNCE
    (single-event sessions) — the session-shape scorecard behind
    "which surface do people arrive on, and does it hold them".

    Output: (event_type, n_entries, n_exits, n_bounces, bounce_rate =
    bounces/entries, exit_rate = exits/total sessions), rounded 6.

    Scale shape: sessionization is the standard gaps-and-islands
    cumsum (one per-user sort, shared by the id and the first/last
    windows); per-session first/last/size collapse via ONE
    min_by/max_by aggregate at session grain; the final table is
    |event types| rows. Total-session count rides a 1-row broadcast.
    """
    sess = _us_sessions(df, user_col, type_col, ts_col, seq_col, gap_sec)
    per_sess = sess.groupBy("__u", "__sid").agg(
        F.min_by("__t", F.struct("__us", "__seq")).alias("entry_type"),
        F.max_by("__t", F.struct("__us", "__seq")).alias("exit_type"),
        F.count("*").cast("long").alias("__n"),
    )
    tot = per_sess.agg(F.count("*").cast("long").alias("__total"))
    entries = per_sess.groupBy(F.col("entry_type").alias("event_type")).agg(
        F.count("*").cast("long").alias("n_entries"),
        F.sum(F.when(F.col("__n") == 1, 1).otherwise(0)).cast("long").alias("n_bounces"),
    )
    exits = per_sess.groupBy(F.col("exit_type").alias("event_type")).agg(
        F.count("*").cast("long").alias("n_exits")
    )
    j = entries.join(exits, "event_type", "full_outer").crossJoin(F.broadcast(tot))
    ne = F.coalesce(F.col("n_entries"), F.lit(0)).cast("long")
    nx = F.coalesce(F.col("n_exits"), F.lit(0)).cast("long")
    nb = F.coalesce(F.col("n_bounces"), F.lit(0)).cast("long")
    return j.select(
        "event_type",
        ne.alias("n_entries"),
        nx.alias("n_exits"),
        nb.alias("n_bounces"),
        _round6_ratio(nb, F.greatest(ne, F.lit(1))).alias("bounce_rate"),
        _round6_ratio(nx, F.col("__total")).alias("exit_rate"),
    )


def burst_windows(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_sec: int = 300,
    k: int = 20,
) -> DataFrame:
    """Per-key burst detection: the densest ``window_sec`` sliding
    window of activity for each key, ranked to the global top-``k``
    burstiest keys — the bot/scraper/incident screen ("who fired 400
    events in five minutes"), complementing ``interarrival_stats``
    (steady cadence) and ``debounce_stats`` (duplicate squelch).

    Implementation is a RANGE-frame window — count over
    [current_ts, current_ts + window_sec] per key on the event-time
    axis — so each event learns the size of the burst it STARTS; the
    per-key max then collapses at key grain and the global top-k
    ranks key-grain rows. Output: (key, max_burst, burst_start_us,
    rank) — burst_start_us = the earliest start among ties.

    Scale shape: the range frame needs one per-key time sort (the
    same sort every sessionization already pays); no self-join, no
    explode — the frame is evaluated incrementally by the window
    operator. Top-k runs over |keys| aggregated rows.
    """
    us = F.unix_micros(F.col(ts_col))
    base = df.select(F.col(user_col).alias("key"), us.alias("__us"))
    wr = (
        Window.partitionBy("key")
        .orderBy("__us")
        .rangeBetween(0, window_sec * 1000000)
    )
    sized = base.select(
        "key", "__us", F.count("*").over(wr).cast("long").alias("__burst")
    )
    # per-key max, then the earliest start among rows achieving it
    # (deterministic earliest-tie)
    mx = sized.groupBy("key").agg(F.max("__burst").alias("max_burst"))
    starts = (
        sized.join(mx, ["key"])
        .where(F.col("__burst") == F.col("max_burst"))
        .groupBy("key", "max_burst")
        .agg(F.min("__us").alias("burst_start_us"))
    )
    w = Window.partitionBy().orderBy(
        F.col("max_burst").desc(), "key"
    )
    return (
        starts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("key", "max_burst", "burst_start_us", "rank")
    )


def mrr_sessions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    target_type: str = "purchase",
    gap_sec: float = 1800.0,
) -> DataFrame:
    """Mean reciprocal rank of the first ``target_type`` within each
    gap-based session — the IR-style answer to "how deep into a
    session does the conversion sit": MRR 1.0 means sessions open
    with it, 1/n means it arrives at position n; sessions without the
    target contribute 0 (standard MRR convention). One summary row:
    (n_sessions, n_with_target, mrr, mean_first_pos).

    Exactness: reciprocal ranks accumulate DECIMAL(28,12) (sums of
    1/k rationals), mean position from exact integer sums.

    Scale shape: sessionization + position = ONE per-user sort shared
    by both windows; the first-target pick is a min-aggregate at
    session grain; the final row folds session-grain rows.
    """
    sess = _us_sessions(df, user_col, type_col, ts_col, seq_col, gap_sec)
    ws = Window.partitionBy("__u", "__sid").orderBy("__us", "__seq")
    pos = sess.withColumn("__pos", F.row_number().over(ws))
    per_sess = pos.groupBy("__u", "__sid").agg(
        F.min(F.when(F.col("__t") == target_type, F.col("__pos"))).alias("__first")
    )
    return per_sess.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.count("__first").cast("long").alias("n_with_target"),
        # identical arithmetic path on both engines: exact DECIMAL sum
        # -> ONE int64-exact double conversion -> double division ->
        # decimal bridge round (a decimal-division-then-cast path would
        # produce a different double than the oracle's cast-then-divide)
        _round6_bridge(
            F.sum(
                F.coalesce(
                    (F.lit(1.0) / F.col("__first")).cast("decimal(28,12)"),
                    F.lit(0).cast("decimal(28,12)"),
                )
            ).cast("double")
            / F.count("*")
        ).alias("mrr"),
        # mean position is an exact integer ratio; -1.0 sentinel when no
        # session contains the target (avg over zero rows is NULL and
        # Spark None vs DuckDB NaN canonicalize differently)
        F.when(
            F.count("__first") > 0,
            _round6_ratio(F.sum("__first"), F.count("__first")),
        )
        .otherwise(F.lit(-1.0))
        .alias("mean_first_pos"),
    )


def crosscorr_series(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    type_a: str,
    type_b: str,
    max_lag: int = 3,
) -> DataFrame:
    """Lagged cross-correlation between two event types' hourly count
    series: Pearson r of (a_t, b_{t+lag}) for lag in [−max_lag,
    +max_lag] — the lead/lag detector ("views lead purchases by two
    hours") that single-series ``autocorrelation`` can't see.
    Positive lag = a leads b.

    Both series live on the SHARED observed hourly grid (inner join
    on hour; hours missing from either series are skipped — compose
    with the gap-fill spine for zero-filled semantics). Sums are
    exact integers, r a pure double expression over them.

    Output: (lag, n, r), rounded 6; |lags| ≤ 7 rows.

    Scale shape: one (type, hour) count aggregate; the lag shift is a
    lead window over HOUR-GRAIN rows of b; each lag's fold is a
    conditional aggregate over the joined hour table.
    """
    hourly = (
        df.where(F.col(type_col).isin(type_a, type_b))
        .select(
            F.col(type_col).alias("__t"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .groupBy("__t", "hour")
        .agg(F.count("*").cast("long").alias("y"))
    )
    a = hourly.where(F.col("__t") == type_a).select("hour", F.col("y").alias("ya"))
    b = hourly.where(F.col("__t") == type_b).select("hour", F.col("y").alias("yb"))
    out = None
    for lag in range(-max_lag, max_lag + 1):
        shifted = b.select(
            (F.col("hour") - F.expr(f"INTERVAL {lag} HOUR")).alias("hour"),
            F.col("yb"),
        )
        j = a.join(shifted, "hour")
        n = F.count("*").cast("long")
        sx, sy = F.sum("ya"), F.sum("yb")
        sxx = F.sum(F.col("ya") * F.col("ya"))
        syy = F.sum(F.col("yb") * F.col("yb"))
        sxy = F.sum(F.col("ya") * F.col("yb"))
        denx = n.cast("double") * sxx - sx * sx
        deny = n.cast("double") * syy - sy * sy
        # a constant series has no defined correlation: 0.0 sentinel on
        # BOTH sides (Spark ANSI divide would error, DuckDB would NULL)
        r = F.when(
            (denx > 0) & (deny > 0),
            (n.cast("double") * sxy - sx * sy) / F.sqrt(denx * deny),
        ).otherwise(F.lit(0.0))
        row = j.agg(
            F.lit(lag).cast("int").alias("lag"),
            n.alias("n"),
            F.round(r, 6).alias("r"),
        )
        out = row if out is None else out.unionByName(row)
    # a lag with NO overlapping hours has no correlation row at all
    # (the oracle's GROUP BY simply produces none for it)
    return out.where(F.col("n") > 0)


def markov_accuracy(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Backtest of the first-order Markov next-event predictor: fit
    argmax transition targets on the FIRST time half, score hit-rate
    on the second — the baseline any sequence model must beat, and
    the quantitative summary of how much signal ``transition_entropy``
    says exists. Prediction for state s = the most frequent successor
    of s in training (ties → lexicographically smallest successor, so
    the model is deterministic); test transitions whose source state
    never appeared in training count as unpredicted misses (reported
    separately).

    Output: one row — (n_train, n_test, n_covered, n_hits, accuracy =
    hits/test, covered_accuracy = hits/covered), rounded 6.

    Scale shape: successor pairs come from one per-user lag window
    (shared sort); the model is a |states|² aggregate reduced to
    |states| argmax rows (broadcast-sized); scoring is one hash join
    of test transitions against the model.
    """
    us = F.unix_micros(F.col(ts_col))
    scal = df.agg(
        F.floor((F.min(us) + F.max(us)) / 2).cast("long").alias("__mid")
    )
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    pairs = (
        df.crossJoin(F.broadcast(scal))
        .select(
            F.col(type_col).alias("__from"),
            F.lead(type_col).over(w).alias("__to"),
            # a transition belongs to the half its SOURCE event is in
            (us <= F.col("__mid")).alias("__train"),
        )
        .where(F.col("__to").isNotNull())
    )
    train = pairs.where(F.col("__train"))
    test = pairs.where(~F.col("__train"))
    counts = train.groupBy("__from", "__to").agg(F.count("*").alias("__n"))
    wm = Window.partitionBy("__from").orderBy(F.col("__n").desc(), "__to")
    model = (
        counts.withColumn("__rn", F.row_number().over(wm))
        .where(F.col("__rn") == 1)
        .select(F.col("__from"), F.col("__to").alias("__pred"))
    )
    scored = test.join(F.broadcast(model), "__from", "left")
    tr = train.agg(F.count("*").cast("long").alias("n_train"))
    sc = scored.agg(
        F.count("*").cast("long").alias("n_test"),
        F.count("__pred").cast("long").alias("n_covered"),
        F.sum((F.col("__pred") == F.col("__to")).cast("int"))
        .cast("long")
        .alias("n_hits"),
    )
    return tr.crossJoin(F.broadcast(sc)).select(
        "n_train",
        "n_test",
        "n_covered",
        "n_hits",
        _round6_ratio(F.col("n_hits"), F.col("n_test")).alias("accuracy"),
        _round6_ratio(F.col("n_hits"), F.col("n_covered")).alias(
            "covered_accuracy"
        ),
    )


def interval_allocate(
    df: DataFrame,
    start_col: str,
    end_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Prorate an interval-shaped value across the fixed-width time
    buckets the interval overlaps — the warehouse allocation pattern
    (spread a session's revenue across the hours it spanned, a
    subscription across months, a shift across days). Each interval
    row (start, end, value) explodes into one row per overlapped
    bucket, weighted by overlap seconds / interval length;
    zero-length intervals (point events) allocate fully to their
    bucket; malformed intervals (end before start) are dropped. Returns (bucket_start, allocated, n_intervals) where
    ``bucket_start`` is the bucket's epoch-second start, ``allocated``
    sums prorated values in DECIMAL(38,12) (associative — identical
    under any partitioning) rounded to 6, and ``n_intervals`` counts
    contributing intervals.

    Scale shape: the explode is bounded by interval span /
    ``bucket_seconds`` (sessions spanning hours → a handful of rows),
    then one hash aggregation on the bucket key. No join, no window,
    no driver loop; degenerate multi-year intervals should be clamped
    upstream — the generate is linear in the TRUE output size."""
    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    v = F.col(value_col).cast("double")
    b = F.lit(float(bucket_seconds))
    first_b = F.floor(s / b).cast("long")
    last_b = F.floor(e / b).cast("long")
    # drop malformed intervals (end before start): Spark's
    # F.sequence(first, last) would generate a DESCENDING bucket list
    # (rows with negative fractions) while DuckDB's generate_series
    # returns empty — filtering makes both engines agree (row vanishes).
    rows = df.where(e >= s).select(
        s.alias("__s"), e.alias("__e"), v.alias("__v"),
        F.explode(F.sequence(first_b, last_b)).alias("__bkt"),
    )
    lo = F.greatest(F.col("__s"), F.col("__bkt") * b)
    hi = F.least(F.col("__e"), (F.col("__bkt") + 1) * b)
    frac = F.when(F.col("__e") == F.col("__s"), F.lit(1.0)).otherwise(
        (hi - lo) / (F.col("__e") - F.col("__s"))
    )
    return (
        rows.select(
            (F.col("__bkt") * F.lit(bucket_seconds)).cast("long").alias("bucket_start"),
            (F.col("__v") * frac).alias("__alloc"),
        )
        .groupBy("bucket_start")
        .agg(
            # round the exact DECIMAL sum FIRST, cast to double after
            # (CLAUDE.md invariant): rounding the post-cast double
            # reopens the shortest-rendering midpoint split
            F.round(
                F.sum(F.col("__alloc").cast("decimal(38,12)")), 6
            ).cast("double").alias("allocated"),
            F.count("*").cast("long").alias("n_intervals"),
        )
    )


def growth_accounting(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period_sec: int = 604800,
) -> DataFrame:
    """Growth accounting (the new/retained/resurrected/churned ledger
    every product-analytics stack reports): bucket activity into
    fixed periods, then classify each active (user, period) by its
    previous activity — NEW (first period ever), RETAINED (active the
    immediately preceding period), RESURRECTED (active before, but
    not the preceding period) — and derive CHURNED(p) as the users
    active in p−1 who did not return in p (= active(p−1) −
    retained(p), an identity that needs no extra scan). Returns one
    row per period: (period_start, n_active, n_new, n_retained,
    n_resurrected, n_churned).

    Scale shape: rows collapse to the distinct (user, period) grid
    first (one shuffle), classification is a lag window per user over
    that grid (period-grain, not event-grain), and the churn identity
    joins the period summary against its own lag — a period-count
    table, tiny by construction."""
    p = F.floor(F.col(ts_col).cast("double") / period_sec).cast("long")
    grid = df.select(F.col(key_col).alias("u"), p.alias("p")).distinct()
    w = Window.partitionBy("u").orderBy("p")
    classified = grid.select(
        "u",
        "p",
        F.lag("p").over(w).alias("prev_p"),
    ).select(
        "p",
        F.when(F.col("prev_p").isNull(), "new")
        .when(F.col("prev_p") == F.col("p") - 1, "retained")
        .otherwise("resurrected")
        .alias("cls"),
    )
    per_period = classified.groupBy("p").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum(F.when(F.col("cls") == "new", 1).otherwise(0)).cast("long").alias("n_new"),
        F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("cls") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    wp = Window.orderBy("p")
    return per_period.select(
        (F.col("p") * period_sec).cast("long").alias("period_start"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        # churned(p) = active(p-1) - retained(p); when the preceding
        # calendar period is absent nobody was active to churn -> 0
        F.when(
            F.lag("p").over(wp) == F.col("p") - 1,
            F.lag("n_active").over(wp) - F.col("n_retained"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_churned"),
    )


def churn_baseline_auc(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Recency-baseline churn backtest: split event time at the global
    midpoint, score every user active in the first half by the
    RECENCY of their last first-half event (more recent → more likely
    to return), label them by whether they actually returned in the
    second half, and report the ROC AUC of that score via the exact
    rank-sum identity (``profiling.rank_auc``). This is the
    never-skip baseline any churn model must beat — if a trained
    model's AUC is below recency's, ship the heuristic.

    Returns ONE row (n_pos, n_neg, auc): pos = returned. Scale shape:
    one user-grain aggregation each side of the midpoint (1-row
    broadcast), a user-grain join, then rank_auc's single window over
    the USER table (not events)."""
    from kairos_spark.operators.profiling import rank_auc

    # NTZ→TIMESTAMP is an identity relabel under the UTC session and
    # lets unix_micros accept either physical encoding (o_orderdate
    # reads as TIMESTAMP_NTZ; events.ts as TIMESTAMP)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    scal = df.agg(
        F.floor((F.min(t) + F.max(t)) / 2).cast("long").alias("__mid")
    )
    base = df.crossJoin(F.broadcast(scal)).select(
        F.col(key_col).alias("u"), t.alias("__t"), F.col("__mid")
    )
    before = (
        base.where(F.col("__t") <= F.col("__mid"))
        .groupBy("u")
        .agg(
            # score = last pre-midpoint activity time: later == more
            # recent == higher score (recency baseline)
            F.max("__t").cast("double").alias("score")
        )
    )
    after = base.where(F.col("__t") > F.col("__mid")).select("u").distinct()
    labeled = before.join(
        after.withColumn("returned", F.lit(1)), "u", "left"
    ).select("score", F.coalesce(F.col("returned"), F.lit(0)).alias("returned"))
    return rank_auc(labeled, "score", "returned")


def session_gap_sweep(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gaps_sec: list[int] = (900, 1800, 3600),
) -> DataFrame:
    """Sessionization-threshold sensitivity sweep in ONE pass: for a
    grid of gap thresholds, how many sessions the corpus splits into
    and the mean events per session. A session count that swings
    sharply between adjacent thresholds means the inter-event gap
    distribution has mass right at the cut — pick a threshold on a
    plateau, not a cliff (this audit finds the plateau without
    re-running sessionize per candidate). Returns one row per
    threshold: (gap_sec, n_sessions, n_events, events_per_session).

    Scale shape: ONE lag window per user computes each event's
    inter-arrival gap; every threshold is then a conditional count
    over the same gap column — adding thresholds costs a when(),
    not a pass. n_sessions(g) = n_users + #{gaps > g}."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    secs = F.col(ts_col).cast("double")
    gap = (secs - F.lag(secs).over(w)).alias("__gap")
    gaps = df.select(F.col(key_col).alias("__u"), gap)
    agg = gaps.agg(
        F.countDistinct("__u").cast("long").alias("__n_users"),
        F.count("*").cast("long").alias("__n_events"),
        *[
            F.sum(F.when(F.col("__gap") > float(g), 1).otherwise(0))
            .cast("long")
            .alias(f"__x{g}")
            for g in gaps_sec
        ],
    )
    rows = None
    for g in gaps_sec:
        one = agg.select(
            F.lit(int(g)).cast("long").alias("gap_sec"),
            (F.col("__n_users") + F.col(f"__x{g}")).alias("n_sessions"),
            F.col("__n_events").alias("n_events"),
            _round6_ratio(
                F.col("__n_events"), F.col("__n_users") + F.col(f"__x{g}")
            ).alias("events_per_session"),
        )
        rows = one if rows is None else rows.union(one)
    return rows


def event_study(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    anchor_type: str = "purchase",
    value_col: str = "value",
    window_days: int = 5,
) -> DataFrame:
    """Event-study alignment (the difference-in-timing workhorse of
    applied analytics): anchor every user at their FIRST
    ``anchor_type`` event, re-index all their activity as whole-day
    offsets from that anchor, and aggregate within ±``window_days``.
    The resulting offset curve (activity/value before vs after the
    anchor) is how "what changes after first purchase/signup/upgrade"
    questions are answered without a model. Users who never hit the
    anchor drop out. Returns one row per offset: (offset_day,
    n_events, n_users, mean_value).

    Scale shape: one filtered aggregation finds per-user anchors
    (user-grain), one hash join re-attaches them to the fact stream,
    then a bounded-range filter and one aggregation. Value means
    accumulate in DECIMAL(38,12)."""
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    anchors = (
        df.where(F.col(type_col) == anchor_type)
        .groupBy(F.col(key_col).alias("__u"))
        .agg(F.min(t).alias("__t0"))
    )
    joined = df.select(
        F.col(key_col).alias("__u"), t.alias("__t"), F.col(value_col).cast("double").alias("__v")
    ).join(anchors, "__u")
    off = F.floor((F.col("__t") - F.col("__t0")) / 86400000000).cast("long")
    return (
        joined.select("__u", off.alias("offset_day"), "__v")
        .where((F.col("offset_day") >= -window_days) & (F.col("offset_day") <= window_days))
        .groupBy("offset_day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("__u").cast("long").alias("n_users"),
            # mean of event values (|x| << 4.5e3): bridge, never bare
            # F.round on the double quotient (midpoint class, caught
            # by the r9 round_lint tightening)
            _round6_bridge(
                F.sum(F.col("__v").cast("decimal(38,12)")).cast("double")
                / F.count("*")
            ).alias("mean_value"),
        )
    )


def audience_stability(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period_sec: int = 86400,
) -> DataFrame:
    """Audience-stability curve: Jaccard overlap of the active-unit
    set between each period and the NEXT one — |A_p ∩ A_{p+1}| /
    |A_p ∪ A_{p+1}|. A healthy product shows a stable plateau; a
    bot-inflated or paid-burst feed shows near-zero overlap (fresh
    "users" every day). Complementary to growth_accounting: that
    ledger counts states, this scores set identity. Returns one row
    per consecutive period pair: (period_start, next_start, n_active,
    n_next, n_overlap, jaccard).

    Scale shape: rows collapse to the distinct (unit, period) grid;
    the overlap is a self-join of the grid on (unit, period+1) —
    equality hash join, aggregated per period. No window, no
    cartesian."""
    p = F.floor(F.col(ts_col).cast("double") / period_sec).cast("long")
    grid = df.select(F.col(key_col).alias("u"), p.alias("p")).distinct()
    sizes = grid.groupBy("p").agg(F.count("*").cast("long").alias("n_active"))
    nxt = grid.select("u", (F.col("p") - 1).alias("p"))
    overlap = (
        grid.join(nxt, ["u", "p"])
        .groupBy("p")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    s2 = sizes.select((F.col("p") - 1).alias("p"), F.col("n_active").alias("n_next"))
    joined = (
        sizes.join(s2, "p")
        .join(overlap, "p", "left")
        .select(
            (F.col("p") * period_sec).cast("long").alias("period_start"),
            ((F.col("p") + 1) * period_sec).cast("long").alias("next_start"),
            "n_active",
            "n_next",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / (
                    F.col("n_active") + F.col("n_next")
                    - F.coalesce(F.col("n_overlap"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return joined


def max_drawdown(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    bucket_sec: int = 86400,
) -> DataFrame:
    """Maximum drawdown of the cumulative value series at bucket
    grain: cum(t) = Σ value up to bucket t, drawdown(t) = running
    peak − cum(t), MDD = max over t. The risk metric finance runs on
    P&L applies verbatim to any cumulative KPI (net credits, revenue
    net of refunds, token budget burn): "how far below its best has
    this series fallen?". Returns ONE row: (n_buckets, final_cum,
    peak, max_drawdown).

    Exactness: per-bucket sums and the cumulative/peak windows all
    accumulate in DECIMAL(38,12) (associative; the window order is
    the bucket order — identical in any engine). One aggregation to
    bucket grain, then two windows over the BUCKET series (tiny)."""
    from pyspark.sql.window import Window

    b = F.floor(F.col(ts_col).cast("double") / bucket_sec).cast("long")
    per = (
        df.select(b.alias("bkt"), F.col(value_col).cast("double").alias("v"))
        .groupBy("bkt")
        .agg(F.sum(F.col("v").cast("decimal(38,12)")).alias("s"))
    )
    w_cum = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = per.select(
        "bkt",
        F.sum("s").over(w_cum).alias("cum"),
    ).select(
        "bkt",
        "cum",
        F.max("cum").over(w_cum).alias("peak"),
    )
    return stepped.agg(
        F.count("*").cast("long").alias("n_buckets"),
        # round the DECIMALs first, cast after (1e9+-magnitude rule)
        F.round(F.max_by(F.col("cum"), F.col("bkt")), 6).cast("double").alias("final_cum"),
        F.round(F.max("cum"), 6).cast("double").alias("peak"),
        F.round(F.max(F.col("peak") - F.col("cum")), 6).cast("double").alias(
            "max_drawdown"
        ),
    )


def path_conformance(
    df: DataFrame,
    canonical: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_sec: float = 1800.0,
    max_len: int = 20,
) -> DataFrame:
    """Process-mining conformance check: encode each session's
    event-type sequence as a string of single-letter codes (first
    letter of each type, the same encoding ``session_paths`` uses for
    display), then score its Levenshtein edit distance to the
    ``canonical`` path — "how far from the designed flow do real
    sessions run?". Sessions longer than ``max_len`` steps truncate
    (their distance is a lower bound; count reported separately by
    the histogram's top bucket semantics). Returns the distance
    histogram: (edit_distance, n_sessions, share).

    Scale shape: sessionize (one key shuffle) → per-session string
    aggregation (concat of ordered codes via collect_list over the
    session window) → map-only levenshtein → one histogram
    aggregation. The per-session state is ≤ max_len chars."""
    # type_col as the order tiebreak: equal-ts events would otherwise
    # concatenate in nondeterministic order across engines
    s = sessionize(df, key_col, ts_col, gap_sec, order_col=type_col)
    w = (
        Window.partitionBy(key_col, "session_id")
        .orderBy(F.col(ts_col), F.col(type_col))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    coded = s.select(
        F.col(key_col).alias("u"),
        F.col("session_id"),
        F.concat_ws(
            "", F.collect_list(F.substring(F.col(type_col), 1, 1)).over(w)
        ).alias("path"),
    ).distinct()
    dist = coded.select(
        F.levenshtein(
            F.substring(F.col("path"), 1, max_len), F.lit(canonical)
        ).alias("edit_distance")
    )
    hist = dist.groupBy("edit_distance").agg(F.count("*").cast("long").alias("n_sessions"))
    tot = hist.agg(F.sum("n_sessions").cast("long").alias("__t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("edit_distance").cast("long").alias("edit_distance"),
            "n_sessions",
            _round6_ratio(F.col("n_sessions"), F.col("__t")).alias("share"),
        )
    )


def logrank_test(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    from_type: str = "signup",
    to_type: str = "purchase",
    step_sec: int = 86400,
) -> DataFrame:
    """Two-group log-rank test (Mantel 1966) on the same
    time-to-convert construction as ``kaplan_meier`` (first
    ``from_type`` → first later ``to_type``, right-censored at the
    global observation end), with groups assigned by the md5-half
    unit split (A/A harness by default — wire in a real cohort
    column upstream to compare treatments): at each period with
    pooled conversions, compare group A's observed conversions to
    its at-risk-share expectation; χ² = (ΣO−ΣE)²/ΣV. The KM curve
    says WHAT each cohort's survival looks like; log-rank says
    whether the difference is real. Returns ONE row:
    (n_a, n_b, obs_a, exp_a, chi2).

    Scale shape: per-user durations (two min-aggregates on the user
    key, same as KM), then all test arithmetic on PERIOD-grain rows —
    the at-risk counts come from one bounded non-equi join of the
    user table against the period list (|periods| rows, broadcast)."""
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(user_col).alias("u"), t.alias("t"), F.col(type_col).alias("ty")
    )
    endo = base.agg(F.max("t").alias("__end"))
    starts = base.where(F.col("ty") == from_type).groupBy("u").agg(
        F.min("t").alias("t0")
    )
    convs = (
        base.where(F.col("ty") == to_type)
        .join(starts, "u")
        .where(F.col("t") > F.col("t0"))
        .groupBy("u")
        .agg(F.min("t").alias("t1"))
    )
    step_us = int(step_sec) * 1000000
    users = (
        starts.join(convs, "u", "left")
        .crossJoin(F.broadcast(endo))
        .select(
            "u",
            F.substring(F.md5(F.col("u").cast("string")), 1, 1)
            .isin(*"01234567")
            .cast("int")
            .alias("a"),
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("ev"),
            F.floor(
                (F.coalesce(F.col("t1"), F.col("__end")) - F.col("t0")) / step_us
            )
            .cast("long")
            .alias("dur"),
        )
    )
    periods = (
        users.where(F.col("ev") == 1).select(F.col("dur").alias("tt")).distinct()
    )
    at = users.join(F.broadcast(periods), F.col("dur") >= F.col("tt"))
    per_t = at.groupBy("tt").agg(
        F.sum(F.when(F.col("a") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("a") == 0, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("ev") == 1) & (F.col("dur") == F.col("tt")), 1).otherwise(0)
        )
        .cast("long")
        .alias("d1"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("ev") == 1) & (F.col("dur") == F.col("tt")), 1).otherwise(0)
        )
        .cast("long")
        .alias("d2"),
    )
    n = (F.col("n1") + F.col("n2")).cast("double")
    d = (F.col("d1") + F.col("d2")).cast("double")
    e1 = d * F.col("n1") / n
    v = F.when(
        n > 1,
        d * (F.col("n1") / n) * (1.0 - F.col("n1") / n) * (n - d) / (n - 1.0),
    ).otherwise(F.lit(0.0))
    sums = per_t.agg(
        F.sum(F.col("d1").cast("decimal(38,12)")).cast("double").alias("obs_a"),
        F.sum(e1.cast("decimal(38,12)")).cast("double").alias("exp_a"),
        F.sum(v.cast("decimal(38,12)")).cast("double").alias("var_a"),
    )
    counts = users.agg(
        F.sum("a").cast("long").alias("n_a"),
        (F.count("*") - F.sum("a")).cast("long").alias("n_b"),
    )
    return counts.crossJoin(F.broadcast(sums)).select(
        "n_a",
        "n_b",
        F.round("obs_a", 6).alias("obs_a"),
        F.round("exp_a", 6).alias("exp_a"),
        F.round(
            (F.col("obs_a") - F.col("exp_a"))
            * (F.col("obs_a") - F.col("exp_a"))
            / F.col("var_a"),
            6,
        ).alias("chi2"),
    )


def forecast_mase(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    season_lag: int = 24,
) -> DataFrame:
    """MASE (Hyndman & Koehler 2006) of the seasonal-naive forecaster
    scaled by the one-step persistence baseline, per group — the M4
    standard that makes forecast error comparable ACROSS series of
    different volumes (MAE/RMSE can't rank a 10-event/hour series
    against a 10k-event/hour one; MASE < 1 means the seasonal
    forecaster beats persistence on this series, the actionable bit).

    Same observed-hourly-grid and lag conventions as
    ``forecast_eval``. MASE = (Σ|e_s|/n_s) / (Σ|e_1|/n_1) — a ratio
    of two exact integer ratios, restructured to the ONE exact integer
    ratio Σ|e_s|·n_1 / (Σ|e_1|·n_s) through the DECIMAL route (the
    documented two-stage-rational rule). Degenerate groups (no
    evaluable lags, or a perfectly persistent series with zero
    baseline error) sentinel to -1.0 on both sides.

    Scale shape: identical to forecast_eval — one map-side-combined
    (group, hour) aggregate, per-group lag windows over hour-grain
    rows, one combiner rollup."""
    from kairos_spark.exact import _round6_ratio_dec

    with_lags = _hourly_lags(df, group_col, ts_col, season_lag)
    e1 = (F.col("y") - F.col("p1")).cast("long")
    es = (F.col("y") - F.col("ps")).cast("long")
    agg = with_lags.groupBy("grp").agg(
        F.count("p1").cast("long").alias("n_naive"),
        F.sum(F.abs(e1)).cast("long").alias("__ae1"),
        F.count("ps").cast("long").alias("n_seasonal"),
        F.sum(F.abs(es)).cast("long").alias("__aes"),
    )
    ok = (F.col("n_naive") > 0) & (F.col("n_seasonal") > 0) & (F.col("__ae1") > 0)
    return agg.select(
        F.col("grp").alias(group_col),
        "n_naive",
        "n_seasonal",
        F.when(
            ok,
            _round6_ratio_dec(
                F.col("__aes").cast("decimal(38,0)")
                * F.col("n_naive").cast("decimal(38,0)"),
                F.col("__ae1").cast("decimal(38,0)")
                * F.col("n_seasonal").cast("decimal(38,0)"),
            ),
        )
        .otherwise(F.lit(-1.0))
        .alias("mase"),
    )


#: 1 / log2(i + 1) for rank i = 1..10, precomputed HOST-SIDE and
#: injected as shortest-repr literals into BOTH engines' plans — the
#: engines' own log2() implementations differ by up to 2 ulp (the
#: documented transcendental class), so nDCG discounts are never
#: computed engine-side at all.
NDCG_DISCOUNTS_10 = (
    1.0,
    0.6309297535714575,
    0.5,
    0.43067655807339306,
    0.38685280723454163,
    0.3562071871080222,
    0.3333333333333333,
    0.31546487678572877,
    0.3010299956639812,
    0.2890648263178879,
)


def ndcg_sessions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    grades: dict | None = None,
    gap_sec: float = 1800.0,
    k: int = 10,
) -> DataFrame:
    """Graded nDCG@k of gap-based sessions — the graded-relevance
    companion to :func:`mrr_sessions` (Järvelin & Kekäläinen 2002,
    TOIS): each session is scored as a ranked list whose item gains
    are engagement grades (default purchase=3, signup=2, click=1,
    else 0), DCG@k = Σ rel_i/log2(i+1) against the session's own
    ideal ordering. Grouped by session ENTRY event type, the panel
    says which entry points lead sessions that surface value early
    vs bury it.

    Parity design: the rank discounts are host-precomputed literals
    (``NDCG_DISCOUNTS_10`` — no engine-side log2, see its note); per
    session DCG and IDCG are LEFT-TO-RIGHT folds over rank-ordered
    arrays (zip_with against the discount literal array, NULL-padded
    ranks coalesce to 0.0), so both engines execute the identical
    IEEE sequence; per-session nDCG quantizes on the 1e-12 grid and
    aggregates as exact DECIMAL ratios. All-zero-grade sessions score
    0.0 (sentinel, counted in ``n_norel`` — the built-in non-vacuity
    counter).

    Output per entry type: (entry_type, n_sessions, n_norel,
    mean_ndcg).

    Scale shape: ONE per-user sort shared by sessionization and
    ranking; per-session state is a ≤k-element array (never raw
    events); the final aggregate is |entry types| rows."""
    if int(k) != len(NDCG_DISCOUNTS_10):
        raise ValueError(f"k={k} not supported; discounts precomputed for k=10")
    g = grades or {"purchase": 3, "signup": 2, "click": 1}
    rel = F.lit(0)
    for t, v in sorted(g.items()):
        rel = F.when(F.col("__t") == t, F.lit(int(v))).otherwise(rel)
    sess = _us_sessions(df, user_col, type_col, ts_col, seq_col, gap_sec)
    ws = Window.partitionBy("__u", "__sid").orderBy("__us", "__seq")
    pos = sess.select(
        "__u", "__sid", rel.alias("__r"), F.col("__t"),
        F.row_number().over(ws).alias("__pos"),
    )
    per_sess = pos.groupBy("__u", "__sid").agg(
        F.slice(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos").alias("p"), F.col("__r").alias("r")))
                ),
                lambda s: s.r,
            ),
            1,
            int(k),
        ).alias("__byrank"),
        F.slice(F.sort_array(F.collect_list("__r"), asc=False), 1, int(k)).alias(
            "__ideal"
        ),
        F.max("__r").alias("__maxr"),
        F.min(F.when(F.col("__pos") == 1, F.col("__t"))).alias("entry_type"),
    )
    disc = F.array(*[F.lit(d) for d in NDCG_DISCOUNTS_10])

    def _fold(arr):
        return F.aggregate(
            F.zip_with(arr, disc, lambda r, d: F.coalesce(r * d, F.lit(0.0))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    scored = per_sess.select(
        "entry_type",
        F.when(F.col("__maxr") == 0, F.lit(0)).otherwise(
            F.floor(
                (_fold(F.col("__byrank")) / _fold(F.col("__ideal")))
                * F.lit(1_000_000_000_000.0)
                + F.lit(0.5)
            )
        )
        .cast("long")
        .alias("__q"),
        F.when(F.col("__maxr") == 0, 1).otherwise(0).alias("__norel"),
    )
    return (
        scored.groupBy("entry_type")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("__norel").cast("long").alias("n_norel"),
            _round6_ratio_dec(
                F.sum("__q"), F.count("*") * F.lit(1_000_000_000_000)
            ).alias("mean_ndcg"),
        )
        .orderBy("entry_type")
    )
