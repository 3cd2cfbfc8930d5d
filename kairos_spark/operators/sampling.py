"""Deterministic sampling / split operators for training-data pipelines.

Every selection here is a pure function of the row's id (md5-derived,
seed-free), never of `rand()`: at 100 TB a training/val/test split must
be reproducible across reruns, engines, and partitionings, and must
stay stable when the corpus grows (adding documents never reshuffles
existing assignments — the property random-split lacks). This is the
standard hash-mod split used by large-scale data pipelines; DuckDB
reproduces the exact same assignment for the oracle harness.

All operators are map-only projections/filters — no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from kairos_spark.exact import _round6_ratio
from kairos_spark.operators.text import agree_lower, normalize_ws

# Bucket granularity for fraction thresholds: fractions are exact to
# 1e-6, and thresholds stay far below 2^44 so the md5-slice math is
# identical in Spark and DuckDB BIGINT arithmetic.
BUCKETS = 1_000_000


def hash_bucket(col: Column, buckets: int = BUCKETS) -> Column:
    """Uniform bucket in [0, buckets) from the md5 of the value's string
    form — engine-portable (DuckDB: ('0x'||substr(md5(v),1,11))::BIGINT)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 11), 16, 10).cast("long")
        % buckets
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    salt: str = "",
) -> DataFrame:
    """Attach a deterministic `split` column partitioning rows by
    cumulative fraction thresholds over the id hash. ``salt`` derives an
    independent split family from the same ids."""
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    key = (
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
        if salt
        else F.col(id_col)
    )
    b = hash_bucket(key)
    expr = None
    acc = 0.0
    for name, frac in splits[:-1]:
        acc += frac
        cut = int(round(acc * BUCKETS))
        expr = F.when(b < cut, F.lit(name)) if expr is None else expr.when(b < cut, F.lit(name))
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def pack_shards(
    df: DataFrame,
    size_col: str,
    budget: int,
    id_col: str = "doc_id",
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Assign rows to budget-bounded training shards: rows are laid out
    in deterministic md5-hash order, sizes are prefix-summed, and
    ``shard = floor(prefix_sum / budget)`` — the sequence-packing /
    shard-manifest step of a training-data pipeline (consecutive shards
    carry ~``budget`` units each, reproducibly).

    Scale shape — a global cumulative sum WITHOUT a global window (a
    bare ``Window.orderBy`` would drag the whole corpus into one task):
    the hash keyspace is cut into ``coarse_buckets`` ordered ranges;
    per-range totals (``coarse_buckets`` rows) are prefix-summed and
    joined back as broadcast offsets; the within-range cumsum is a
    window PARTITIONED by range — every task sorts only its slice. The
    driver never sees more than ``coarse_buckets`` scalar rows.

    Returns the input columns + ``shard`` (long, 0-based).
    """
    # 44-bit md5 key, split into [0, coarse_buckets) ordered ranges
    key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 11), 16, 10
    ).cast("long")
    span = (1 << 44) // coarse_buckets + 1
    keyed = df.withColumn("__k", key).withColumn(
        "__rng", (F.col("__k") / span).cast("long")
    )
    totals = keyed.groupBy("__rng").agg(F.sum(size_col).alias("__tot"))
    # this global window runs over exactly coarse_buckets rows — the
    # single-task sort is bounded by the constant, not the data
    offsets = totals.select(
        "__rng",
        (
            F.sum("__tot").over(
                Window.orderBy("__rng").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("__tot")
        ).alias("__off"),
    )
    w = (
        Window.partitionBy("__rng")
        .orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = keyed.join(F.broadcast(offsets), "__rng").withColumn(
        "__cum", F.sum(size_col).over(w) + F.col("__off")
    )
    return packed.withColumn(
        "shard", ((F.col("__cum") - F.col(size_col)) / budget).cast("long")
    ).drop("__k", "__rng", "__off", "__cum")


def sample_priority(id_col: Column, weight: Column, salt: str = "") -> Column:
    """Efraimidis–Spirakis (A-ES) sampling priority ``-ln(u) / w`` with
    ``u`` an md5-derived uniform in (0, 1] — selecting the k SMALLEST
    priorities draws a weighted sample without replacement where
    inclusion odds scale with ``w`` (equivalent to the textbook
    ``u^(1/w)`` take-k-largest form, monotone-transformed to avoid the
    pow). u is (h+1) / 2^44 from the 44-bit md5 slice: the +1 keeps
    ln(0) out, and dividing by a power of two is exact in IEEE double,
    so the only engine-sensitive step is ln itself (≤1 ulp; outputs are
    rounded to 6 decimals before any hash comparison)."""
    key = (
        F.concat(F.lit(salt), id_col.cast("string")) if salt else id_col
    )
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 11), 16, 10).cast("long")
    u = (h + F.lit(1)) / F.lit(float(1 << 44))
    return -F.log(u) / weight


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows without replacement
    (e.g. length-weighted document subsampling). Rows with non-positive
    weight are excluded (their A-ES priority is undefined).

    Scale shape: the priority is a map-only projection and the k-smallest
    selection is ``orderBy().limit(k)`` — Spark plans that as
    TakeOrderedAndProject (per-partition top-k heaps merged on the
    driver), so nothing global is ever sorted and only ``k`` rows move.
    ``salt`` draws an independent sample family from the same ids.
    """
    pr = sample_priority(F.col(id_col), F.col(weight_col), salt)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("priority", pr)
        .orderBy("priority", id_col)
        .limit(k)
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows (e.g. language
    rebalancing: downsample dominant languages, keep the tail whole).
    Strata absent from ``fractions`` get ``default_fraction``."""
    key = (
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
        if salt
        else F.col(id_col)
    )
    b = hash_bucket(key)
    thresh = None
    for stratum, frac in sorted(fractions.items()):
        cut = int(round(frac * BUCKETS))
        cond = F.col(strata_col) == stratum
        thresh = F.when(cond, cut) if thresh is None else thresh.when(cond, cut)
    cut_default = int(round(default_fraction * BUCKETS))
    thresh = F.lit(cut_default) if thresh is None else thresh.otherwise(cut_default)
    return df.where(b < thresh)


def domain_cap(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    caps: dict[str, int] | None = None,
    priority_col: str | None = None,
) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` rows per group
    (``caps`` overrides per group — the domain-mix rebalancing form:
    derive per-domain budgets from a target mix, pass them here).
    Selection is deterministic: best ``priority_col`` first (ties by
    hash) or, with no priority, md5-hash order — a uniform, seed-free
    per-domain subsample that never reshuffles when the corpus grows.
    Real crawls cap per source domain so no single site dominates the
    training mix, independent of dedup.

    Scale shape: rows shuffle once on the group key, but the window
    sort only ever runs on over-cap domains — per-domain counts are
    aggregated first (map-side combined) and under-cap domains pass
    through with no sort at all. The classic mega-domain skew therefore
    costs one sorted partition per over-cap domain, and every other row
    takes the sort-free branch. (At extreme skew, pre-filter a
    mega-domain with an approximate priority-threshold from
    ``percentile_approx`` before the exact window.)

    Returns the input columns unchanged, capped."""
    from pyspark.sql.window import Window

    cap_expr = F.lit(cap)
    if caps:
        for dom, c in sorted(caps.items()):
            cap_expr = F.when(F.col(group_col) == dom, F.lit(c)).otherwise(cap_expr)
    hash_ord = F.md5(F.col(id_col).cast("string"))
    order = (
        [F.col(priority_col).desc(), hash_ord, F.col(id_col)]
        if priority_col
        else [hash_ord, F.col(id_col)]
    )
    counts = df.groupBy(F.col(group_col)).agg(F.count("*").alias("__gn"))
    tagged = df.join(counts, group_col)
    under = tagged.where(F.col("__gn") <= cap_expr).drop("__gn")
    w = Window.partitionBy(group_col).orderBy(*order)
    over = (
        tagged.where(F.col("__gn") > cap_expr)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap_expr)
        .drop("__rn", "__gn")
    )
    return under.unionByName(over)


def temperature_mix(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    budget: int = 1000,
) -> DataFrame:
    """Temperature-scaled sampling plan per group: target counts
    proportional to share^alpha (alpha < 1 flattens the mix toward the
    tail — the standard multilingual rebalance from the XLM/mT5 data
    recipes; alpha=1 keeps natural proportions, alpha=0 is uniform).
    Returns one row per group: observed n and share, the temperature
    probability p_target, the integer target_n (largest-remainder
    rounding, so sum(target_n) == budget exactly), feasible_n =
    min(target, available), and the sample_rate to feed
    ``stratified_sample`` / ``domain_cap`` with.

    Determinism: alpha=0.5 runs as sqrt() — IEEE-exact in both engines
    — and other alphas round the scaled weight to 6 decimals before
    the floor/rank so pow() last-ulp differences cannot flip a count.
    Largest-remainder ties break lexicographically.

    Shape: one group aggregate; the corpus-wide scalars ride a 1-row
    broadcast; ranking windows run over the |groups|-grain plan table
    only. This operator PLANS the mix — the map-only hash filters
    (stratified_sample) execute it without ever shuffling documents."""
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(group_col).alias("name")).agg(
        F.count("*").alias("n")
    )
    share = F.col("n") / F.col("__total")
    if alpha == 0.5:
        w_expr = F.sqrt(share)
    else:
        w_expr = F.pow(share, F.lit(float(alpha)))
    tot = counts.agg(F.sum("n").alias("__total"))
    weighted = counts.crossJoin(F.broadcast(tot)).select(
        "name",
        "n",
        _round6_ratio(F.col("n"), F.col("__total")).alias("share"),
        w_expr.alias("__w"),
    )
    wsum = weighted.agg(F.sum("__w").alias("__wsum"))
    planned = weighted.crossJoin(F.broadcast(wsum)).select(
        "name",
        "n",
        "share",
        F.round(F.col("__w") / F.col("__wsum"), 6).alias("p_target"),
        F.round(budget * F.col("__w") / F.col("__wsum"), 6).alias("__raw"),
    )
    base = planned.select(
        "*",
        F.floor("__raw").cast("long").alias("__base"),
        (F.col("__raw") - F.floor("__raw")).alias("__frac"),
    )
    short = base.agg((budget - F.sum("__base")).alias("__short"))
    wr = Window.orderBy(F.col("__frac").desc(), "name")
    out = (
        base.crossJoin(F.broadcast(short))
        .withColumn("__rk", F.row_number().over(wr))
        .select(
            "name",
            F.col("n").cast("long").alias("n"),
            "share",
            "p_target",
            (
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__short"), 1).otherwise(0)
            )
            .cast("long")
            .alias("target_n"),
        )
    )
    return out.select(
        "name",
        "n",
        "share",
        "p_target",
        "target_n",
        F.least(F.col("target_n"), F.col("n")).cast("long").alias("feasible_n"),
        _round6_ratio(F.least(F.col("target_n"), F.col("n")), F.col("n")).alias(
            "sample_rate"
        ),
    )


def grouped_weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-group deterministic weighted sample: within every group keep
    the ``k`` best A-ES priorities (see ``sample_priority``) — the
    stratified companion to ``weighted_sample`` (global) and
    ``domain_cap`` (unweighted). "20 length-weighted docs per language"
    is one call, reproducible across engines and reruns.

    Shape: priority is a map-only projection; the top-k is a
    row_number window per group — rows shuffle once on the group key.
    A group with fewer than k positive-weight rows keeps them all.
    Skewed mega-groups pay one sorted partition each; at extreme skew
    pre-filter with a per-group approximate priority cutoff
    (percentile_approx) before the exact window, same trade as
    domain_cap."""
    from pyspark.sql.window import Window

    pr = sample_priority(F.col(id_col), F.col(weight_col), salt)
    w = Window.partitionBy(group_col).orderBy("priority", id_col)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("priority", pr)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def negative_pairs(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 3,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive/ranking
    training pairs: for every observed (user, positive item), emit
    ``k`` negatives drawn from the item vocabulary by salted md5 over
    (user, item, slot) — reproducible across runs and engines (no
    RNG), with draws that collide with ANY of the user's positives
    filtered out (a "negative" the user actually interacted with is
    a false negative).

    The vocabulary is collected once (items are a category set, not a
    fact table — document the assumption; for billion-item catalogs
    swap the array lookup for a hash-bucket join against an items
    table). Output: (user, pos_item, slot, neg_item).

    Scale shape: map-only — the vocab rides a literal array into the
    hash-index expression; the false-negative filter is a left-anti
    join of (user, candidate) against the user's positive set (short
    keys only).
    """
    vocab = sorted(
        r[0] for r in positives.select(F.col(item_col)).distinct().collect()
    )
    varr = F.array(*[F.lit(v) for v in vocab])
    base = positives.select(
        F.col(user_col).alias("user"), F.col(item_col).alias("pos_item")
    ).distinct()
    slots = base.select(
        "user",
        "pos_item",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("slot"),
    )
    key = F.concat_ws(
        "\x1f", F.lit(salt), F.col("user").cast("string"),
        F.col("pos_item").cast("string"), F.col("slot").cast("string"),
    )
    idx = (
        F.conv(F.substring(F.md5(key), 1, 11), 16, 10).cast("long")
        % F.lit(len(vocab))
    ).cast("int")
    cand = slots.select(
        "user", "pos_item", "slot", F.element_at(varr, idx + 1).alias("neg_item")
    )
    pos_set = base.select(
        F.col("user"), F.col("pos_item").alias("neg_item")
    ).distinct()
    return cand.join(pos_set, ["user", "neg_item"], "left_anti").select(
        "user", "pos_item", "slot", "neg_item"
    )


def bernoulli_ht_audit(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    value_col,
    rates: dict,
    salt: str = "ht",
) -> DataFrame:
    """Horvitz–Thompson estimator audit for deterministic Bernoulli
    sampling: each stratum is hash-sampled at its own rate p
    (membership = md5(salt, row id) threshold — reproducible across
    engines and reruns), the stratum total is estimated as
    (sampled sum)/p, and BOTH the estimate and the exact truth are
    reported with the relative error — the calibration loop that
    tells you whether the survey-sampling shortcut ("profile 1% of
    the crawl") is tight enough to trust for THIS measure, and a
    template for unequal-probability designs (rare strata sampled
    harder).

    Output per stratum: (stratum, rate, n, n_sampled, true_total,
    ht_estimate, rel_err), DECIMAL-exact sums, rounded 6.

    Scale shape: one pass — membership is a scalar predicate and
    truth + sampled sums fold in the SAME aggregate, so the audit
    costs one scan, not two."""
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast(
        "decimal(28,8)"
    )
    rate = None
    for s, p in rates.items():
        cond = F.col(strata_col) == s
        rate = F.when(cond, F.lit(float(p))) if rate is None else rate.when(
            cond, F.lit(float(p))
        )
    rate = rate.otherwise(F.lit(1.0))
    bkt = hash_bucket(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    )
    sampled = bkt < (rate * BUCKETS).cast("long")
    g = df.select(
        F.col(strata_col).alias("stratum"),
        rate.alias("__p"),
        v.alias("__v"),
        sampled.cast("int").alias("__in"),
    ).groupBy("stratum").agg(
        F.first("__p").alias("__p"),
        F.count("*").cast("long").alias("n"),
        F.sum("__in").cast("long").alias("n_sampled"),
        F.sum("__v").alias("__true"),
        F.sum(F.when(F.col("__in") == 1, F.col("__v"))).alias("__ssum"),
    )
    est = F.coalesce(F.col("__ssum").cast("double"), F.lit(0.0)) / F.col("__p")
    truth = F.col("__true").cast("double")
    return g.select(
        "stratum",
        F.round(F.col("__p"), 6).alias("rate"),
        "n",
        "n_sampled",
        F.round(truth, 6).alias("true_total"),
        F.round(est, 6).alias("ht_estimate"),
        F.round(F.abs(est - truth) / F.abs(truth), 6).alias("rel_err"),
    )


def weight_diagnostics(
    df: DataFrame,
    group_col: str,
    weight_col: str,
) -> DataFrame:
    """Importance/sampling-weight health check per stratum (the Kish
    effective-sample-size diagnostics every weighted estimator should
    ship with): ESS = (Σw)²/Σw², its ratio to n (1.0 = uniform
    weights, → 1/n = one weight dominates), the max single-weight
    share of the total, and the coefficient of variation of the
    weights. Degenerate strata (ESS ratio near 0, max share near 1)
    mean the weighted estimate is really a one-sample estimate —
    reweight or cap before trusting downstream numbers.

    All moment sums accumulate in DECIMAL(38,12) (associative — exact
    under any partitioning and bit-reproducible in the oracle); the
    final ratios are a handful of double ops. One map-side-combined
    aggregation per stratum, no join, no window."""
    w = F.col(weight_col).cast("double")
    base = df.select(F.col(group_col).alias("group"), w.alias("w"))
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    return base.groupBy("group").agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            dec(F.col("w")) * dec(F.col("w")) / dec(F.col("w") * F.col("w")), 6
        ).alias("ess"),
        F.round(
            dec(F.col("w")) * dec(F.col("w"))
            / dec(F.col("w") * F.col("w"))
            / F.count("*"),
            6,
        ).alias("ess_ratio"),
        F.round(F.max("w") / dec(F.col("w")), 6).alias("max_share"),
        F.round(
            F.sqrt(
                (dec(F.col("w") * F.col("w")) - dec(F.col("w")) * dec(F.col("w")) / F.count("*"))
                / F.count("*")
            )
            / (dec(F.col("w")) / F.count("*")),
            6,
        ).alias("weight_cv"),
    )


def dsir_weights(
    df: DataFrame,
    target_col: str = "lang",
    target_value: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
    k: int = 100,
) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    fit two hashed bag-of-ngrams models — target = rows where
    ``target_col == target_value``, raw = the whole corpus — and score
    every document by its log importance weight
    sum_g log(p_target(bucket(g)) / p_raw(bucket(g))) over its word
    unigrams + bigrams, Laplace-smoothed. High weights mark documents
    that look like the target domain; resampling by these weights is
    the published recipe for targeted data mixing.

    Returns the top ``k`` documents by log weight:
    (doc_id, grp, n_grams, log_weight), ranked on the ROUNDED weight
    with doc_id tiebreak so both engines agree at the boundary.

    Determinism: bucket = md5(gram) mod ``buckets`` (seed-free);
    lambda_b is ONE ln of a ratio of exact integer products, so both
    engines see the identical double; per-doc sums quantize each
    m*lambda term to DECIMAL(28,12) (|term| << 4.5e3, inside the probed
    double->decimal agreement bound) so the sum is associative and the
    final round-6 is HALF_UP on identical decimals.

    Scale shape: grams explode map-side into (doc, bucket) partial
    counts — the only corpus-scale shuffle, and the explode runs ONCE
    (raw and target bucket counts come from one conditional-sum
    aggregation over the shared doc-bucket exchange); the lambda table
    is ``buckets`` rows and broadcasts into the per-doc join; top-k is
    TakeOrderedAndProject, never a global sort."""
    from kairos_spark.operators.text import word_tokens

    words = df.select(
        F.col(id_col),
        F.col(target_col).alias("__grp"),
        word_tokens(F.col(text_col)).alias("__w"),
    )
    grams = words.select(
        F.col(id_col),
        "__grp",
        F.explode(
            F.concat(
                F.col("__w"),
                F.when(
                    F.size("__w") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__w") - 1),
                        lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, 2)),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("__g"),
    )
    bucketed = grams.select(
        F.col(id_col),
        "__grp",
        (
            F.conv(F.substring(F.md5(F.col("__g")), 1, 11), 16, 10).cast("long")
            % buckets
        ).alias("__b"),
    )
    # reuse pin (r14 opt): __b is never null (md5 of a non-null gram),
    # but the scored<-lam join pushes isnotnull(__b) into ONE side of
    # the plan; declaring it here puts the identical filter in every
    # branch so the gram-explode exchange stays byte-identical and
    # exchange reuse fires instead of re-running the explode.
    doc_bucket = (
        bucketed.where(F.col("__b").isNotNull())
        .groupBy(id_col, "__grp", "__b")
        .agg(F.count("*").alias("m"))
    )
    # ONE bucket-grain aggregation produces the raw and target counts
    # together (conditional sum) — r14 opt, guide §2.4: the previous
    # separate `tgt` aggregate (`doc_bucket.where(__grp == target)`)
    # had its filter pushed below the gram explode, so the corpus
    # tokenize+explode+md5 ran a SECOND time over the target slice
    # (~40% of the corpus) instead of reusing the doc_bucket exchange;
    # the conditional sum keeps one explode, one exchange, and drops
    # the raw<-tgt join outright. Values are identical: the same exact
    # integer counts feed the same lambda formula (absent target
    # buckets were coalesce(NULL, 0) before, sum(otherwise 0) = 0 now).
    bucket_tbl = doc_bucket.groupBy("__b").agg(
        F.sum("m").alias("__cr"),
        F.sum(
            F.when(F.col("__grp") == target_value, F.col("m")).otherwise(F.lit(0))
        ).alias("__ct"),
    )
    tots = bucket_tbl.agg(
        F.sum("__cr").alias("__nr"),
        F.coalesce(F.sum("__ct"), F.lit(0)).alias("__nt"),
    )
    lam_tbl = bucket_tbl.crossJoin(F.broadcast(tots)).select(
        "__b",
        # ONE ln of a ratio of exact integer products: identical
        # doubles on both engines (ln agreement established by the
        # entropy/PMI/LM queries). Quantize ONCE here at the bucket
        # grain: |lam| <= ~20, well inside the probed |x| < 4.5e3
        # double->decimal agreement bound — whereas quantizing the
        # m*lam PRODUCT per doc-bucket term would leave the bound
        # at the mercy of an unbounded per-doc gram count m
        # (ADVICE r8). The per-term product below is then exact
        # integer-times-decimal arithmetic on both engines.
        F.log(
            ((F.col("__ct") + F.lit(1.0)) * (F.col("__nr") + F.lit(buckets)))
            / ((F.col("__cr") + F.lit(1.0)) * (F.col("__nt") + F.lit(buckets)))
        )
        .cast("decimal(28,12)")
        .alias("__lam"),
    )
    # LEFT join (r14 opt): inner pushes isnotnull(__b) into the
    # doc_bucket side only, splitting the gram-explode subtrees and
    # re-running the explode; left pushes nothing into the preserved
    # side so exchange reuse fires. left == inner here: __b is never
    # null (md5 of a non-null gram) and every doc_bucket __b exists in
    # bucket_tbl by construction (it aggregates the same rows).
    scored = (
        doc_bucket.join(F.broadcast(lam_tbl), "__b", "left")
        .groupBy(id_col, "__grp")
        .agg(
            F.sum("m").cast("long").alias("n_grams"),
            # m < 1e9 by construction (docs are <= 64KB -> ~1e5 grams):
            # DECIMAL(9,0) x DECIMAL(28,12) -> DECIMAL(38,12), exact in
            # both engines, no scale reduction, associative sum
            F.round(
                F.sum(F.col("m").cast("decimal(9,0)") * F.col("__lam")), 6
            )
            .cast("double")
            .alias("log_weight"),
        )
    )
    return (
        scored.select(
            F.col(id_col), F.col("__grp").alias("grp"), "n_grams", "log_weight"
        )
        .orderBy(F.col("log_weight").desc(), F.col(id_col))
        .limit(k)
    )


def token_budget_alloc(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_epochs: int = 2,
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Per-source token-budget allocation with epoch caps — the mix
    table a pretraining run actually ships: give source s a budget
    proportional to sqrt(available_s) (temperature 0.5, the standard
    tail-flattening reweight) but never more than ``max_epochs`` passes
    over its data, redistributing what capped sources can't absorb.
    The total budget is half the corpus (B = total_tokens div 2), so
    the allocator always has head-room to redistribute.

    This is exact water-filling, solved in closed form: sort sources by
    cap_s / w_s ascending; sources cap in that order as the water level
    rises, and the level after k caps is
    lambda_k = (B - sum_cap(1..k)) / (W - sum_w(1..k)). The chosen k is
    the longest prefix whose members cap consistently; uncapped sources
    get floor(lambda_k * w_s) tokens.

    Returns one row per source (empty sources filtered — their weight
    is 0 and their epochs undefined): (grp, avail_tokens, cap_tokens,
    alloc_tokens, capped, epochs, budget_share).

    Determinism: avail/cap/B are exact integers; w = sqrt(avail) is
    IEEE-exact in both engines and is quantized to DECIMAL(27,12)
    BEFORE any prefix sum (sqrt(avail) << the 4.5e3 double->decimal
    agreement bound at oracle scale), so the running weight sums are
    exact decimals — associative, immune to DuckDB's segment-tree
    window summation order — and every derived double (water level,
    cap condition, floor(lambda*w)) is computed from bit-identical
    inputs on both engines; the two output ratios are exact integer
    ratios (round-6 half-up).

    Scale shape: everything after the per-source token aggregate runs
    on the |sources| grain (a window over tens of rows); the corpus
    only feeds one map-side-combined sum."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.size(
            F.regexp_extract_all(
                agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0)
            )
        )
        .cast("long")
        .alias("__t"),
    )
    per_src = (
        toks.groupBy("grp")
        .agg(F.sum("__t").alias("avail_tokens"))
        .where(F.col("avail_tokens") >= 1)
    )
    tot = per_src.agg(
        F.sum("avail_tokens").alias("__tot"),
        F.expr("sum(avail_tokens) div 2").alias("__B"),
    )
    base = per_src.crossJoin(F.broadcast(tot)).select(
        "grp",
        "avail_tokens",
        (F.col("avail_tokens") * max_epochs).alias("cap_tokens"),
        # quantize the IEEE-exact sqrt to DECIMAL(27,12) so every
        # prefix sum below is exact (DuckDB windows sum via a segment
        # tree — a DOUBLE running sum is not order-stable there)
        F.sqrt(F.col("avail_tokens").cast("double"))
        .cast("decimal(27,12)")
        .alias("__wq"),
        "__B",
    ).withColumn("__wd", F.col("__wq").cast("double"))
    wo = Window.orderBy(
        (F.col("cap_tokens") / F.col("__wd")).asc(), F.col("grp").asc()
    )
    zero_dec = F.lit(0).cast("decimal(27,12)")
    pre = base.select(
        "*",
        F.row_number().over(wo).alias("__rk"),
        F.sum("cap_tokens").over(wo.rowsBetween(Window.unboundedPreceding, -1)).alias("__cprev"),
        F.sum("__wq").over(wo.rowsBetween(Window.unboundedPreceding, -1)).alias("__wprev"),
        F.sum("cap_tokens").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("__cincl"),
        F.sum("__wq").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("__wincl"),
    ).select(
        "*",
        F.max("__wincl").over(wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("__W"),
    )
    pre = pre.withColumn("__cprev", F.coalesce(F.col("__cprev"), F.lit(0)))
    pre = pre.withColumn("__wprev", F.coalesce(F.col("__wprev"), zero_dec))
    # source i caps iff the water level with sources 1..i-1 capped
    # already reaches its threshold: (B - C_{i-1}) * w_i >= cap_i *
    # (W - W_{i-1}); cross-multiplied so there is no division at all.
    # Decimal differences are exact; the compare runs on doubles cast
    # from identical decimals on both engines.
    cond = (
        (F.col("__B") - F.col("__cprev")).cast("double") * F.col("__wd")
        >= F.col("cap_tokens").cast("double")
        * (F.col("__W") - F.col("__wprev")).cast("double")
    )
    flagged = pre.withColumn("__capfail", F.when(cond, None).otherwise(F.col("__rk")))
    krow = flagged.agg(
        F.coalesce(
            F.min("__capfail") - 1, F.max("__rk")
        ).alias("__k")
    )
    level = (
        flagged.crossJoin(F.broadcast(krow))
        .where(
            (F.col("__rk") == F.col("__k"))
            | ((F.col("__k") == 0) & (F.col("__rk") == 1))
        )
        .select(
            F.col("__k"),
            F.when(
                F.col("__k") == 0,
                F.col("__B").cast("double") / F.col("__W").cast("double"),
            )
            .when(
                F.col("__W") - F.col("__wincl") > 0,
                (F.col("__B") - F.col("__cincl")).cast("double")
                / (F.col("__W") - F.col("__wincl")).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("__lam"),
        )
    )
    out = pre.crossJoin(F.broadcast(level)).select(
        "grp",
        "avail_tokens",
        "cap_tokens",
        F.when(F.col("__rk") <= F.col("__k"), F.col("cap_tokens"))
        .otherwise(
            F.greatest(
                F.floor(F.col("__lam") * F.col("__wd")).cast("long"), F.lit(0)
            )
        )
        .alias("alloc_tokens"),
        F.when(F.col("__rk") <= F.col("__k"), 1).otherwise(0).cast("long").alias("capped"),
        "__B",
    )
    return out.select(
        "grp",
        "avail_tokens",
        "cap_tokens",
        "alloc_tokens",
        "capped",
        _round6_ratio(F.col("alloc_tokens"), F.col("avail_tokens")).alias("epochs"),
        _round6_ratio(F.col("alloc_tokens"), F.greatest(F.col("__B"), F.lit(1))).alias(
            "budget_share"
        ),
    )


def pipeline_roi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    quality_threshold: float = 0.5,
) -> DataFrame:
    """Fused pipeline ROI audit at SOURCE grain: the one table a
    corpus-pipeline owner reads to see what each cleaning stage costs
    per feed — raw volume, what the quality gate removes, what exact
    dedup then removes among the survivors, and the sqrt-temperature
    mix weight the SURVIVING token mass earns (so a big-but-dirty
    source's post-cleaning influence is visible next to its raw
    size). Composes the already-verified stages (quality_score gate →
    corpus-wide exact dedup keep-lowest-id → sqrt mix) into one plan,
    per VERDICT r9 #4(b).

    Exactness: stage counts are integers; removal fractions are exact
    integer ratios; the mix weight quantizes sqrt(tokens_kept) onto
    the 1e6 grid FIRST (IEEE sqrt and the ×1e6 product are
    correctly-rounded and engine-identical, floor is exact) so the
    weight is one exact integer ratio too — no float summation over
    sources anywhere.

    Scale shape: one map-only projection (digest + token count),
    quality_score's map-only stats joined on the id, ONE digest-grain
    aggregate for the dedup keep (short keys; text never shuffles),
    and a |sources|-row aggregate; the corpus sqrt total rides a
    1-row broadcast."""
    from kairos_spark.exact import _round6_ratio_dec
    from kairos_spark.operators.text import quality_score, token_count

    base = df.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("__d"),
        token_count(F.col(text_col)).cast("long").alias("__t"),
    )
    scored = quality_score(df, text_col, id_col).select(
        F.col(id_col), F.col("quality").alias("__q")
    )
    j = base.join(scored, id_col)
    passed = j.where(F.col("__q") >= F.lit(quality_threshold))
    keep_ids = passed.groupBy("__d").agg(F.min(F.col(id_col)).alias(id_col))
    kept = passed.join(keep_ids, [id_col, "__d"])
    raw = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum("__t").cast("long").alias("tokens_raw"),
    )
    qual = passed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_quality"),
        F.sum("__t").cast("long").alias("tokens_quality"),
    )
    fin = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("__t").cast("long").alias("tokens_kept"),
    )
    per = (
        raw.join(qual, "source", "left")
        .join(fin, "source", "left")
        .select(
            "source",
            "n_raw",
            "tokens_raw",
            F.coalesce(F.col("n_quality"), F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce(F.col("tokens_quality"), F.lit(0))
            .cast("long")
            .alias("tokens_quality"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("tokens_kept"), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )
    qs = F.floor(
        F.sqrt(F.col("tokens_kept").cast("double")) * F.lit(1_000_000.0)
    ).cast("long")
    with_qs = per.withColumn("__qs", qs)
    tot = with_qs.agg(F.sum("__qs").cast("long").alias("__qt"))
    return with_qs.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_raw",
        "tokens_raw",
        "n_quality",
        "tokens_quality",
        "n_kept",
        "tokens_kept",
        _round6_ratio(
            F.col("n_raw") - F.col("n_quality"), F.greatest(F.col("n_raw"), F.lit(1))
        ).alias("quality_rm_frac"),
        _round6_ratio(
            F.col("n_quality") - F.col("n_kept"),
            F.greatest(F.col("n_quality"), F.lit(1)),
        ).alias("dup_rm_frac"),
        _round6_ratio_dec(
            F.col("__qs"), F.greatest(F.col("__qt"), F.lit(1))
        ).alias("mix_weight"),
    )


def fim_split_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    fim_rate: float = 0.5,
    min_middle: int = 16,
) -> DataFrame:
    """Fill-in-the-middle data-prep audit (Bavarian et al. 2022, public
    arXiv:2207.14255): FIM training transforms a deterministic fraction
    of documents by cutting them at two uniform positions into
    (prefix, middle, suffix). This audit reports, per group, what that
    transform will actually produce on this corpus BEFORE the prep job
    burns a cluster-day: how many docs get the transform
    (``fim_docs``), the char-budget split between the three spans
    (Σprefix/ΣL etc. — the budget-weighted view, which is what the
    token accountant cares about, not a per-doc mean), and the rate of
    degenerate short middles (< ``min_middle`` codepoints) the loader
    will drop or pad.

    Determinism: the FIM coin and both cut points are md5-derived pure
    functions of the doc id (seed-free, corpus-growth-stable — the
    hash_split convention): cut = md5-slice % (L+1), so every engine
    and every rerun produces byte-identical splits. All outputs are
    exact integer ratios of BIGINT char sums (DECIMAL-routed — corpus
    char totals pass the product ceiling); all-empty or FIM-empty
    groups sentinel their ratios to 0.0 on both engines.

    Scale shape: a map-only projection (hash, two mods, three spans)
    followed by ONE |groups|-row combiner aggregate. No joins, no
    windows; text never shuffles."""
    from kairos_spark.exact import _round6_ratio_dec

    ln = F.length(F.col(text_col)).cast("long")
    idc = F.col(id_col).cast("string")
    sel = hash_bucket(F.concat(F.lit("fimsel:"), idc)) < int(round(fim_rate * BUCKETS))

    def cut(tag):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), idc)), 1, 11), 16, 10
        ).cast("long")
        return h % (ln + 1)

    u1, u2 = cut("fimcut1:"), cut("fimcut2:")
    c1, c2 = F.least(u1, u2), F.greatest(u1, u2)
    per = df.select(
        F.col(group_col).alias("grp"),
        ln.alias("__len"),
        sel.alias("__fim"),
        F.when(sel, c1).otherwise(F.lit(0)).alias("__pre"),
        F.when(sel, c2 - c1).otherwise(F.lit(0)).alias("__mid"),
        F.when(sel, ln - c2).otherwise(F.lit(0)).alias("__suf"),
    )
    agg = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__fim"), 1).otherwise(0)).cast("long").alias("fim_docs"),
        F.sum(F.when(F.col("__fim"), F.col("__len")).otherwise(0)).alias("__l"),
        F.sum("__pre").alias("__p"),
        F.sum("__mid").alias("__m"),
        F.sum("__suf").alias("__s"),
        F.sum(
            F.when(F.col("__fim") & (F.col("__mid") < min_middle), 1).otherwise(0)
        )
        .cast("long")
        .alias("__short"),
    )

    def frac(num):
        return F.when(
            F.col("__l") > 0, _round6_ratio_dec(num, F.col("__l"))
        ).otherwise(F.lit(0.0))

    return agg.select(
        "grp",
        "n_docs",
        "fim_docs",
        frac(F.col("__p")).alias("prefix_frac"),
        frac(F.col("__m")).alias("middle_frac"),
        frac(F.col("__s")).alias("suffix_frac"),
        F.when(
            F.col("fim_docs") > 0, _round6_ratio(F.col("__short"), F.col("fim_docs"))
        )
        .otherwise(F.lit(0.0))
        .alias("short_middle_rate"),
    )


def unimax_alloc(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    max_epochs: int = 3,
    budget_factor: int = 2,
) -> DataFrame:
    """UniMax language-budget allocation — the epoch-capped UNIFORM
    allocator of Chung et al. 2023 ("UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): split the token budget EQUALLY across languages,
    but never give a language more than ``max_epochs`` passes over
    its data; what capped languages can't absorb redistributes
    equally among the rest. The uniform-weight counterpart of
    ``token_budget_alloc`` (temperature 0.5 per source): temperature
    mixes still over-sample heads; UniMax's answer is a hard epoch
    cap with uniform fill. Budget B = ``budget_factor`` x total
    corpus tokens (an over-epoched run, so the caps actually bite).

    ALL-INTEGER water-filling, so the oracle mirrors it exactly with
    no float machinery at all: sort languages by capacity ascending
    (cap = max_epochs x avail; ties on name); language i is capped
    iff cap_i * (L - i + 1) <= B - prefix_cap_{i-1} (giving every
    remaining language cap_i would still fit — prefix-closed under
    the ascending sort, so the per-row test IS the waterline);
    uncapped languages split R = B - sum(capped caps) as
    base = R div k with the R mod k remainder going one token each
    to the first uncapped languages in sort order — alloc sums to
    EXACTLY B whenever the corpus can absorb it.

    Returns one row per non-empty language: (grp, avail_tokens,
    cap_tokens, alloc_tokens, capped, epochs) — capped a 0/1 int,
    epochs the exact alloc/avail integer ratio.

    Scale shape: the corpus feeds ONE map-side-combined token sum;
    everything after runs on the |languages| grain (windows over
    tens of rows, a 1-row broadcast for totals)."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.size(
            F.regexp_extract_all(
                agree_lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
            )
        )
        .cast("long")
        .alias("__t"),
    )
    per = (
        toks.groupBy("grp")
        .agg(F.sum("__t").alias("avail_tokens"))
        .where(F.col("avail_tokens") >= 1)
    )
    tot = per.agg(
        (F.sum("avail_tokens") * int(budget_factor)).alias("__B"),
        F.count("*").alias("__L"),
    )
    base = per.crossJoin(F.broadcast(tot)).select(
        "grp",
        "avail_tokens",
        (F.col("avail_tokens") * int(max_epochs)).alias("cap_tokens"),
        "__B",
        "__L",
    )
    wo = Window.orderBy(F.col("cap_tokens").asc(), F.col("grp").asc())
    pre = base.select(
        "*",
        F.row_number().over(wo).alias("__rk"),
        F.coalesce(
            F.sum("cap_tokens").over(
                wo.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__cprev"),
    ).withColumn(
        "__capped",
        F.when(
            F.col("cap_tokens") * (F.col("__L") - F.col("__rk") + 1)
            <= F.col("__B") - F.col("__cprev"),
            1,
        ).otherwise(0),
    )
    wall = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pre = pre.select(
        "*",
        F.sum("__capped").over(wall).alias("__t_capped"),
        F.sum(F.when(F.col("__capped") == 1, F.col("cap_tokens")).otherwise(0))
        .over(wall)
        .alias("__csum"),
    )
    k = F.col("__L") - F.col("__t_capped")
    # base share and remainder, both guarded for the all-capped case
    share = F.when(k > 0, F.expr("(__B - __csum) div (__L - __t_capped)")).otherwise(F.lit(0))
    rem = F.when(k > 0, (F.col("__B") - F.col("__csum")) % (F.col("__L") - F.col("__t_capped"))).otherwise(F.lit(0))
    urank = F.col("__rk") - F.col("__t_capped")
    alloc = F.when(F.col("__capped") == 1, F.col("cap_tokens")).otherwise(
        share + F.when(urank <= rem, 1).otherwise(0)
    )
    return pre.select(
        "grp",
        "avail_tokens",
        "cap_tokens",
        alloc.cast("long").alias("alloc_tokens"),
        F.col("__capped").cast("long").alias("capped"),
        _round6_ratio(alloc, F.col("avail_tokens")).alias("epochs"),
    )


def temperature_sweep(
    df: DataFrame,
    group_col: str = "lang",
    alpha_pcts: tuple = (0, 50, 100),
    budget: int = 1000,
) -> DataFrame:
    """Temperature-mix sampling plans at several temperatures at once —
    the alpha axis of :func:`temperature_mix` (the uniform / sqrt /
    natural triptych every multilingual data recipe tabulates before
    picking its alpha; XLM/mT5's rebalance knob swept instead of
    fixed). One row per (alpha, group): read DOWN a column to see how
    hard each temperature squeezes the head into the tail, and where
    feasible_n starts clipping (a tail language whose uniform target
    exceeds its supply is the signal alpha alone cannot fix).

    Alphas are restricted to {0, 50, 100} percent by default —
    pow(share, 0) == 1, sqrt, and identity are all IEEE-exact in both
    engines, so the sweep adds NO transcendental-parity surface
    (arbitrary alphas would ride pow()'s last-ulp class into the
    largest-remainder ranking).

    Scale shape: |alphas| reruns of the group-grain plan (one corpus
    aggregate is shared per run by Catalyst scan reuse; everything
    downstream runs on |groups| rows)."""
    frames = []
    for pct in alpha_pcts:
        pct = int(pct)
        if pct not in (0, 50, 100):
            raise ValueError(
                f"alpha_pct {pct} not in (0, 50, 100): other alphas ride "
                "pow()'s last-ulp class into the integer apportionment"
            )
        plan = temperature_mix(
            df, group_col=group_col, alpha=pct / 100.0, budget=budget
        )
        frames.append(
            plan.select(
                F.lit(pct).cast("long").alias("alpha_pct"), "*"
            )
        )
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out


def data_constrained_epochs(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    mults=(1, 4, 16),
    r_star_pct: int = 1539,
) -> DataFrame:
    """Repeated-epoch VALUE audit under the data-constrained scaling
    law (Muennighoff et al. 2023, NeurIPS — "Scaling Data-Constrained
    Language Models"): effective data of training a source for R
    repetitions beyond its unique tokens U is
    D' = U + U·R*·(1 − e^(−R/R*)) with the paper's fitted decay
    R* ≈ 15.39 — the 4-epochs-are-nearly-free / 40-epochs-are-worthless
    curve. For each budget multiple m, every group gets the UNIFORM
    slice B = (m·T) div n_groups of the corpus token total T (the
    UniMax-style allocation where small sources repeat hard), and the
    audit prices that repetition: epochs B/U, effective tokens D',
    and value_ratio D'/B — the fraction of the budget that still buys
    learning. Read it to see WHICH sources a uniform budget burns on
    dead epochs before committing a mix.

    Parity: U, T, B are exact integers; R/R* is ONE int64→double
    division ((B−U)·100 / (U·r_star_pct)); exp() is the documented
    1-ulp transcendental class (bare round-6 on both engines, the
    word_entropy convention — never bridged). Under-filled groups
    (B ≤ U) take the exact no-repetition branch D' = B. Groups whose
    normalized text is empty are dropped (U ≥ 1 on both engines);
    B = 0 sentinels value_ratio to 0.0.

    Output: (mult, group, u_tokens, budget, epochs, eff_tokens,
    value_ratio), one row per (mult, group).

    Scale shape: one map-only token count + one group-grain
    aggregate; the corpus total broadcasts; the |mults| fan-out runs
    at |groups| grain. One corpus pass regardless of sweep size."""
    norm = F.trim(normalize_ws(F.col(text_col)))
    toks = df.select(
        F.col(group_col).alias("group"), norm.alias("__n")
    ).where(F.col("__n") != "")
    per = toks.groupBy("group").agg(
        F.sum(F.size(F.split(F.col("__n"), " "))).cast("long").alias("u")
    ).where(F.col("u") >= 1)
    tot = per.agg(
        F.sum("u").cast("long").alias("__T"),
        F.count("*").cast("long").alias("__ng"),
    )
    base = per.crossJoin(F.broadcast(tot))
    rs = float(int(r_star_pct)) / 100.0
    per_mult = []
    for m in mults:
        b = F.expr(f"(__T * {int(m)}) div __ng").cast("long")
        x = ((F.col("__b") - F.col("u")) * F.lit(100)) / (
            F.col("u") * F.lit(int(r_star_pct))
        )
        eff = F.when(
            F.col("__b") > F.col("u"),
            F.col("u")
            + F.col("u") * F.lit(rs) * (F.lit(1.0) - F.exp(-x)),
        ).otherwise(F.col("__b").cast("double"))
        per_mult.append(
            base.withColumn("__b", b).select(
                F.lit(int(m)).cast("long").alias("mult"),
                "group",
                F.col("u").alias("u_tokens"),
                F.col("__b").alias("budget"),
                _round6_ratio(F.col("__b"), F.col("u")).alias("epochs"),
                F.round(eff, 6).alias("eff_tokens"),
                F.when(
                    F.col("__b") >= 1, F.round(eff / F.col("__b"), 6)
                )
                .otherwise(F.lit(0.0))
                .alias("value_ratio"),
            )
        )
    out = per_mult[0]
    for frame in per_mult[1:]:
        out = out.unionByName(frame)
    return out.orderBy("mult", "group")
