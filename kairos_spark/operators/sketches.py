"""Mergeable sketches: bounded-state distinct counting and quantiles.

At 100 TB an exact ``count_distinct`` shuffles every distinct value; a
sketch keeps O(k) state per group, merges with elementwise min, and
costs one map-side-combinable aggregate — the same state contract as
HyperLogLog but built from the repo's md5 double-hash family
(dedup.MINHASH_PRIME), so it is deterministic, seed-free, and exactly
reproducible by the DuckDB oracle INCLUDING the estimation error.

Estimator: with k independent permutations h_i, E[min h_i(S)] =
P/(n+1) for n distinct values uniform on [0, P). Summing the k integer
minima S_k = Σ min_i (exact in int64 — 64 values < 2^44 each) gives
n̂ = k·P/S_k − 1, a single double division so both engines compute the
identical rounded value. Relative error ~ 1/√k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from kairos_spark.operators.dedup import MINHASH_PRIME, _md5_long


def minhash_distinct_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group sketch as ``sketch: array<long>[k]`` (the k minima).
    Mergeable: union two sketch tables and take elementwise min
    (``zip_with(a, b, least)``) — the property that lets partial
    sketches roll up across partitions, days, or clusters."""
    v = F.col(value_col).cast("string")
    hashed = df.select(
        *group_cols,
        _md5_long(v).alias("__a"),
        _md5_long(v, 11).alias("__b"),
    )
    mins = hashed.groupBy(*group_cols).agg(
        *[
            F.min((F.col("__a") + i * F.col("__b")) % F.lit(MINHASH_PRIME)).alias(f"__m{i}")
            for i in range(k)
        ]
    )
    return mins.select(
        *group_cols, F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sketch")
    )


def sketch_estimate(sketch: Column, k: int = 64) -> Column:
    """Distinct-count estimate from a sketch column. The minima sum is
    exact integer math; the single division keeps the float behavior
    identical across engines."""
    s = F.aggregate(sketch, F.lit(0).cast("long"), lambda acc, m: acc + m)
    return F.round(F.lit(float(k) * MINHASH_PRIME) / s.cast("double") - 1.0, 6)


def distinct_estimate(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group estimated distinct count alongside the sketch."""
    sk = minhash_distinct_sketch(df, group_cols, value_col, k)
    return sk.select(
        *group_cols, sketch_estimate(F.col("sketch"), k).alias("est_distinct")
    )


def binned_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Per-group fixed-width bin counts over ``[lo, hi)`` (out-of-range
    values clamp into the edge bins) — the bounded state that quantile
    estimation reads from. Mergeable by summing counts per (group, bin),
    so partial histograms roll up across partitions, days, or clusters.

    Scale shape: map-side partial aggregation collapses each partition
    to ≤ ``bins`` rows per group before the shuffle — network volume is
    |groups| × bins regardless of row count. Pick ``lo``/``hi``/``bins``
    so the bin width is a dyadic rational (e.g. 2.5) and the bucketing
    arithmetic is bit-identical on every IEEE-754 engine.
    """
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("long")
    return df.groupBy(*group_cols, b.alias("bin")).agg(F.count("*").alias("c"))


def binned_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Per-group quantile estimates from a single-pass fixed-bin
    histogram — the scale path for percentiles when exact
    ``percentile_disc`` (a per-group sort) is too expensive and
    ``approx_percentile`` is not reproducible across engines. Error is
    bounded by one bin width; estimates interpolate linearly within the
    quantile's bin. Every step (bin counts, cumulative sums, ceil
    targets, interpolation) is deterministic integer/double arithmetic,
    so a SQL oracle reproduces the estimate bit-for-bit.

    Scale shape: after the bounded-size histogram aggregate, the rank
    windows partition BY GROUP over ≤ ``bins`` rows each — window state
    is capped by a constant, never by data size. Returns one row per
    (group, quantile): ``q``, ``est_value``, ``n``.
    """
    width = (hi - lo) / bins
    counts = binned_histogram(df, group_cols, value_col, lo, hi, bins)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = counts.select(
        *group_cols,
        "bin",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy(*group_cols)).alias("total"),
    )
    qd = cums.select(
        *group_cols,
        "bin",
        "c",
        "cum",
        "total",
        F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q"),
    )
    # rank of the q-th value (1-based); q=0 clamps to the first value
    target = F.greatest(F.ceil(F.col("q") * F.col("total")), F.lit(1))
    prev = F.col("cum") - F.col("c")
    est = F.lit(lo) + F.lit(width) * (F.col("bin") + (target - prev) / F.col("c"))
    return (
        qd.where((F.col("cum") >= target) & (prev < target))
        .select(
            *group_cols,
            "q",
            F.round(est, 6).alias("est_value"),
            F.col("total").cast("long").alias("n"),
        )
    )


def _cms_bucket(jcol: Column, tcol: Column, w: int) -> Column:
    """Row-j counter bucket for a term: md5("j:" || term) % w — the
    seed-free hash family shared by both engines."""
    return _md5_long(F.concat(jcol.cast("string"), F.lit(":"), tcol)) % w


def cms_counters(
    tokens: DataFrame,
    term_col: str = "term",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """The count-min counter table alone: (__j, __bkt, __c) with at most
    d*w rows. A PLAIN aggregate — map-side combinable, mergeable by
    summing counters elementwise, and therefore directly usable as a
    watermarked Structured Streaming groupBy (bounded state d*w,
    independent of stream length); the batch/stream parity is asserted
    in tests/test_streaming.py."""
    js = F.array(*[F.lit(j) for j in range(d)])
    return (
        tokens.select(F.col(term_col).alias("__t"), F.explode(js).alias("__j"))
        .groupBy(F.col("__j"), _cms_bucket(F.col("__j"), F.col("__t"), w).alias("__bkt"))
        .agg(F.count("*").alias("__c"))
    )


def cms_heavy_hitters(
    tokens: DataFrame,
    term_col: str = "term",
    top_k: int = 20,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Count-min-sketch frequency estimates for the exact top-``top_k``
    terms, next to their true counts: (term, exact_n, est_n, overcount).
    The CMS is the mergeable bounded-state structure a streaming /
    federated pipeline keeps instead of a full term-count table; this
    operator builds it AND quantifies its overcount against ground
    truth in one query, which is exactly how you size (d, w) for a
    corpus.

    Sketch: d=4 rows × w=1024 counters; row j hashes a term to bucket
    md5("j:" || term) % w (seed-free md5 family, engine-reproducible);
    estimate = min over rows of the bucket counter — ≥ the true count
    always, with collision overcount bounded by 2N/w at 1−(1/2)^d
    confidence (Cormode & Muthukrishnan 2005).

    Scale shape: counters aggregate with map-side combine to ≤ d×w
    rows TOTAL regardless of corpus size — that is the whole point of
    the sketch; the d×w table then broadcast-joins against the top-k
    probes (top_k × d rows). The only unbounded aggregate is the exact
    side used for ground truth, which a production pipeline omits."""
    js = F.array(*[F.lit(j) for j in range(d)])
    term = F.col(term_col)

    def bucket(jcol: Column, tcol: Column) -> Column:
        return _cms_bucket(jcol, tcol, w)

    exact = tokens.groupBy(term.alias("term")).agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("term")).limit(top_k)

    counters = cms_counters(tokens, term_col, d=d, w=w)
    probes = top.select(
        "term", "exact_n", F.explode(js).alias("__j")
    ).withColumn("__bkt", bucket(F.col("__j"), F.col("term")))
    est = (
        counters.join(F.broadcast(probes), ["__j", "__bkt"])
        .groupBy("term", "exact_n")
        .agg(F.min("__c").alias("est_n"))
    )
    return est.select(
        "term",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog registers (Flajolet et al. 2007), built
    from the repo's seed-free md5 hash so both engines materialize the
    IDENTICAL register table: register index = first p bits of
    md5(value) (p must be a multiple of 4 — whole hex nibbles), rho =
    position of the leading 1-bit in the next 40 bits (41 - bit-length,
    41 when the word is all zeros).

    Mergeable with elementwise max per (group, register) — the property
    that lets register tables roll up across partitions, days, or
    clusters with ≤ 2^p rows of state per group.

    Scale shape: map-side partial max collapses each partition to
    ≤ 2^p rows per group before the shuffle; network volume is
    |groups| × 2^p regardless of row count."""
    if p % 4 != 0:
        raise ValueError("p must be a multiple of 4 (whole hex nibbles)")
    nib = p // 4
    h = F.md5(F.col(value_col).cast("string"))
    reg = F.conv(F.substring(h, 1, nib), 16, 10).cast("long")
    v = F.conv(F.substring(h, nib + 1, 10), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(41)).otherwise(F.lit(41) - F.length(F.bin(v)))
    return (
        df.select(*group_cols, reg.alias("reg"), rho.alias("__rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("__rho").cast("long").alias("rho"))
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate from the register
    table: E = alpha_m · m² / Σ_j 2^(−M_j) with the small-range
    correction E ≤ 2.5m ∧ zero-registers V>0 → m·ln(m/V) (the original
    Flajolet/Fusy/Gandouet/Meunier estimator; alpha_m =
    0.7213/(1+1.079/m) for m ≥ 128).

    Determinism: every 2^(−M_j) term is a dyadic rational that is a
    multiple of 2^(−41) and the running sum stays under 2^p ≤ 2^8, so
    all partial sums fit a 53-bit mantissa EXACTLY — the float sum is
    associativity-proof and the DuckDB oracle reproduces the estimate
    (including its error vs the exact count) bit-for-bit.

    Returns (group..., n_registers, est_distinct)."""
    m = float(1 << p)
    regs = hll_registers(df, group_cols, value_col, p)
    agg = regs.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_registers"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__s"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    zeros = F.lit(m) - F.col("n_registers")
    raw = F.lit(alpha * m * m) / (F.col("__s") + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), F.lit(m) * F.log(F.lit(m) / zeros)
    ).otherwise(raw)
    return agg.select(
        *group_cols, "n_registers", F.round(est, 6).alias("est_distinct")
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Equi-join output-cardinality estimate from two count-min
    sketches, WITHOUT running the join: the CMS inner product
    min_j Σ_bkt cA_j·cB_j is the classic AMS/CMS join-size estimator
    (Cormode & Muthukrishnan 2005, §4.2) — always ≥ the true size
    |A ⋈ B| = Σ_k cA(k)·cB(k), overcount bounded by ‖A‖₁‖B‖₁/w per
    row. This is the pre-flight a planner runs before committing to a
    shuffle join at 100 TB: each side collapses to a d×w counter table
    (bounded state, mergeable, buildable incrementally as data lands).

    The exact size is computed alongside from per-key counts (the
    ground truth a production pre-flight would skip). All counters are
    exact int64 and the estimate is integer — the oracle reproduces it
    exactly. Returns one row: (est_size, exact_size, overcount).

    Scale shape: two bounded d×w aggregates + a d×w-row equality join
    for the inner product; the exact side joins per-key COUNT tables
    (aggregated), never raw rows."""
    ca = cms_counters(left.select(F.col(left_key).cast("string").alias("term")), d=d, w=w)
    cb = cms_counters(right.select(F.col(right_key).cast("string").alias("term")), d=d, w=w)
    inner = (
        ca.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.__j") == F.col("b.__j")) & (F.col("a.__bkt") == F.col("b.__bkt")),
        )
        .groupBy(F.col("a.__j"))
        .agg(F.sum(F.col("a.__c") * F.col("b.__c")).alias("__dot"))
        .agg(F.min("__dot").cast("long").alias("est_size"))
    )
    ka = left.groupBy(F.col(left_key).cast("string").alias("__k")).agg(
        F.count("*").alias("__ca")
    )
    kb = right.groupBy(F.col(right_key).cast("string").alias("__k")).agg(
        F.count("*").alias("__cb")
    )
    exact = ka.join(kb, "__k").agg(
        F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
        .cast("long")
        .alias("exact_size")
    )
    return (
        inner.crossJoin(F.broadcast(exact))
        .withColumn("overcount", (F.col("est_size") - F.col("exact_size")).cast("long"))
    )


def hll_union_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Pairwise overlap estimates from MERGED HyperLogLog sketches —
    the sketch-algebra pattern that matters at 100 TB: registers are
    built once per group (bounded ≤ 2^p state, map-side max), and any
    group-pair's union cardinality comes from an elementwise register
    max WITHOUT rescanning raw data; the intersection follows by
    inclusion-exclusion |A∩B| ≈ E(A) + E(B) − E(A∪B) (Flajolet et al.
    2007 — HLL has no native intersection, this is the standard and
    only mergeable route). The exact overlap is computed alongside as
    ground truth (the audit column a production rollup would skip).

    Determinism: identical md5 registers on both engines
    (``hll_registers``); every 2^(−rho) partial sum is exact in a
    53-bit mantissa (the ``hll_distinct`` argument), so the estimates
    — including the inclusion-exclusion residual — reproduce exactly;
    the ln() small-range branch is the documented bounded
    transcendental class. All four estimate outputs are rounded with
    the engine-identical sign·floor(|x|·10^6 + 0.5) quantizer (see
    q6 below) rather than bare round(,6); the quantizer's integer
    negation also normalizes the tiny-negative-residual overlap_est
    zero to +0.0 on both engines.

    Scale shape: register build is one map-side-max aggregate; unions
    pair |G|·2^p register rows (group grain, tiny); the exact overlap
    joins DISTINCT (group, value) pairs on the value key — the only
    fact-scale stage, and droppable in production."""
    m = float(1 << p)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = hll_registers(df, [group_col], value_col, p)

    def estimate():
        zeros = F.lit(m) - F.col("present")
        raw = F.lit(alpha * m * m) / (F.col("s") + zeros)
        return F.when(
            (raw <= F.lit(2.5 * m)) & (zeros > 0),
            F.lit(m) * F.log(F.lit(m) / zeros),
        ).otherwise(raw)

    g1 = regs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("present"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
    ).select(F.col(group_col).alias("__g"), estimate().alias("__est"))

    gps = regs.select(F.col(group_col).alias("__g")).distinct()
    prs = (
        gps.alias("a")
        .join(gps.alias("b"), F.col("a.__g") < F.col("b.__g"))
        .select(F.col("a.__g").alias("ga"), F.col("b.__g").alias("gb"))
    )
    m1 = prs.join(regs, F.col(group_col) == F.col("ga")).select(
        "ga", "gb", "reg", "rho"
    )
    m2 = prs.join(regs, F.col(group_col) == F.col("gb")).select(
        "ga", "gb", "reg", "rho"
    )
    uagg = (
        m1.unionByName(m2)
        .groupBy("ga", "gb", "reg")
        .agg(F.max("rho").alias("__r"))
        .groupBy("ga", "gb")
        .agg(
            F.count("*").cast("long").alias("present"),
            F.sum(F.pow(F.lit(2.0), -F.col("__r"))).alias("s"),
        )
        .select("ga", "gb", estimate().alias("__estu"))
    )
    dx = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    ).distinct()
    exact = (
        dx.alias("x")
        .join(
            dx.alias("y"),
            (F.col("x.__v") == F.col("y.__v"))
            & (F.col("x.__g") < F.col("y.__g")),
        )
        .groupBy(
            F.col("x.__g").alias("ga"), F.col("y.__g").alias("gb")
        )
        .agg(F.count("*").cast("long").alias("__ex"))
    )
    ea = g1.select(F.col("__g").alias("ga"), F.col("__est").alias("__ea"))
    eb = g1.select(F.col("__g").alias("gb"), F.col("__est").alias("__eb"))

    # Engine-identical round-6: sign·floor(|x|·10^6 + 0.5) on the SAME
    # IEEE double both engines computed (estimates are deterministic
    # doubles, see above). A bare round(double, 6) can split on a
    # 7-digit-midpoint shortest rendering (Spark shortest-string
    # HALF_UP vs DuckDB multiply-round, ADVICE r10); the quantizer is
    # floor on the identical double — exact while |x|·10^6 < 2^53,
    # i.e. |x| < ~9·10^9, far above any p=8 HLL estimate here. The
    # integer negation (−0 → 0) also makes a negative-residual zero
    # +0.0 on both engines. Oracle mirror: CASE-signed
    # CAST(floor(±x·1000000.0 + 0.5) AS BIGINT)/1000000.0.
    def q6(col):
        mag = F.floor(F.abs(col) * F.lit(1_000_000.0) + F.lit(0.5))
        return (
            F.when(col >= 0, mag).otherwise(-mag).cast("long")
            / F.lit(1_000_000.0)
        )

    return (
        uagg.join(ea, "ga")
        .join(eb, "gb")
        .join(exact, ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            q6(F.col("__ea")).alias("est_a"),
            q6(F.col("__eb")).alias("est_b"),
            q6(F.col("__estu")).alias("est_union"),
            q6(F.col("__ea") + F.col("__eb") - F.col("__estu")).alias(
                "overlap_est"
            ),
            F.coalesce(F.col("__ex"), F.lit(0)).cast("long").alias("exact_overlap"),
        )
    )


def bloom_fpr_audit(
    df: DataFrame,
    m: int = 4096,
    j: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter sizing audit for digest-grain dedup (Bloom 1970;
    the Broder-Mitzenmacher survey's standard m/k trade): before a
    pipeline commits to an ``m``-bit / ``j``-hash filter as its
    cross-shard "seen this content?" membership test, measure — on
    the corpus itself, not the asymptotic formula — how full the
    filter gets and how many REAL digests would already collide into
    a false positive. A digest is FP-PRONE when every one of its ``j``
    bit positions is also set by at least one OTHER digest: that is
    exactly the membership test a filter built from the rest of the
    corpus would wrongly pass, i.e. a novel document a Bloom-gated
    dedup would silently DROP. One row out: digest count, set bits,
    load fraction, FP-prone count and rate — all exact integer ratios.

    Hashing is the repo's seed-free md5 rule (``md5(digest ':' i)``
    hex-prefix mod m), reproducible in ANSI SQL. Self-collisions (two
    of a digest's hashes on one bit) are handled at the distinct
    (digest, pos) grain; "set by another" is then distinct-digest
    count ≥ 2 at the position.

    Scale shape: digests are one map-side projection + distinct;
    positions explode ``j``-wide at digest grain; the per-position
    distinct-count aggregate is bounded by m rows; the join-back is
    position-grain. Raw text never shuffles — only 32-char digests
    and integer positions."""
    dg = df.select(F.md5(F.col(text_col)).alias("__d")).distinct()
    pos = dg.select(
        "__d",
        F.explode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col("__d"), F.lit(f":{i}")
                                    )
                                ),
                                1,
                                11,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % m
                    )
                    for i in range(j)
                ]
            )
        ).alias("__p"),
    ).distinct()
    per_pos = pos.groupBy("__p").agg(
        F.count_distinct(F.col("__d")).cast("long").alias("__c")
    )
    back = pos.join(per_pos, "__p")
    per_dg = back.groupBy("__d").agg(
        F.min(F.when(F.col("__c") >= 2, 1).otherwise(0)).alias("__fp")
    )
    from kairos_spark.exact import _round6_ratio

    agg = per_dg.agg(
        F.count("*").cast("long").alias("n_digests"),
        F.sum("__fp").cast("long").alias("fp_prone"),
    )
    bits = per_pos.agg(F.count("*").cast("long").alias("n_set_bits"))
    return agg.crossJoin(F.broadcast(bits)).select(
        F.lit(m).cast("long").alias("m_bits"),
        F.lit(j).cast("long").alias("j_hashes"),
        "n_digests",
        "n_set_bits",
        _round6_ratio(F.col("n_set_bits"), F.lit(m)).alias("load_frac"),
        "fp_prone",
        _round6_ratio(F.col("fp_prone"), F.col("n_digests")).alias("fp_rate"),
    )
