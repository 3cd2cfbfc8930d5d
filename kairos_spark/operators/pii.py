"""PII detection / redaction operators for training-data pipelines.

Before text reaches a training corpus it gets a PII scrub pass — the
standard pattern families (emails, IPv4 addresses, phone-shaped and
SSN-shaped digit groups) detected and replaced with typed placeholder
tokens, with per-document counts kept for filtering and audit (the
approach used by public corpus pipelines such as BigCode/StarCoder's
PII pass — regex families for structured identifiers, ML only for
names, which is out of scope here).

Everything is a map-only JVM-side projection: `regexp_count` for the
per-type counts and chained `regexp_replace` for the redaction — one
pass over the text bytes, no shuffle, no UDF. The patterns are written
in the common Java-regex / RE2 subset (character classes, bounded
quantifiers, non-capturing groups, `\b`) so a DuckDB oracle reproduces
the exact counts and redacted strings.

Redaction order is fixed (email → ssn → phone → ipv4) and placeholder
tokens contain no digits or `@`, so earlier replacements can neither
create nor destroy later matches; the chained replace is therefore
confluent and equals the "scan once, replace all non-overlapping
matches" semantics a single-pass scrubber would produce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kairos_spark.exact import _round6_ratio

# Ordered: applied in this sequence during redaction. SSN before phone
# so 123-45-6789 is never half-eaten by a phone-shaped prefix match.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def pii_counts(text: Column) -> list[tuple[str, Column]]:
    """[(type, count-column)] of match counts per PII family."""
    return [(name, F.regexp_count(text, F.lit(pat))) for name, pat, _ in PII_PATTERNS]


def redact(text: Column) -> Column:
    """Replace every PII match with its typed placeholder token.

    Counts must be taken from the ORIGINAL column (see module note on
    ordering): an SSN also shaped like a phone number is redacted once,
    by the earlier family.
    """
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document PII audit: one count column per family, total count,
    and the redacted length delta (chars removed by scrubbing; negative
    when placeholders are longer than the match). Single narrow
    projection — Catalyst prunes every other column at the scan;
    ``keep`` carries grouping columns (e.g. source/lang) through so a
    downstream rollup needs no join back to the corpus."""
    t = F.col(text_col)
    counts = pii_counts(t)
    total = None
    cols = [F.col(id_col), *[F.col(c) for c in keep]]
    for name, c in counts:
        c = c.cast("long")
        cols.append(c.alias(f"n_{name}"))
        total = c if total is None else total + c
    cols.append(total.alias("n_pii"))
    cols.append((F.length(t) - F.length(redact(t))).cast("long").alias("chars_removed"))
    return df.select(*cols)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The scrub pass itself: ``text_col`` replaced by its redacted
    form, all other columns untouched."""
    return df.withColumn(text_col, redact(F.col(text_col)))


def pseudonymize(
    df: DataFrame, id_col: str, salt: str = "", bits: int = 64
) -> DataFrame:
    """Replace an identifier with a stable salted-md5 surrogate
    (``bits``-wide hex): joins on the id keep working across tables
    pseudonymized with the same salt, while the raw identifier never
    leaves the cluster — the standard de-identification step before
    events land in a training corpus. Map-only projection.

    NOT encryption: surrogates resist casual re-identification, not a
    brute-force of a small id space; rotate ``salt`` per release."""
    sur = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, bits // 4
    )
    return df.withColumn(id_col, sur)


def pseudonym_audit(
    df: DataFrame, id_col: str, salt: str = "", bits: int = 64
) -> DataFrame:
    """One-row collision audit for ``pseudonymize`` at a given width:
    distinct ids vs distinct surrogates and the collision count —
    the evidence that the surrogate space is wide enough for THIS id
    population. Two aggregates over (id, surrogate) pairs; nothing
    re-identifiable is returned."""
    sur = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, bits // 4
    )
    pairs = df.select(F.col(id_col).alias("__id"), sur.alias("__sur")).distinct()
    return pairs.agg(
        F.count("*").cast("long").alias("n_ids"),
        F.countDistinct("__sur").cast("long").alias("n_surrogates"),
        (F.count("*") - F.countDistinct("__sur")).cast("long").alias("n_collisions"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k_thresholds: list[int] = (2, 5, 10),
) -> DataFrame:
    """k-anonymity audit over a chosen quasi-identifier tuple: one row
    per equivalence class (the distinct quasi-identifier combination)
    with its size, plus corpus-level re-identification exposure — the
    minimum class size and, for each threshold k, the fraction of
    RECORDS sitting in classes smaller than k (the population share an
    attacker can narrow below k candidates). This is the release-gate
    check a privacy review runs before sharing a derived table; the
    reference engine has no privacy layer, so this extends the
    pipeline surface (Sweeney's k-anonymity definition, applied at
    table grain).

    Output: quasi_cols..., class_size, min_k, pct_lt_<k> per threshold
    (record-weighted, rounded 6).

    Scale shape: ONE hash aggregation on the quasi-identifier key
    (map-side combined), then the corpus scalars ride an empty-key
    window over class-grain rows (|classes| << |records|). Nothing
    row-level leaves the aggregation.
    """
    from pyspark.sql.window import Window

    classes = df.groupBy(*quasi_cols).agg(F.count("*").cast("long").alias("class_size"))
    w = Window.partitionBy()
    total = F.sum("class_size").over(w)
    out = classes.select(
        *quasi_cols,
        "class_size",
        F.min("class_size").over(w).alias("min_k"),
        *[
            _round6_ratio(
                F.sum(
                    F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0)
                ).over(w),
                total,
            ).alias(f"pct_lt_{k}")
            for k in k_thresholds
        ],
    )
    return out


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    salt: str = "dp",
) -> DataFrame:
    """Differentially-private-STYLE noisy group counts with
    DETERMINISTIC hash-derived Laplace noise: count per group plus
    Laplace(1/epsilon) noise where the uniform draw is
    md5(salt || group key) mapped to (-0.5, 0.5) — the standard
    inverse-CDF transform noise = -(1/eps)*sign(u)*ln(1-2|u|).

    The determinism is the point for THIS engine: the same release is
    reproducible across engines (the DuckDB oracle reproduces it
    bit-for-bit from the same md5), auditable, and idempotent across
    reruns — but it is NOT a DP mechanism in the formal sense (noise
    must be unpredictable to the adversary; a salt the adversary knows
    voids the guarantee). Production use swaps the md5 draw for a
    sealed-seed PRNG and keeps everything else; the operator documents
    the sensitivity-1 count query shape, the noise scale, and the
    post-processing (round, clamp at 0).

    Output: group_cols..., n (true, for audit), noisy_n (clamped >= 0,
    rounded 6). Scale shape: one map-side-combined count aggregation;
    the noise is a scalar expression over the group key — no second
    pass, no shuffle beyond the count itself.
    """
    counts = df.groupBy(*group_cols).agg(F.count("*").cast("long").alias("n"))
    key = F.concat_ws("\x1f", F.lit(salt), *[F.col(c).cast("string") for c in group_cols])
    # first 12 hex chars -> 48-bit integer; +0.5 centers the draw inside
    # the cell so u lands strictly inside (-0.5, 0.5) and ln(1-2|u|) is
    # always finite (the raw 0x000000000000 draw would hit ln(0)).
    u = (
        F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(2**48)) - F.lit(0.5)
    mag = -(1.0 / epsilon) * F.log(1.0 - 2.0 * F.abs(u))
    noise = F.when(u < 0, -mag).otherwise(mag)
    return counts.select(
        *group_cols,
        "n",
        F.round(F.greatest(F.col("n") + noise, F.lit(0.0)), 6).alias("noisy_n"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l_thresholds: list[int] = (2, 3),
) -> DataFrame:
    """l-diversity audit — k-anonymity's mandatory companion
    (Machanavajjhala et al. 2007): a class can satisfy k-anonymity and
    still leak the SENSITIVE attribute outright if every member shares
    one value (the homogeneity attack). One row per quasi-identifier
    equivalence class with its size and distinct-sensitive-value count
    l, plus corpus exposure scalars: the minimum l and, per threshold,
    the fraction of RECORDS in classes with l below it (the population
    whose sensitive value an attacker narrows to < l candidates).

    Output: quasi_cols..., class_size, l_distinct, min_l,
    pct_lt_<l> per threshold (record-weighted, exact integer ratios).

    Scale shape: ONE hash aggregation on the quasi-identifier key
    (count + distinct-sensitive per class, map-side partials), then
    corpus scalars ride an empty-key window over class-grain rows —
    the k_anonymity shape with one extra distinct aggregate."""
    from pyspark.sql.window import Window

    from kairos_spark.exact import _round6_ratio_dec

    classes = df.groupBy(*quasi_cols).agg(
        F.count("*").cast("long").alias("class_size"),
        F.countDistinct(sensitive_col).cast("long").alias("l_distinct"),
    )
    w = Window.partitionBy()
    total = F.sum("class_size").over(w)
    out = classes.select(
        *quasi_cols,
        "class_size",
        "l_distinct",
        F.min("l_distinct").over(w).alias("min_l"),
        *[
            _round6_ratio_dec(
                F.sum(
                    F.when(F.col("l_distinct") < int(l), F.col("class_size")).otherwise(0)
                ).over(w),
                total,
            ).alias(f"pct_lt_{int(l)}")
            for l in l_thresholds
        ],
    )
    return out


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    rank_col: str,
    m: int,
    thresholds: list[tuple[int, int]] = ((1, 5),),
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third privacy lens after k-anonymity and l-diversity: a class can
    be k-anonymous AND l-diverse while its sensitive DISTRIBUTION
    still screams (19 of 20 members in 'debt' vs 5% globally — the
    skewness attack). Per quasi-identifier class, the Earth Mover's
    Distance between the class's distribution over an ORDERED
    sensitive attribute and the corpus distribution, with unit ground
    distance: EMD = (1/(m−1))·Σ_{i<m} |CumP_i − CumQ_i|.

    ``rank_col`` must hold integer ranks 1..m (the caller maps the
    ordinal attribute; keeping the mapping outside makes the metric
    reusable). EMD is computed as ONE exact integer ratio:
    Σ|CumA_i·N − CumB_i·n_c| over (n_c·N·(m−1)) via the DECIMAL
    route; threshold exposure fractions compare the raw rationals by
    integer cross-multiplication (never the rounded double). Corpus
    scalars (max_t, record-weighted pct above each threshold) ride an
    empty-key window over class-grain rows — the l_diversity shape.

    Scale shape: one hash aggregation to (class, rank) counts, a tiny
    class×m grid fill (m is 3-10, classes are bounded by the quasi
    key's cardinality), two rank-ordered windows over class-grain
    rows, one class-grain rollup. Raw records shuffle once."""
    from pyspark.sql.window import Window

    from kairos_spark.exact import _round6_ratio_dec

    cnt = df.groupBy(*quasi_cols, F.col(rank_col).alias("__i")).agg(
        F.count("*").cast("long").alias("__c")
    )
    classes = cnt.groupBy(*quasi_cols).agg(
        F.sum("__c").cast("long").alias("class_size")
    )
    grid = classes.select(
        *quasi_cols,
        "class_size",
        F.explode(F.sequence(F.lit(1), F.lit(int(m)))).alias("__i"),
    )
    filled = grid.join(cnt, [*quasi_cols, "__i"], "left").withColumn(
        "__c", F.coalesce(F.col("__c"), F.lit(0)).cast("long")
    )
    wc = (
        Window.partitionBy(*quasi_cols)
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = filled.withColumn("__cuma", F.sum("__c").over(wc))
    gl = (
        filled.groupBy("__i")
        .agg(F.sum("__c").cast("long").alias("__g"))
        .withColumn(
            "__cumb",
            F.sum("__g").over(
                Window.orderBy("__i").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    tot = filled.groupBy().agg(F.sum("__c").cast("long").alias("__nn"))
    j = (
        filled.where(F.col("__i") < int(m))
        .join(F.broadcast(gl.select("__i", "__cumb")), "__i")
        .crossJoin(F.broadcast(tot))
    )
    dec = lambda c: c.cast("decimal(38,0)")
    per = j.groupBy(*quasi_cols, "class_size", "__nn").agg(
        F.sum(
            F.abs(
                dec(F.col("__cuma")) * dec(F.col("__nn"))
                - dec(F.col("__cumb")) * dec(F.col("class_size"))
            )
        ).alias("__num")
    )
    den = dec(F.col("class_size")) * dec(F.col("__nn")) * F.lit(int(m) - 1)
    w = Window.partitionBy()
    t_col = _round6_ratio_dec(F.col("__num"), den)
    out = per.withColumn("t_emd", t_col).withColumn(
        "max_t", F.max("t_emd").over(w)
    )
    for tn, td in thresholds:
        label = f"pct_gt_{tn}_{td}"
        above = F.when(
            dec(F.lit(int(td))) * F.col("__num") > dec(F.lit(int(tn))) * den,
            F.col("class_size"),
        ).otherwise(F.lit(0))
        out = out.withColumn(
            label,
            _round6_ratio_dec(
                F.sum(above).over(w), F.max("__nn").over(w)
            ),
        )
    return out.select(
        *quasi_cols,
        "class_size",
        "t_emd",
        "max_t",
        *[f"pct_gt_{tn}_{td}" for tn, td in thresholds],
    )
