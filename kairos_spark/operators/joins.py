"""Relational join strategies the reference lacks entirely
(SURVEY.md §2.4: "No hash/sort-merge/broadcast/nested-loop/theta/
semi/anti/as-of joins exist in the reference") but that any engine
serving its workloads at scale needs: banded range joins and the
semi/anti filters.

Scale shape (100 TB):
- A naive band predicate ``abs(l.ts - r.ts) <= band`` is a theta join
  — Spark can only plan it as BroadcastNestedLoopJoin (O(|L|·|R|)
  comparisons and a broadcast of a whole side). ``banded_range_join``
  rewrites it to an EQUALITY join on (key, time_bucket) by flooring
  both sides to ``band``-width buckets and exploding the right side
  into the 3 buckets its band window can overlap. Catalyst then plans
  a plain shuffled hash join: candidates per row = the right rows in
  ±1 bucket of the same key, i.e. output-proportional work instead of
  cross-product work. The residual exact predicate filters the
  candidates. This is the standard interval-bucketing strategy
  (Spark's own range-join hints on Databricks, Flink's interval join).
- The explode is ×3 on ONE side only; choose the smaller/sparser
  stream as ``right``.
- Semi/anti joins are built-in (``how='left_semi'/'left_anti'``) and
  included here as thin, named wrappers so the query pack exercises
  them explicitly; both shuffle only the join keys of the filter side
  and never widen rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kairos_spark.exact import _round6_ratio, _round6_ratio_dec


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    band_sec: float,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Inner-join rows of ``left`` to rows of ``right`` with equal
    ``key_cols`` and ``|left_ts - right_ts| <= band_sec``.

    Returns left columns + right columns (right's renamed with ``r_``
    prefix where they collide). Equality keys = (key, floor(ts/band)),
    right exploded to bucket-1..bucket+1, so every qualifying pair
    matches on exactly one bucket value — no dedup needed.
    """
    band = float(band_sec)
    lsec = F.col(left_ts).cast("double")
    rsec = F.col(right_ts).cast("double")

    lcols = set(left.columns)
    # rename targets must be free across BOTH sides (a right frame that
    # already contains r_<c> would otherwise produce duplicate output
    # columns) — suffix underscores until unique
    taken = lcols | set(right.columns)
    renames = {}
    for c in right.columns:
        if c in lcols and c not in key_cols:
            target = f"r_{c}"
            while target in taken:
                target += "_"
            renames[c] = target
            taken.add(target)
    r = right.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(renames.get(c, c)) for c in right.columns if c not in key_cols],
    )
    r_ts_name = renames.get(right_ts, right_ts)
    r = r.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(r_ts_name).cast("double") / band) - 1,
                F.floor(F.col(r_ts_name).cast("double") / band) + 1,
            )
        ),
    )
    l = left.withColumn("__bucket", F.floor(lsec / band))
    joined = l.join(r, on=key_cols + ["__bucket"], how="inner").drop("__bucket")
    return joined.where(
        F.abs(F.col(left_ts).cast("double") - F.col(r_ts_name).cast("double")) <= band
    )


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with at least one match in ``right`` (EXISTS).
    Output schema = left schema; right is only a filter."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (NOT EXISTS)."""
    return left.join(right, on=on, how="left_anti")


def bloom_filter_stats(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
    m_bits: int = 16384,
    k_hashes: int = 3,
) -> DataFrame:
    """Deterministic Bloom-filter pre-join: build an m-bit filter over
    ``build``'s keys, probe it with ``probe``'s keys, and report the
    quality of the filter against the exact semi-join in one summary
    row: (n_build, n_probe, n_candidates, n_true, n_false_pos,
    fp_rate).

    This is the runtime-filter pattern a distributed engine uses to
    cut a big-probe/small-build join's shuffle: the filter is ≤
    m_bits/32 long words (16 KiB here) — broadcastable no matter how
    large the build side's ROW count is — and every probe row that
    fails it never enters the exchange. Spark's own Bloom runtime
    filter (spark.sql.optimizer.runtime.bloomFilter.enabled) applies
    the same idea planner-side; this operator makes it explicit,
    deterministic (md5 bit positions, seed-free), and measurable
    (fp_rate tells you whether m/k were sized right for |build|).

    Scale shape: build keys distinct → k map-side bit positions →
    bit_or aggregate to ≤ m/32 words (bounded state, mergeable like
    any sketch). Probe keys distinct → k probes joined against the
    BROADCAST word table → bool_and over the k hits. The exact
    semi-join runs only to score the filter; a production pipeline
    replaces it with the real join over survivors."""
    words = m_bits // 32

    def probes_of(df: DataFrame, key: str) -> DataFrame:
        js = F.array(*[F.lit(j) for j in range(k_hashes)])
        pos = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("__j").cast("string"), F.lit(":"),
                                   F.col("__k").cast("string"))),
                    1,
                    11,
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )
        return (
            df.select(F.col(key).alias("__k")).distinct()
            .select("__k", F.explode(js).alias("__j"))
            .select("__k", "__j", pos.alias("__pos"))
            .select(
                "__k",
                (F.col("__pos") / 32).cast("long").alias("__w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 32 AS INT))").alias(
                    "__mask"
                ),
            )
        )

    bloom = (
        probes_of(build, build_key)
        .groupBy("__w")
        .agg(F.bit_or("__mask").alias("__bits"))
    )
    hits = (
        probes_of(probe, probe_key)
        .join(F.broadcast(bloom), "__w", "left")
        .select(
            "__k",
            ((F.coalesce(F.col("__bits"), F.lit(0)).bitwiseAND(F.col("__mask"))) != 0).alias(
                "__hit"
            ),
        )
        .groupBy("__k")
        .agg(F.bool_and("__hit").alias("__cand"))
    )
    truth = (
        probe.select(F.col(probe_key).alias("__k")).distinct()
        .join(
            build.select(F.col(build_key).alias("__k")).distinct(),
            "__k",
            "left_semi",
        )
        .select(F.count("*").alias("n_true"))
    )
    n_build = (
        build.select(build_key).distinct().select(F.count("*").alias("n_build"))
    )
    cand = hits.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.col("__cand").cast("long")).cast("long").alias("n_candidates"),
    )
    out = cand.crossJoin(F.broadcast(truth)).crossJoin(F.broadcast(n_build))
    return out.select(
        "n_build",
        "n_probe",
        "n_candidates",
        "n_true",
        (F.col("n_candidates") - F.col("n_true")).alias("n_false_pos"),
        _round6_ratio(
            F.col("n_candidates") - F.col("n_true"),
            F.greatest(F.col("n_probe") - F.col("n_true"), F.lit(1)),
        ).alias("fp_rate"),
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key_cols: list[str],
    n_salt: int = 8,
    salt_col: str | None = None,
) -> DataFrame:
    """Skew-mitigating equi-join: the large side gets a deterministic
    salt in [0, n_salt) (md5 of ``salt_col``, or of the key itself when
    no finer-grained column is given), the small side is exploded
    n_salt-fold so every (key, salt) pair exists, and the join runs on
    (key..., salt). Result rows are EXACTLY the plain join's — the salt
    only splits a hot key's probe rows across n_salt reducers instead
    of one.

    When to reach for it: a shuffled hash/sort-merge join where one key
    holds a double-digit percent of the large side and AQE's skew-join
    split (which splits by partition, not by key) still leaves a
    straggler. Cost: n_salt-fold duplication of the SMALL side only —
    pick the dimension side small enough that the duplicated side still
    broadcasts or shuffles cheaply.

    Salting on a per-row column (``salt_col``, e.g. the fact table's
    line number) spreads a hot key uniformly; salting on the key alone
    puts every copy of the hot key in the same bucket again — pass a
    high-cardinality column whenever one exists.
    """
    basis = F.col(salt_col) if salt_col else F.concat_ws("", *key_cols)
    salt = (
        F.conv(F.substring(F.md5(basis.cast("string")), 1, 11), 16, 10).cast("long")
        % n_salt
    )
    l = large.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salt)]))
    )
    return l.join(s, key_cols + ["__salt"]).drop("__salt")


def fuzzy_blocked_match(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_id: str,
    dirty_text: str,
    clean_id: str,
    clean_text: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy record linkage: candidate pairs come ONLY from
    equality on ``block_cols`` (the blocking key), then survive a
    Levenshtein filter, and each dirty record keeps its best match
    (smallest distance, smallest clean id on ties) plus its candidate
    count — n_candidates > 1 is the ambiguity signal a human review
    queue keys on.

    Scale shape: blocking turns the quadratic all-pairs comparison
    into a plain equality hash join — cost is sum over blocks of
    |dirty_b| x |clean_b| distance evaluations, so CHOOSE BLOCKS THAT
    BOUND THE SKEW (e.g. region + name-prefix, never a constant). The
    best-match reduction is a single min(struct) aggregate — no
    window, no second shuffle beyond the dirty id."""
    d = dirty.select(
        F.col(dirty_id).alias("__did"),
        F.col(dirty_text).alias("__dt"),
        *[F.col(c) for c in block_cols],
    )
    c = clean.select(
        F.col(clean_id).alias("__cid"),
        F.col(clean_text).alias("__ct"),
        *[F.col(col) for col in block_cols],
    )
    cand = (
        d.join(c, block_cols)
        .select(
            "__did",
            "__cid",
            F.levenshtein(F.col("__dt"), F.col("__ct")).alias("__dist"),
        )
        .where(F.col("__dist") <= max_dist)
    )
    best = F.min(F.struct(F.col("__dist"), F.col("__cid")))
    return cand.groupBy("__did").agg(
        F.count("*").alias("n_candidates"),
        best.alias("__best"),
    ).select(
        F.col("__did").alias("dirty_id"),
        "n_candidates",
        F.col("__best.__dist").alias("best_dist"),
        F.col("__best.__cid").alias("best_id"),
    )


def entity_clusters(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_id: str,
    dirty_text: str,
    clean_id: str,
    clean_text: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Entity resolution on top of blocked fuzzy matching: where
    ``fuzzy_blocked_match`` keeps each dirty record's single best
    match, this keeps EVERY candidate pair within ``max_dist`` as an
    edge and resolves the transitive closure — records a↔b and b↔c
    land in one entity even when a and c never matched directly (the
    chain-merge semantics record-linkage literature calls transitive
    linkage, and the only semantics that survive multi-source merges).

    Ids must share one key space; callers with colliding id ranges
    offset one side first (the harness query offsets dirty ids by 1e6,
    same convention as ``fuzzy_match``).

    Output: (node, entity_id) for every record that appears in at
    least one edge — entity_id = smallest reachable id, exactly the
    ``dedup.connected_components`` contract. Singletons (no match at
    all) need no row; readers treat absence as "its own entity".

    Scale shape: the edge list costs one blocked equality join (see
    fuzzy_blocked_match's skew note); the closure is HashMin label
    propagation with pointer-jumping — O(log diameter) rounds, one
    edge-vs-label join per round, only a convergence scalar reaches
    the driver. Linkage graphs are shallow (near-cliques per entity),
    so 2-4 rounds in practice.
    """
    from kairos_spark.operators.dedup import connected_components

    d = dirty.select(
        F.col(dirty_id).alias("__did"),
        F.col(dirty_text).alias("__dt"),
        *[F.col(c) for c in block_cols],
    )
    c = clean.select(
        F.col(clean_id).alias("__cid"),
        F.col(clean_text).alias("__ct"),
        *[F.col(col) for col in block_cols],
    )
    edges = (
        d.join(c, block_cols)
        .where(F.levenshtein(F.col("__dt"), F.col("__ct")) <= max_dist)
        .select(F.col("__did").alias("id_a"), F.col("__cid").alias("id_b"))
    )
    return connected_components(edges, "id_a", "id_b").select(
        "node", F.col("cluster_id").alias("entity_id")
    )


def cdc_upsert(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Change-data-capture merge: apply a changelog (insert/update/
    delete rows tagged by ``op_col``, ordered per key by ``seq_col``)
    to a base snapshot and return the new snapshot — the batch MERGE
    INTO every lakehouse table maintenance job runs, expressed as
    pure DataFrame algebra (latest-change-wins per key, then base
    rows survive only where no change touched the key).

    Semantics: for each key, the change with the highest ``seq_col``
    wins (ties broken by preferring the delete — a delete and upsert
    at the same sequence is an ill-formed feed; deterministic either
    way); winners with ``op != delete_op`` replace/insert their row,
    delete-winners remove the key; untouched base rows pass through.
    Payload columns are taken from the change row for upserts.

    Scale shape: ONE window (per-key max-seq pick) over the CHANGELOG
    only — day-sized, not table-sized — then one left-anti hash join
    (base vs touched keys) and a union. The base table never sorts
    and never shuffles beyond the anti-join on its key; this is why
    CDC merge stays day-cost on a 100-TB table.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(),
        F.when(F.col(op_col) == delete_op, 0).otherwise(1),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    touched = latest.select(*key_cols)
    survivors = base.join(touched, key_cols, "left_anti")
    upserts = latest.where(F.col(op_col) != delete_op).drop(op_col).drop(seq_col)
    return survivors.unionByName(upserts)


def reconciliation_audit(
    header: DataFrame,
    lines: DataFrame,
    key_col: str,
    header_amount: str,
    line_amount_expr,
    group_col: str | None = None,
    tolerance: float = 0.01,
) -> DataFrame:
    """Header-vs-detail financial reconciliation: per header key, the
    DECIMAL-exact sum of a line-level amount expression compared to
    the header's recorded amount; rolled up (optionally per group) to
    match counts and error magnitudes — the daily close-of-books
    audit ("do the order totals equal their line items?"), and the
    join-integrity cousin of ``fk_conformance``.

    Output: (group?, n_headers, n_matched, n_mismatched, pct_matched,
    mean_abs_diff, max_abs_diff), rounded 6; a header with no lines
    counts as mismatched with its full amount as the diff.

    Scale shape: the line expression pre-aggregates per key (map-side
    combine) BEFORE joining the header — the join moves |headers|
    rows, never |lines|; the rollup is group-grain.
    """
    per_key = lines.groupBy(F.col(key_col)).agg(
        F.sum(line_amount_expr.cast("decimal(28,8)")).alias("__lsum")
    )
    j = header.join(per_key, key_col, "left")
    diff = F.abs(
        F.col(header_amount).cast("decimal(28,8)")
        - F.coalesce(F.col("__lsum"), F.lit(0).cast("decimal(28,8)"))
    )
    matched = diff <= tolerance
    keys = [F.col(group_col)] if group_col else []
    g = j.select(
        *keys, diff.alias("__d"), matched.cast("long").alias("__m")
    ).groupBy(*([group_col] if group_col else [])).agg(
        F.count("*").cast("long").alias("n_headers"),
        F.sum("__m").cast("long").alias("n_matched"),
        (F.count("*") - F.sum("__m")).cast("long").alias("n_mismatched"),
        _round6_ratio(F.sum("__m"), F.count("*")).alias("pct_matched"),
        # __d is an exact 8dp DECIMAL: mean = sum(__d·10^8)/(10^8·n) is
        # ONE exact integer ratio (DECIMAL route — monetary sums pass
        # the BIGINT·2e6 ceiling); max rounds the DECIMAL itself
        # (HALF_UP, engine-exact) instead of a double that can sit on
        # a 7th-decimal midpoint
        _round6_ratio_dec(
            (F.sum("__d") * F.lit(100_000_000)).cast("decimal(38,0)"),
            F.lit(100_000_000).cast("long") * F.count("*"),
        ).alias("mean_abs_diff"),
        F.round(F.max("__d"), 6).cast("double").alias("max_abs_diff"),
    )
    return g


def incremental_join_audit(
    left_base: DataFrame,
    left_delta: DataFrame,
    right_base: DataFrame,
    right_delta: DataFrame,
    key: str,
    value_col: str,
) -> DataFrame:
    """Incremental view maintenance audit for JOIN views: the delta
    rule Δ(L ⋈ R) = ΔL⋈R₀ ∪ L₀⋈ΔR ∪ ΔL⋈ΔR means a materialized join
    can absorb new data without re-joining history. This operator
    computes all four components plus the full recompute and reports
    per-component row counts and DECIMAL value checksums — the
    invariant full = base + Σ deltas (verified by the caller/oracle)
    is the proof the incremental pipeline can be trusted. Returns one
    row per component: (component, n_rows, value_sum) for
    'base', 'delta_l', 'delta_r', 'delta_both', 'full'.

    Scale shape: five equality joins on the key; the three delta
    components touch only delta-sized inputs on at least one side —
    exactly the economy IVM exists for. No window, no cartesian."""
    def piece(name: str, l: DataFrame, r: DataFrame) -> DataFrame:
        return (
            l.join(r, key)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                # round the exact DECIMAL, THEN cast: at grand-total
                # magnitude (1e9+) round-6 exceeds double precision and
                # engines disagree on the post-cast rounding; rounding
                # the decimal keeps both engines on one exact value
                F.coalesce(
                    F.round(
                        F.sum(F.col(value_col).cast("decimal(38,12)")), 6
                    ).cast("double"),
                    F.lit(0.0),
                ).alias("value_sum"),
            )
            .select(F.lit(name).alias("component"), "n_rows", "value_sum")
        )

    full_l = left_base.union(left_delta)
    full_r = right_base.union(right_delta)
    out = piece("base", left_base, right_base)
    for name, l, r in (
        ("delta_l", left_delta, right_base),
        ("delta_r", left_base, right_delta),
        ("delta_both", left_delta, right_delta),
        ("full", full_l, full_r),
    ):
        out = out.union(piece(name, l, r))
    return out


def count_histogram_left(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    count_col: str,
    right_filter=None,
) -> DataFrame:
    """Count-of-counts over a LEFT join — the TPC-H Q13 plan shape
    (customer distribution by order count, ZEROS INCLUDED): left rows
    with no qualifying right rows must appear in the 0-bucket, which a
    plain inner-join+groupBy silently drops. That zero class is the
    payload at 100 TB (e.g. "how many users/customers/docs have NO
    matching activity") and is exactly what dashboards get wrong.

    Exact integer counts end to end. Scale shape: filter pushes into
    the right scan BEFORE the join; the join is a shuffle hash/merge
    on the key (both sides fact-scale — broadcast would be wrong
    here); count(right_key) ignores the NULLs a left join makes, so no
    post-join filter re-scan. Two chained aggregates, map-side
    combined; output is |distinct counts| rows."""
    r = right if right_filter is None else right.where(right_filter)
    per = (
        left.select(F.col(left_key).alias("__k"))
        .join(r.select(F.col(right_key).alias("__k"), F.col(right_key).alias("__rk")), "__k", "left")
        .groupBy("__k")
        .agg(F.count("__rk").cast("long").alias(count_col))
    )
    return per.groupBy(count_col).agg(
        F.count("*").cast("long").alias("custdist")
    )
