"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB):
- exact: hash-groupBy on a digest column — one shuffle on a short key,
  AQE handles skew (identical boilerplate docs are the classic skewed
  key; the digest spreads them across partitions only after the
  group-limit, so ``exact_dedup`` keeps min-id per digest rather than
  collecting groups).
- near-dup: the shuffle-safe path is MinHash signatures (map-only) →
  LSH banding (explode B bands) → groupBy band-bucket → pairs only
  within buckets. The all-pairs shingle join (``ngram_jaccard_pairs``)
  is provided as the exact-verification oracle and for small candidate
  sets — NOT the 100 TB path.
- All hashing is md5-derived (deterministic, seed-free, reproducible
  across engines — the DuckDB oracle computes the identical values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kairos_spark.exact import _round6_ratio, _round6_ratio_dec
from kairos_spark.operators.text import (
    TOKEN_REGEX,
    agree_lower,
    normalize_ws,
    shingles_of_norm,
    word_tokens,
)

# Modulus for the double-hash MinHash family. 44-bit hash halves keep
# a + i*b < 2^51 for i ≤ 64 — no signed-64 overflow in either Spark or
# the DuckDB oracle's BIGINT math.
MINHASH_PRIME = 17_592_186_044_399  # largest prime < 2^44


def _md5_long(col: Column, skip: int = 0) -> Column:
    """44-bit slice of md5 as a non-negative long (11 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1 + skip, 11), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Digest → (n_docs, min doc id) for digests appearing more than
    once. One hash-shuffle on the 32-byte digest."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text digest. Implemented as
    min-id-per-digest + semi join back (no row-wide shuffle of the
    payload; only (digest, id) pairs move)."""
    keep = (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def exact_dedup_incremental(
    new_df: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Incremental-crawl dedup: from a new batch, keep only documents
    whose digest is not in the already-ingested ``seen_digests`` set AND
    is not duplicated within the batch (min-id wins) — the standard
    snapshot-over-snapshot ingestion filter.

    Scale shape: the seen set is digests only (32 bytes/doc, no text),
    so the anti join shuffles short keys; within-batch dedup reuses the
    min-id-per-digest + semi-join-back shape of exact_dedup, so the
    document payload itself never shuffles."""
    withd = new_df.withColumn("__digest", F.md5(F.col(text_col)))
    fresh = withd.join(
        seen_digests.select(F.col(digest_col).alias("__digest")),
        "__digest",
        "left_anti",
    )
    keep = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col)).select(id_col)
    return fresh.join(keep, id_col, "left_semi").drop("__digest")


def doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct pairs — the exploded set representation.

    Two-stage projection (normalize, then shingle) so the whitespace
    regex runs once per document, not once per shingle inside the
    interpreted HOF lambda (see text.shingles_of_norm). array_distinct
    already makes (id, shingle) pairs unique — no extra shuffle."""
    normed = df.select(F.col(id_col), normalize_ws(F.col(text_col)).alias("__norm"))
    return normed.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_of_norm(F.col("__norm"), n))).alias("shingle"),
    )


def _shingle_overlap(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Per doc pair (id_a < id_b) sharing any n-gram: the ``shared``
    shingle count and both docs' shingle-set sizes ``sz_a``, ``sz_b``
    (one shingle self-join)."""
    sh = doc_shingles(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs via shingle self-join.

    |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|. Correctness oracle and
    small-set verifier; at 100 TB use minhash_lsh_pairs to generate
    candidates and this only on the candidate pairs."""
    return (
        _shingle_overlap(df, text_col, id_col, n)
        .withColumn(
            "jaccard",
            _round6_ratio(
                F.col("shared"), F.col("sz_a") + F.col("sz_b") - F.col("shared")
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per document, as ``sig: array<long>[num_hashes]``.

    Hash family h_i(s) = (a + i·b) mod P with (a, b) two md5 slices of
    the shingle — the standard double-hashing construction;
    deterministic and engine-portable.

    Shape: explode shingles → project (a, b) → groupBy doc with
    ``num_hashes`` min() aggregates → re-pack as array. The explode
    route keeps the md5/conv math inside whole-stage codegen and the
    partial (map-side) aggregation collapses each partition to one row
    per doc before the shuffle — ~20× faster than evaluating the same
    math through interpreted higher-order array lambdas."""
    exploded = doc_shingles(df, text_col, id_col, n).select(
        F.col(id_col), _md5_long(F.col("shingle")).alias("__a"), _md5_long(F.col("shingle"), 11).alias("__b")
    )
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min((F.col("__a") + i * F.col("__b")) % F.lit(MINHASH_PRIME)).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding — the 100 TB path.

    Signature (map-only) → explode ``bands`` band-digests → groupBy
    band bucket (shuffle on short digests) → within-bucket candidate
    pairs → estimated Jaccard = fraction of agreeing signature
    components ≥ threshold. With b=16, r=4 the S-curve midpoint is
    (1/16)^(1/4) ≈ 0.5.

    Two measured plan fixes (r13 optimization round, guide §2):
    - the PROBE side of the bucket self-join round-robin-repartitions
      to the core count: the banded frame's shuffle input is tiny
      (docs × bands short rows), so AQE coalesces it to ~1 partition
      and the join's ~500× within-bucket fan-out would evaluate in ONE
      task (measured: the whole-join stage ran (0+1)/1 and the entry
      took 4.0 s; spread, 2.0 s). Round-robin, not hash-by-bucket — a
      hot bucket must SPREAD, not co-locate (the simhash_near_pairs
      precedent).
    - first-matching-band attribution instead of dropDuplicates: a
      pair found at band j counts ONLY if no earlier band also
      matches — an unrolled OR over (bands-1) static slice-equality
      tests on the sig arrays both sides already carry — so every
      pair survives exactly once with NO candidate-pair dedup shuffle
      (the simhash_radius_sweep precedent; at scale the removed
      exchange is the whole candidate set)."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    banded = sig.select(
        F.col(id_col),
        F.col("sig"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat(
                        b.cast("string"),
                        F.lit(":"),
                        F.array_join(F.slice(F.col("sig"), b * rows + 1, rows), ","),
                    )
                ),
            )
        ).alias("__band", "bucket"),
    )
    par = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    a = banded.repartition(par).alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
            F.col("a.__band").alias("__band"),
        )
    )
    dup_earlier = F.lit(False)
    for jp in range(bands - 1):
        band_match = (
            F.slice(F.col("sig_a"), jp * rows + 1, rows)
            == F.slice(F.col("sig_b"), jp * rows + 1, rows)
        )
        dup_earlier = dup_earlier | ((F.lit(jp) < F.col("__band")) & band_match)
    est = _round6_ratio(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)),
        F.lit(int(num_hashes)),
    )
    return (
        cands.where(~dup_earlier)
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """SimHash fingerprint (60-bit, from the md5-long of each token):
    bit j of the fingerprint is the sign of Σ_tokens (±1 per token's
    hash bit j). Hamming-close fingerprints ≈ similar token bags.
    Map-only per document."""
    tokens = F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(TOKEN_REGEX), F.lit(0))
    tok = df.select(F.col(id_col), F.explode(tokens).alias("__tok")).withColumn(
        "__h", _md5_long(F.col("__tok"))
    )
    # one pass: per-doc signed sum of each hash bit (explode → groupBy
    # with `bits` trivial aggregates; partial aggregation keeps the
    # shuffle at one row per doc)
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{j}")
            for j in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"__b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return bit_sums.select(F.col(id_col), fp.alias("simhash"))


def _simhash_segments(blocks: int, seg_bits: int) -> Column:
    """``simhash`` cut into `blocks` slices of `seg_bits` bits, each as
    one LONG key with its block index in the high bits, so equal slices
    of different blocks never share a key."""
    return F.array(
        *[
            (
                F.lit(b).cast("long") * F.lit(1 << seg_bits).cast("long")
                + F.shiftright(F.col("simhash"), b * seg_bits).bitwiseAND(
                    F.lit((1 << seg_bits) - 1)
                )
            )
            for b in range(blocks)
        ]
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    blocks: int = 4,
) -> DataFrame:
    """Near-pairs by SimHash Hamming distance using the block trick:
    split the fingerprint into ``blocks`` segments; any pair within
    ``max_hamming < blocks`` must agree on ≥1 segment → groupBy segment
    value generates candidates without an all-pairs join.

    Fingerprints are checkpointed before the self-join (the
    60-aggregate simhash pass would otherwise recompute on BOTH join
    sides) and the probe side round-robin-repartitions so a hot
    segment bucket's join fan-out spreads across tasks instead of
    evaluating in one (both measured on simhash_radius_sweep, which
    shares this stage shape — r13). r13 optimization round, measured
    on the same shared stage shape (3.3 s → 1.9 s at sf0.1):
    - segment keys are LONGS (block index in the high bits) instead of
      "b:val" strings — narrower shuffle rows, long equality instead
      of string compare on the ~10⁷-row fan-out, and bucket equality
      becomes EXACTLY slice equality (no digest step at all);
    - the build side is explicitly broadcast when the banded frame is
      bounded (≤ 5M rows — docs × blocks longs): the checkpointed
      frame carries no stats, so the planner otherwise alternates
      between broadcast (fast) and sort-merge — and a sort-merge here
      concentrates the degenerate hot segment (every doc agrees on
      the all-zero high-bit segments when the token hash is narrower
      than ``bits``) into ONE task (measured 10-30 s runs). Broadcast
      keeps the probe's round-robin spread, so the hot bucket's
      fan-out distributes by probe row. Above the gate the shuffle
      path stands (at that scale the caller shards by segment anyway);
    - first-matching-segment attribution instead of dropDuplicates
      (the simhash_radius_sweep/minhash_lsh_pairs pattern): with raw
      slice keys the earlier-segment test is exact by construction,
      and the candidate-pair dedup shuffle disappears."""
    seg_bits = bits // blocks
    sh = simhash(df, text_col, id_col, bits).localCheckpoint(eager=True)
    segments = _simhash_segments(blocks, seg_bits)
    banded = sh.select(
        F.col(id_col), "simhash", F.posexplode(segments).alias("__j", "seg")
    )
    par = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    a = banded.repartition(par).alias("a")
    build = banded.alias("b")
    # Broadcast gate (ADVICE r13): row-counted, not byte-estimated — at
    # the 5M ceiling the banded build side is ~150-250 MB ((2 longs +
    # id) x rows), inside this bench's 16g driver but close to the
    # default spark.driver.maxResultSize (1g) and too big for small
    # executors; deployments below 16g should lower the ceiling or
    # raise maxResultSize. Above the gate the shuffled-hash/sort-merge
    # fallback keeps the path safe at any scale.
    if sh.count() * blocks <= 5_000_000:
        build = F.broadcast(build)
    cands = (
        a.join(build, (F.col("a.seg") == F.col("b.seg")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
            F.col("a.__j").alias("__j"),
        )
    )
    xor_h = F.col("h_a").bitwiseXOR(F.col("h_b"))
    dup_earlier = F.lit(False)
    for jp in range(blocks - 1):
        seg_match = (
            F.shiftright(xor_h, jp * seg_bits).bitwiseAND(F.lit((1 << seg_bits) - 1))
            == 0
        )
        dup_earlier = dup_earlier | ((F.lit(jp) < F.col("__j")) & seg_match)
    return (
        cands.where(~dup_earlier)
        .withColumn("hamming", F.bit_count(xor_h))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    shortcut: bool = True,
    local_finish_max_edges: int = 2_000_000,
) -> DataFrame:
    """Duplicate-cluster labeling: connected components over a pair
    graph, returning ``(node, cluster_id)`` with ``cluster_id`` = the
    smallest node id reachable from ``node``. Nodes are the ids that
    appear in at least one pair (singletons need no label).

    HashMin label propagation: every node starts labeled with itself;
    each round every node takes the min label over itself and its
    neighbors; converged when no label changes. With ``shortcut``
    (default), each round also pointer-jumps — l(v) :=
    min(l(v), l(l(v))) via one self-join of the label table — which
    halves the remaining label-tree height per round, so convergence is
    O(log diameter) instead of O(diameter) (the path-doubling trick from
    the MapReduce-CC literature; a 300-node chain converges in ~9 rounds
    instead of 300). Dup clusters are shallow anyway (cliques + short
    chains, 2-4 rounds); shortcutting is what makes adversarially deep
    graphs safe at the same max_iter.

    Scale shape (100 TB): each round is ONE shuffle join of the edge
    list against the label table on node id, then a min-aggregate —
    the standard Pregel-style CC on DataFrames. ``localCheckpoint``
    truncates the growing lineage each round so the plan stays flat;
    convergence is checked with a count action per round (the driver
    sees one scalar, never the data). Skewed hub nodes are handled by
    AQE; for adversarial graphs swap in large-star/small-star
    (alternating rounds), which this loop structure accommodates.

    Small-graph finish: when the DEDUPLICATED edge list is at most
    ``local_finish_max_edges`` (counted with one scalar job — at two
    longs per edge the default 2M cap is ~32 MB of driver memory,
    explicitly size-gated), the closure is solved with a driver-side
    union-find instead of the round loop. This is the standard endgame
    in the MapReduce-CC literature (iterate/contract until the graph
    fits one machine, finish locally): the distributed loop's cost at
    small sizes is pure per-round job overhead, not data. The loop
    path remains the behavior for anything above the gate, and
    ``local_finish_max_edges=0`` forces it (used by tests to assert
    both paths agree). The label contract is identical either way.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.distinct().localCheckpoint(eager=True)

    if local_finish_max_edges and edges.count() <= local_finish_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in edges.toLocalIterator():
            a, b = row[0], row[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out_rows = [(n, find(n)) for n in parent]
        spark = pairs.sparkSession
        node_type = edges.schema["src"].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", node_type, False),
                StructField("cluster_id", node_type, False),
            ]
        )
        return spark.createDataFrame(out_rows, schema)

    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            (F.col("nmin") < F.col("label")).alias("__changed"),
        )
        if shortcut:
            # pointer jump: follow each label to ITS label and take the
            # min — one join of the (node, label) table against itself
            hop = new_labels.select(
                F.col("node").alias("__lnode"), F.col("label").alias("__ll")
            )
            new_labels = new_labels.join(
                hop, new_labels.label == hop.__lnode, "left"
            ).select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("__ll"), F.col("label"))).alias("label"),
                (
                    F.col("__changed")
                    | (F.col("__ll") < F.col("label"))
                ).alias("__changed"),
            )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # unconverged labels are WRONG (a component with diameter >
        # max_iter would be split into multiple cluster ids) — fail loudly
        # rather than return silently-incorrect clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "increase max_iter (rounds needed = graph diameter)"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def normalized_text(text: Column) -> Column:
    """Aggressive canonical form for normalization-aware dedup:
    lowercase, strip everything but [a-z0-9] and whitespace, collapse
    whitespace runs, trim. Catches re-cased / re-punctuated /
    re-wrapped copies that byte-exact digests miss.

    The whitespace class is spelled out explicitly (space, tab, LF, FF,
    CR) instead of ``\\s`` because Java regex counts vertical tab
    (\\x0B) as whitespace while DuckDB's RE2 does not — a document
    containing VT would otherwise digest differently in the two
    engines. VT therefore deliberately falls in the *strip* class on
    both sides."""
    ws = " \t\n\f\r"
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(agree_lower(text), f"[^a-z0-9{ws}]", ""),
            f"[{ws}]+",
            " ",
        )
    )


def normalized_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalization-aware exact dedup: md5 over ``normalized_text``,
    groups with >1 member. Same scale shape as exact_dup_groups — the
    normalization is a map-side projection, and only (digest, id)
    pairs ever shuffle."""
    return (
        df.select(F.md5(normalized_text(F.col(text_col))).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram CONTAINMENT:
    |A∩B| / min(|A|, |B|). Catches a document embedded in (or truncated
    from) a larger one — the case where Jaccard dilutes below any
    usable threshold as the size ratio grows.

    Exact verification path (shingle self-join, same shape as
    ngram_jaccard_pairs); at 100 TB generate candidates with
    minhash_lsh_pairs and score containment only on the candidates."""
    return (
        _shingle_overlap(df, text_col, id_col, n)
        .withColumn(
            "containment",
            _round6_ratio(F.col("shared"), F.least("sz_a", "sz_b")),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Estimator audit for the MinHash/LSH dedup path: every LSH
    candidate pair with BOTH its signature-estimated Jaccard and the
    exact shingle Jaccard, plus the signed error. This is how you pick
    num_hashes/bands for a corpus from evidence instead of folklore —
    the same measure-the-sketch pattern as cms_heavy_hitters
    (overcount) and bloom_filter_stats (fp_rate).

    Scale shape: candidates come from the bucketed LSH path; the exact
    check then runs ONLY over documents that appear in some candidate
    pair (semi-join reduction before the shingle self-join), so the
    quadratic verification cost is bounded by the candidate set — the
    corpus-wide all-pairs join never happens."""
    cands = minhash_lsh_pairs(
        df, text_col, id_col, n, num_hashes, bands, threshold
    )
    ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sub = df.join(F.broadcast(ids), id_col, "left_semi")
    sh = doc_shingles(sub, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("__shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("__sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("__szb"))
    # integer round-half-up: shared/union can land EXACTLY on a 7th-
    # decimal midpoint (e.g. 41/640 = 0.0640625) where Spark's
    # shortest-string round goes up and DuckDB's multiply-round goes
    # down; floor((2·s·10^6 + u) / (2u)) is exact int64 math in both
    # engines (numerator < 2^32, and the float quotient is > 1/(2u)
    # away from any wrong integer, so floor is safe)
    union = F.col("__sza") + F.col("__szb") - F.col("__shared")
    j6 = F.floor(
        (F.lit(2_000_000) * F.col("__shared") + union) / (F.lit(2) * union)
    ).cast("long")
    exact = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (j6 / F.lit(1_000_000.0)).alias("jaccard"),
        )
    )
    return (
        cands.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
            F.round(
                F.col("est_jaccard") - F.coalesce(F.col("jaccard"), F.lit(0.0)), 6
            ).alias("err"),
        )
    )


def dedup_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_offset: int = 4_000_000,
    mod: int = 4,
    keep_frac: float = 0.6,
    n: int = 8,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.2,
) -> DataFrame:
    """End-to-end audit of the MinHash/LSH near-dup pipeline against
    INJECTED ground truth: every ``mod``-th document gets a truncated
    copy (first ``keep_frac`` of its text, id + ``id_offset``) planted
    in the corpus; the LSH path then has to find the (original, copy)
    pairs. One summary row: n_truth, n_found, n_hit, recall,
    precision_lb.

    recall is exact (hits / planted pairs). precision_lb is a LOWER
    bound — found pairs outside the planted set may be genuine
    near-dups already present in the corpus, so treat it as "at least
    this precise". This is the capstone of the calibration family:
    cms/bloom/minhash audit the SKETCHES, this audits the PIPELINE.

    Scale shape: identical to minhash_lsh_pairs (the injection is a
    map-only union); the truth join moves (id_a, id_b) pairs only."""
    copies = df.where(F.col(id_col) % mod == 0).select(
        (F.col(id_col) + id_offset).alias(id_col),
        # floor before the int cast: Spark's double->int cast truncates
        # while DuckDB's rounds; floor() is identical in both
        F.substring(
            F.col(text_col), 1, F.floor(F.length(text_col) * keep_frac).cast("int")
        ).alias(text_col),
    )
    corpus = df.select(id_col, text_col).unionByName(copies)
    found = minhash_lsh_pairs(
        corpus, text_col, id_col, n=n, num_hashes=num_hashes,
        bands=bands, threshold=threshold,
    ).select("id_a", "id_b")
    truth = df.where(F.col(id_col) % mod == 0).select(
        F.col(id_col).alias("id_a"),
        (F.col(id_col) + id_offset).alias("id_b"),
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_found = found.agg(F.count("*").alias("n_found"))
    hits = found.join(truth, ["id_a", "id_b"]).agg(F.count("*").alias("n_hit"))
    return (
        n_truth.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_truth",
            "n_found",
            "n_hit",
            # greatest(.., 1): zero planted pairs (corpus with no ids
            # divisible by mod) must yield recall 0, not NULL — same
            # guard precision_lb already uses
            _round6_ratio(
                F.col("n_hit"), F.greatest(F.col("n_truth"), F.lit(1))
            ).alias("recall"),
            _round6_ratio(
                F.col("n_hit"), F.greatest(F.col("n_found"), F.lit(1))
            ).alias("precision_lb"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    min_len: int = 40,
    max_occ: int = 200,
) -> DataFrame:
    """Exact duplicated-span detection across documents: every maximal
    run of whitespace-normalized text of length >= ``min_len`` shared
    verbatim between two documents at one alignment, as
    (id_a, id_b, a_start, b_start, span_len). The substring-grain
    complement to doc-grain MinHash (reference dedup works at whole-doc
    grain; training pipelines also need "page B embeds paragraph from
    page A"; cf. suffix-array dedup in Lee et al., "Deduplicating
    Training Data Makes Language Models Better").

    Algorithm (anti-diagonal islands — all relational, no suffix
    array): explode every k-char gram with its position; equi-join
    grams across documents (id_a < id_b); a shared span of length S
    yields S-k+1 consecutive matches on one alignment diagonal
    (pa - pb constant), so row_number per (pair, diagonal) turns
    consecutive positions into islands (pa - row_number constant), and
    each island IS a maximal span with span_len = matches + k - 1.

    Scale shape: the only data-sized shuffles are ONE content-keyed
    gram shuffle (groupBy gram) and the per-(pair, diagonal) window
    exchange — never all-pairs (!CartesianProduct). Windows run per
    (pair, diagonal) — candidate groups, not the corpus. ``max_occ``
    drops grams occurring more than that many times corpus-wide (the
    stop-gram guard): at 100 TB ubiquitous boilerplate grams would
    otherwise make single pair buckets quadratic. Spans consisting
    ONLY of such ubiquitous text are deliberately not reported here —
    that is boilerplate, surfaced by ``boilerplate_chunks``. The
    filter is mirrored in the oracle, so parity is exact.

    r14 optimization round (guide §2.3/§2.4/§3.1): pair generation is
    a single groupBy(gram) with an occurrence-list aggregate + a
    bounded double explode, replacing the rare-filter aggregate + two
    broadcast joins of the old gram self-join. The old plan evaluated
    the gram explode FOUR times (a-side, b-side, and one rare
    aggregate each) and — because post-explode size estimates are
    junk — BROADCAST the entire rare-gram corpus (~64 MB at sf0.1,
    unboundedly corpus-sized at scale) as the b-side hash relation.
    Here grams are computed once and shuffled once; the occurrence
    filter (2 <= occ <= max_occ, bounded lists) and the id_a < id_b
    pair fan-out happen inside the aggregated groups, so no corpus-
    sized broadcast can ever appear in the plan. The pair rows also
    drop ``__pb`` from the window shuffle: the diagonal is constant
    per window partition, so b_start = a_start - diag is recovered
    after the aggregate (guide §2.3 narrower shuffle rows). Output is
    row-identical (0-row symmetric diff at sf0.01/sf0.1; every pair
    (a-occurrence, b-occurrence) with id_a < id_b is generated exactly
    once from its gram's list, as the join generated it); measured
    2.74 s -> 1.85 s min-of-4 at sf0.1 (a nested-HOF pair generator
    was also tested: 2.17 s — Generate is codegen'd, HOF lambdas are
    not)."""
    from pyspark.sql.window import Window

    norm = df.select(
        F.col(id_col), normalize_ws(F.col(text_col)).alias("__n")
    )
    idx = F.when(
        F.length("__n") >= k, F.sequence(F.lit(1), F.length("__n") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = norm.select(
        id_col,
        F.posexplode(F.transform(idx, lambda i: F.col("__n").substr(i, F.lit(k)))).alias(
            "__pos0", "__g"
        ),
    ).select(id_col, (F.col("__pos0") + 1).alias("__p"), "__g")
    gl = (
        grams.groupBy("__g")
        .agg(
            F.count("*").alias("__occ"),
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col("__p").alias("p"))
            ).alias("__l"),
        )
        .where((F.col("__occ") >= 2) & (F.col("__occ") <= max_occ))
    )
    x = gl.select(F.explode("__l").alias("x"), "__l")
    pairs = (
        x.select("x", F.explode("__l").alias("y"))
        .where(F.col("x.i") < F.col("y.i"))
        .select(
            F.col("x.i").alias("id_a"),
            F.col("y.i").alias("id_b"),
            F.col("x.p").alias("__pa"),
            (F.col("x.p") - F.col("y.p")).alias("__diag"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("__pa")
    runs = pairs.withColumn("__island", F.col("__pa") - F.row_number().over(w))
    return (
        runs.groupBy("id_a", "id_b", "__diag", "__island")
        .agg(
            F.min("__pa").cast("long").alias("a_start"),
            (F.count("*") + k - 1).cast("long").alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
        .select(
            "id_a",
            "id_b",
            "a_start",
            (F.col("a_start") - F.col("__diag")).alias("b_start"),
            "span_len",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every k-char gram of the whitespace-normalized text,
    slide a window of ``w`` consecutive gram hashes, and keep each
    window's minimum. Guarantee: any verbatim match of length
    >= w + k - 1 chars shares at least one fingerprint; expected
    fingerprint density is 2/(w+1) of the gram count.

    The selected set here is the set of window-minimum HASHES per
    document (classic winnowing also records positions and breaks ties
    rightmost; with 44-bit md5 slices ties are vanishing and the hash
    set — what pair scoring consumes — is identical).

    Scale shape: grams explode map-side with the md5 inside whole-stage
    codegen (the interpreted-HOF trap documented at
    minhash_signatures); the sliding min is a window partitioned by
    document, so each doc's grams sort locally and the shuffle moves
    fixed-width (doc, pos, hash-long) rows — independent of k, unlike
    the k× text amplification of a raw shingle join. Docs shorter than
    w grams emit their single truncated-window minimum, mirrored in the
    oracle. Returns distinct (id, fp) rows.
    """
    from pyspark.sql.window import Window

    norm = df.select(F.col(id_col), normalize_ws(F.col(text_col)).alias("__n"))
    idx = F.sequence(F.lit(1), F.greatest(F.length("__n") - F.lit(k - 1), F.lit(1)))
    grams = norm.select(
        F.col(id_col),
        F.posexplode(
            F.transform(idx, lambda i: F.col("__n").substr(i, F.lit(k)))
        ).alias("__p0", "__g"),
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("__p"), _md5_long(F.col("__g")).alias("__h"))
    frame = Window.partitionBy(id_col).orderBy("__p").rowsBetween(Window.currentRow, w - 1)
    part = Window.partitionBy(id_col)
    sel = grams.select(
        F.col(id_col),
        F.min("__h").over(frame).alias("fp"),
        F.col("__p"),
        F.count("*").over(part).alias("__cnt"),
    ).where(F.col("__p") <= F.greatest(F.col("__cnt") - F.lit(w - 1), F.lit(1)))
    return sel.select(id_col, "fp").distinct()


def winnow_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_occ: int = 50,
    min_shared: int = 3,
    min_score: float = 0.0,
) -> DataFrame:
    """Document near-pairs by shared winnowing fingerprints: Jaccard
    over the (stop-fingerprint-filtered) fingerprint sets, reported as
    (id_a, id_b, n_shared, score).

    ``max_occ`` drops fingerprints present in more than that many
    documents BEFORE the self-join (the stop-gram guard duplicated_spans
    uses): at 100 TB a boilerplate fingerprint shared by millions of
    docs would otherwise form a quadratic join bucket. Per-doc set
    sizes are counted over the KEPT fingerprints so the score is an
    exact Jaccard of the filtered sets — mirrored in the oracle.

    Scale shape: fingerprints are ~2/(w+1) of gram count; the only
    data-sized shuffle is the fp equi-join (hash-partitioned by
    fingerprint, never all-pairs).

    r14 optimization round, measured and deliberately NOT changed:
    eager localCheckpoints of ``fps``/``kept`` (the lazy plan shows
    the winnowing subtree 8× / 16 parquet scans) were A/B-tested
    interleaved in one session — min-of-5 2.54 s plain vs 3.00 s
    checkpointed at sf0.1: runtime exchange/stage reuse already
    dedups the recompute and the eager barriers cost more (the same
    null result as r13's dump_overlap/dsir_weights experiments).
    The candidate self-join was also probed for the simhash-style
    sort-merge plan-flip (r13 #5): unlike the checkpointed simhash
    frame, ``kept`` keeps its size estimates, so the planner pins
    BroadcastHashJoin on every one of ~20 measured runs — no flip
    mode, no pinned-broadcast gate needed.

    r14 continuation (guide §2.3/§2.4 — the duplicated_spans
    pattern): candidate generation is ONE groupBy(fp) with an
    occurrence-list aggregate + a bounded double explode, replacing
    the rare-filter aggregate, the fps⋈rare join, and the kept⋈kept
    fp self-join. The winnowing window subtree is now evaluated once
    instead of four times (final plan: Window nodes 8 → 2, Join
    6 → 2, scans 2 → 1); fingerprint rows are distinct (id, fp), so
    per-fp cross pairs with id_a < id_b reproduce the self-join's
    rows exactly — 0-row symmetric diff at sf0.01 (72,424 pairs) and
    sf0.1 (6,405 = the frozen bench counter); interleaved min-of-6
    3.30 → 2.60 s (1.27×), faster on every paired rep. Same
    aggregation-buffer trade as duplicated_spans: a hotter-than-
    max_occ fingerprint materializes its list before the filter
    drops it (ObjectHashAggregate spills; the filter is mirrored in
    the oracle)."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    gl = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__occ"), F.collect_list(id_col).alias("__l"))
        .where(F.col("__occ") <= max_occ)
    )
    # sizes counts KEPT fingerprints per doc — occ == 1 groups count
    # toward set sizes even though they can't produce pairs, exactly
    # as the old kept-join did (the oracle mirrors this)
    sizes = (
        gl.select(F.explode("__l").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("sz"))
    )
    x = gl.where(F.col("__occ") >= 2).select(F.explode("__l").alias("id_a"), "__l")
    shared = (
        x.select("id_a", F.explode("__l").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("__sb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "score",
            _round6_ratio(
                F.col("n_shared"),
                F.col("__sa") + F.col("__sb") - F.col("n_shared"),
            ),
        )
        .where(F.col("score") >= min_score)
        .select("id_a", "id_b", "n_shared", "score")
    )


def editdist_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 20,
    prefix_chars: int = 160,
    bits: int = 60,
    blocks: int = 4,
    max_hamming: int = 12,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: SimHash block
    candidates → exact Levenshtein distance over a bounded prefix of
    the normalized text, kept when <= ``max_dist``. The
    verify-with-an-exact-metric stage a production dedup pipeline runs
    after LSH candidate generation (MinHash/SimHash estimate set
    overlap; Levenshtein certifies the actual character-level edit
    budget).

    Scale shape: candidates come from the SimHash segment groupBy
    (never all-pairs — the same block trick as simhash_near_pairs, with
    a generous ``max_hamming`` pre-filter so the expensive Levenshtein
    runs only on plausible pairs); the O(prefix²) dynamic program is
    bounded by ``prefix_chars`` per comparison regardless of document
    length, and text reaches the verifier by two id equi-joins of the
    candidate list back to the corpus — the full corpus never
    self-joins on text."""
    cands = simhash_near_pairs(df, text_col, id_col, max_hamming, bits, blocks)
    norm = df.select(
        F.col(id_col),
        F.substring(normalize_ws(F.col(text_col)), 1, prefix_chars).alias("__pref"),
    )
    na = norm.select(F.col(id_col).alias("id_a"), F.col("__pref").alias("__ta"))
    nb = norm.select(F.col(id_col).alias("id_b"), F.col("__pref").alias("__tb"))
    return (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("edit_dist", F.levenshtein("__ta", "__tb").cast("long"))
        .where(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "hamming", "edit_dist")
    )


def dup_inflation(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Token-weighted duplication inflation per group: how much LARGER
    the raw corpus is than its exact-deduped form, in documents and in
    tokens — the number that tells you what a dedup pass actually buys
    at training time (docs overstate it when duplicates are short,
    tokens don't). Returns (group, n_docs, n_unique, tokens_total,
    tokens_unique, inflation = tokens_total / tokens_unique, round-6).

    Scale shape: one map-only projection to (group, digest, token
    count); duplicates collapse per (group, digest) with map-side
    combine (identical text ⇒ identical token count, so any
    representative's count stands for the group — min() keeps it
    deterministic); per-group totals are a second bounded aggregate.
    The document payload never shuffles — only digests and counts."""
    toks = F.size(
        F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
    ).cast("long")
    d = df.select(
        F.col(group_col).alias("group"),
        F.md5(F.col(text_col)).alias("__digest"),
        toks.alias("__tok"),
    )
    per_digest = d.groupBy("group", "__digest").agg(
        F.count("*").alias("__n"), F.min("__tok").alias("__t")
    )
    from kairos_spark.exact import _round6_ratio_dec

    return per_digest.groupBy("group").agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum(F.col("__n") * F.col("__t")).cast("long").alias("tokens_total"),
        F.sum("__t").cast("long").alias("tokens_unique"),
        # Σn·t reaches corpus token volume (~1e13 at 100 TB): the 2e6
        # scaling needs the DECIMAL(38,0) path (ADVICE-r6 class).
        # A group whose every doc has ZERO tokens (digit-only source,
        # adversarial r8) has tokens_unique = 0 — inflation is
        # undefined there; 0.0 sentinel on BOTH sides (never NULL,
        # never a bare /0: Spark ANSI errors where DuckDB NULLs)
        F.when(F.sum("__t") == 0, F.lit(0.0))
        .otherwise(
            _round6_ratio_dec(
                F.sum(F.col("__n").cast("decimal(38,0)") * F.col("__t")),
                F.sum("__t").cast("decimal(38,0)"),
            )
        )
        .alias("inflation"),
    )


def _prefix_jaccard_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    pattern: str,
) -> tuple[DataFrame, DataFrame]:
    """The token stream and the length-filtered candidate pair set of
    :func:`prefix_jaccard_pairs` (everything before the verify join) —
    split out so bench.py can count the candidate volume (VERDICT r10
    #2) with the exact production stages rather than a re-derivation.
    Returns (toks, cand): toks is (__id, token) distinct doc-token
    rows; cand is (id_a, id_b, size_a, size_b) with id_a < id_b."""
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(
                        agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0)
                    )
                )
            ).alias("token"),
        )
    )
    dfreq = toks.groupBy("token").agg(F.count("*").cast("long").alias("__df"))
    ranked = toks.join(dfreq, "token")
    per_doc = ranked.groupBy("__id").agg(
        F.array_sort(F.collect_list(F.struct("__df", "token"))).alias("__arr"),
        F.count("*").cast("long").alias("__sz"),
    )
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.col("__sz") * threshold - F.lit(1e-9)).cast("long")
        + 1
    )
    prefixes = per_doc.select(
        "__id",
        "__sz",
        F.explode(
            F.slice(
                F.transform(F.col("__arr"), lambda x: x["token"]),
                F.lit(1),
                prefix_len.cast("int"),
            )
        ).alias("token"),
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(b, "token")
        .where(F.col("a.__id") < F.col("b.__id"))
        .where(
            F.least(F.col("a.__sz"), F.col("b.__sz")).cast("double")
            >= threshold * F.greatest(F.col("a.__sz"), F.col("b.__sz"))
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sz").alias("size_a"),
            F.col("b.__sz").alias("size_b"),
        )
        .distinct()
    )
    return toks, cand


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.95,
    pattern: str = "[a-z]+",
) -> DataFrame:
    """EXACT Jaccard similarity self-join with prefix filtering — the
    AllPairs/ppjoin family (Bayardo et al. WWW'07, Xiao et al.
    WWW'08), the third point in this engine's near-dup design space:
    MinHash-LSH is probabilistic-recall/cheap, the all-pairs shingle
    join is exact/quadratic (quarantined as oracle), and prefix
    filtering is EXACT with subquadratic candidates — the right tool
    when the threshold is high and misses are unacceptable (e.g.
    eval-set decontamination at 0.9+).

    Why it is lossless: J(x,y) >= t implies overlap >= ceil(t·|x|)
    (since |y| >= o: o >= t(|x|+|y|-o) >= t|x|), and two sets with
    overlap >= o_min must share an element among the first
    |x| - o_min + 1 elements of any COMMON total order — so docs are
    sorted by ascending document frequency (rarest token first,
    breaking ties lexically) and only prefix tokens generate
    candidates. The df-ascending order is what makes prefixes
    selective: rare tokens index few documents. A conservative 1e-9
    epsilon inside the ceil only ever LENGTHENS the prefix, so float
    rounding can add candidates but never lose a true pair.

    Candidates also pass the length filter min >= t·max before the
    verify join; survivors get their TRUE overlap counted and the
    exact Jaccard test applied — output contains no approximation.

    Output: (id_a, id_b, size_a, size_b, overlap, jaccard) with
    id_a < id_b, jaccard rounded 6 (filter on the raw value).

    Scale shape (100 TB): token df is one aggregate; the per-doc
    sorted token array is a groupBy collect over doc-grain state
    (bounded by doc length); candidates come from equality joins on
    PREFIX tokens only (≈ (1-t)·|d| + 1 per doc — at t=0.95 that is
    ~5% of the explode volume); the verify join runs only over
    candidate pairs. No all-pairs stage exists in the plan
    (plan-asserted !CartesianProduct/!NestedLoop); hot prefix tokens
    are rare BY CONSTRUCTION (df-ascending order puts common tokens
    last, outside prefixes).
    """
    toks, cand = _prefix_jaccard_candidates(
        df, text_col, id_col, threshold, pattern
    )
    ta = toks.select(F.col("__id").alias("id_a"), "token")
    tb = toks.select(F.col("__id").alias("id_b"), "token")
    overlap = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").cast("long").alias("overlap"))
    )
    jac = F.col("overlap") / (
        F.col("size_a") + F.col("size_b") - F.col("overlap")
    ).cast("double")
    return overlap.where(jac >= threshold).select(
        "id_a",
        "id_b",
        "size_a",
        "size_b",
        "overlap",
        _round6_ratio(
            F.col("overlap"),
            F.col("size_a") + F.col("size_b") - F.col("overlap"),
        ).alias("jaccard"),
    )


def split_leakage_audit(
    splits: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Train/test contamination check for a split assignment: classify
    every near-duplicate pair by the (lexicographically ordered) split
    pair of its two members and count — a near-dup spanning train and
    test IS evaluation leakage, the failure mode that silently
    inflates benchmark scores after an otherwise-clean dedup
    (the reason Lee et al. dedup the eval sets against train).
    Compose with any pair source — ``prefix_jaccard_pairs`` for the
    exact path, ``minhash_lsh_pairs`` at recall-tolerant scale.

    Output: (split_a, split_b, n_pairs, cross_split, pct_of_pairs) —
    split_a <= split_b, cross_split = the leakage rows, shares over
    all near-dup pairs (rounded 6; an all-clear audit shows every
    pair on the diagonal).

    Scale shape: two hash joins of the PAIR list (already subquadratic
    by construction) against the (id, split) projection, then a
    |splits|² aggregate; the split table never self-joins.
    """
    from pyspark.sql.window import Window

    sa = splits.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("__sa"))
    sb = splits.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("__sb"))
    tagged = pairs.join(sa, "id_a").join(sb, "id_b")
    lo = F.least(F.col("__sa"), F.col("__sb"))
    hi = F.greatest(F.col("__sa"), F.col("__sb"))
    cells = tagged.groupBy(lo.alias("split_a"), hi.alias("split_b")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    w = Window.partitionBy()
    return cells.select(
        "split_a",
        "split_b",
        "n_pairs",
        (F.col("split_a") != F.col("split_b")).alias("cross_split"),
        _round6_ratio(F.col("n_pairs"), F.sum("n_pairs").over(w)).alias(
            "pct_of_pairs"
        ),
    )


def jaccard_threshold_sweep(
    pairs: DataFrame,
    thresholds: list[float],
) -> DataFrame:
    """Dedup-threshold sensitivity sweep over an existing scored pair
    table (id_a, id_b, jaccard): for each candidate threshold, how
    many pairs survive and how many documents the keep-first rule
    would DROP (a doc drops iff its best as-id_b jaccard clears the
    bar). The first question every dedup rollout asks — "how much do
    we lose at 0.7 vs 0.8?" — answered from ONE pass over the pair
    table instead of re-running the pipeline per candidate.

    Returns one row per threshold: (threshold, n_pairs, n_dropped).
    Scale shape: pair-grain conditional counts for n_pairs; a doc-
    grain max-jaccard aggregation for n_dropped — thresholds add
    when() terms, not passes. Compose with ngram_jaccard_pairs (exact,
    small corpora) or the banded LSH pair tables (scale path)."""
    ts = sorted(float(t) for t in thresholds)
    # coalesce: F.sum over an EMPTY pair table is NULL in both engines;
    # the repo's no-NULL output invariant wants an explicit 0 (the
    # oracle mirrors with COALESCE).
    pair_agg = pairs.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("jaccard") >= t, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"__p{i}")
            for i, t in enumerate(ts)
        ]
    )
    best = pairs.groupBy("id_b").agg(F.max("jaccard").alias("__bj"))
    drop_agg = best.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("__bj") >= t, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"__d{i}")
            for i, t in enumerate(ts)
        ]
    )
    joined = pair_agg.crossJoin(F.broadcast(drop_agg))
    rows = None
    for i, t in enumerate(ts):
        one = joined.select(
            F.lit(t).alias("threshold"),
            F.col(f"__p{i}").alias("n_pairs"),
            F.col(f"__d{i}").alias("n_dropped"),
        )
        rows = one if rows is None else rows.union(one)
    return rows


def paragraph_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Paragraph-grain exact dedup with document reconstruction stats —
    the Dolma/CCNet paragraph dedupe (newline-delimited paragraphs,
    digest-exact match), reported at document grain so a pipeline can
    see what a paragraph-grain pass would do to each document BEFORE
    running it. The reference deduplicates nothing (kairos stores
    opaque values); this is the training-data layer's finer-grain
    sibling of ``exact_dedup``.

    A paragraph is a newline-delimited segment, trimmed of
    space/tab/CR (CRLF corpora must digest like their LF twins),
    empties dropped; it is DUPLICATED when its md5 appears in at least
    ``min_docs`` distinct documents. Per document:
    (doc_id, n_paras, n_dup_paras, dup_para_frac, dup_char_frac) —
    the char fraction is the share of kept text a paragraph-grain
    dedupe would remove (codepoint-weighted, engine-identical).
    Documents with no non-empty paragraph yield no row (nothing to
    reconstruct) — consistent on both engines.

    Scale shape: split/trim/filter is map-only; the only corpus
    shuffle groups short digests (count_distinct doc per digest); the
    flagged set joins back ON THE DIGEST KEY (plain hash join — in a
    dup-heavy crawl the flagged set is NOT broadcast-sized, unlike
    boilerplate_chunks' corpus-repeated chunk set). Raw text never
    shuffles — only digests and integer lengths do."""
    paras = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "\n", -1)).alias("__p0"),
        )
        .select(F.col(id_col), F.expr("btrim(__p0, ' \t\r')").alias("__p"))
        .where(F.length("__p") > 0)
    )
    pg = paras.select(
        F.col(id_col),
        F.length("__p").alias("__len"),
        F.md5("__p").alias("__dg"),
    )
    dup = (
        pg.groupBy("__dg")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__dg", F.lit(1).alias("__dup"))
    )
    marked = pg.join(dup, "__dg", "left")
    return marked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long").alias("n_dup_paras"),
        _round6_ratio(
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))), F.count("*")
        ).alias("dup_para_frac"),
        _round6_ratio(
            F.sum(F.when(F.col("__dup").isNotNull(), F.col("__len")).otherwise(0)),
            F.greatest(F.sum("__len"), F.lit(1)),
        ).alias("dup_char_frac"),
    )


def crossdoc_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide exact duplicated-SPAN statistics at span grain —
    the suffix-array-free form of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): a token position is
    duplicated when its k-token gram occurs >= ``min_count`` times
    CORPUS-WIDE (any documents, within-doc repeats included — the
    suffix-array criterion), and overlapping/adjacent duplicated
    windows merge into maximal covered spans. Generalizes
    ``duplicated_spans`` (pair grain, per-alignment) to the per-doc
    totals a dedup pass actually removes.

    Returns (doc_id, n_tokens, n_spans, dup_tokens, dup_token_frac)
    for every document; dup_tokens counts UNIQUE covered tokens (an
    interval union, not a per-window sum — two flagged starts closer
    than k don't double-count their overlap).

    Scale shape: NO pair join anywhere (the point of going past the
    pair grain): grams aggregate corpus-wide on the md5 gram key with
    map-side combine, hot grams join back by the same key, and span
    merging is one per-document window over FLAGGED positions only
    (bounded by document length). Doc-grain output; raw text never
    shuffles."""
    from pyspark.sql.window import Window

    from kairos_spark.operators.text import word_tokens

    base = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__w")
    ).select(F.col(id_col), F.size("__w").alias("__nt"), "__w")
    idx = F.when(
        F.col("__nt") >= k, F.sequence(F.lit(1), F.col("__nt") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx, lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__w"), i, k)))
            )
        ).alias("__p0", "__g"),
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("__p"), "__g")
    hot = (
        grams.groupBy("__g")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("__g")
    )
    flagged = grams.join(hot, "__g")
    w = Window.partitionBy(id_col).orderBy("__p")
    lagp = F.lag("__p").over(w)
    # islands of OVERLAPPING/ADJACENT windows: a new span starts when
    # the gap to the previous flagged start exceeds k (start p covers
    # [p, p+k-1]; p - prev == k is contiguous coverage)
    runs = flagged.withColumn(
        "__new", F.when(lagp.isNull() | (F.col("__p") - lagp > k), 1).otherwise(0)
    ).withColumn(
        "__isl", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = runs.groupBy(id_col, "__isl").agg(
        (F.max("__p") - F.min("__p") + k).alias("__cov")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("__cov").cast("long").alias("dup_tokens"),
    )
    return (
        base.select(F.col(id_col), F.col("__nt").cast("long").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            _round6_ratio(
                F.coalesce(F.col("dup_tokens"), F.lit(0)),
                F.greatest(F.col("n_tokens"), F.lit(1)),
            ).alias("dup_token_frac"),
        )
    )


def cluster_representatives(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Keep-best representative per duplicate cluster: given cluster
    labels (``connected_components`` output: node -> cluster_id) and a
    per-document score, pick each cluster's argmax-score member
    (score ties break on the smaller id) — the Dolma/RefinedWeb keep
    policy, vs ``exact_dedup``'s keep-lowest-id. Returns
    (cluster_id, n_members, keep_doc_id, keep_score).

    Both engines rank the same ALREADY-ROUNDED 6dp score with the id
    tiebreak, so the pick is engine-exact at score boundaries (the
    top-k ranking invariant).

    Scale shape: one hash join labels⋈scores on the doc id, then one
    per-cluster window over cluster members only (cluster sizes are
    dedup-group sizes — AQE handles the skewed mega-cluster). No
    corpus-wide sort; text never enters."""
    from pyspark.sql.window import Window

    j = clusters.select(
        F.col("node").alias(id_col), "cluster_id"
    ).join(scored.select(F.col(id_col), F.col(score_col).alias("__q")), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__q").desc(), F.col(id_col)
    )
    sz = Window.partitionBy("cluster_id")
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(sz).cast("long"))
        .where(F.col("__rn") == 1)
        .select(
            "cluster_id",
            "n_members",
            F.col(id_col).alias("keep_doc_id"),
            F.col("__q").alias("keep_score"),
        )
    )


def cross_source_duplication(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication flow: for every unordered source pair
    (src_a <= src_b), how many exact-digest groups have members in
    both sources — the "who mirrors whom" matrix a data-acquisition
    team reads before paying twice for the same content. The diagonal
    (src_a == src_b) counts digests duplicated WITHIN the source
    (>= 2 copies). Returns
    (src_a, src_b, n_shared_digests, n_docs_involved).

    Scale shape: docs collapse to (digest, source, count) first — the
    only corpus-scale shuffle, on the digest key with map-side
    combine; the digest-grain self-join then touches |distinct
    digests| rows and the source-pair aggregate is |sources|² rows.
    Payload text never shuffles."""
    ds = (
        df.select(
            F.md5(F.col(text_col)).alias("__dg"),
            F.col(source_col).alias("__s"),
        )
        .groupBy("__dg", "__s")
        .agg(F.count("*").alias("__c"))
    )
    a = ds.select("__dg", F.col("__s").alias("src_a"), F.col("__c").alias("__ca"))
    b = ds.select("__dg", F.col("__s").alias("src_b"), F.col("__c").alias("__cb"))
    pairs = a.join(b, "__dg").where(
        (F.col("src_a") < F.col("src_b"))
        | ((F.col("src_a") == F.col("src_b")) & (F.col("__ca") >= 2))
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_shared_digests"),
        F.sum(
            F.when(F.col("src_a") == F.col("src_b"), F.col("__ca")).otherwise(
                F.col("__ca") + F.col("__cb")
            )
        )
        .cast("long")
        .alias("n_docs_involved"),
    )


def dup_cluster_sizes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate cluster-size spectrum with dedup ROI: group
    documents by text digest and report, per cluster SIZE s, how many
    clusters have exactly s members, the docs and removable docs
    (s-1 per cluster) at that size, and the removable character mass —
    the count-of-counts view (``freq_spectrum`` for dup clusters) that
    says whether duplication is a few mega-clusters or a long tail,
    which decides the dedup strategy before any pass runs.

    Returns (group_size, n_groups, n_docs, n_docs_removable,
    chars_removable, doc_share) sorted by nothing (driver sorts);
    doc_share = docs at this size / corpus docs, exact integer ratio.
    Exact duplicates share byte-identical text, so every member has
    the same length and the removable mass is (s-1)·len per cluster.

    Scale shape: one digest groupBy (short-key shuffle, map-side
    combine) → one |distinct sizes|-row spectrum aggregate; the corpus
    total rides a window over spectrum rows (thousands at most).
    Payload text never shuffles — only digests and integer lengths."""
    from pyspark.sql.window import Window

    groups = (
        df.select(
            F.md5(F.col(text_col)).alias("__dg"),
            F.length(F.col(text_col)).alias("__len"),
        )
        .groupBy("__dg")
        .agg(F.count("*").alias("__s"), F.min("__len").alias("__len"))
    )
    spec = groups.groupBy(F.col("__s").alias("group_size")).agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("__s").cast("long").alias("n_docs"),
        F.sum(F.col("__s") - 1).cast("long").alias("n_docs_removable"),
        F.sum((F.col("__s") - 1) * F.col("__len")).cast("long").alias(
            "chars_removable"
        ),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return spec.select(
        F.col("group_size").cast("long").alias("group_size"),
        "n_groups",
        "n_docs",
        "n_docs_removable",
        "chars_removable",
        _round6_ratio(F.col("n_docs"), F.sum("n_docs").over(tot)).alias(
            "doc_share"
        ),
    )


def contamination_span_stats(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    pad: int = 20,
) -> DataFrame:
    """Sliding n-gram benchmark-contamination spans per document — the
    Brown et al. 2020 (GPT-3 appendix C) decontamination rule at span
    grain: a corpus token position is contaminated when ANY sliding
    k-token gram through it also occurs in the held-out benchmark
    text, and the removal span extends ``pad`` tokens each side of
    the matched window (GPT-3 removed a window around each collision
    rather than the whole document). Overlapping/adjacent padded
    windows merge into maximal spans (interval union — the
    ``crossdoc_span_stats`` machinery pointed at an external gram
    set instead of corpus-hot grams).

    Returns per document: n_tokens, n_hits (contaminated gram
    positions), n_spans (merged removal spans), rm_tokens (unique
    tokens covered by padded spans, clamped to the document), and
    rm_token_frac — all docs reported, zeros for clean ones.

    Scale shape: the benchmark gram set is distinct-hashed and
    BROADCAST (eval suites are tiny next to the corpus); corpus grams
    stream map-side through the hash join, and span merging is one
    per-document window over FLAGGED positions only. Raw text never
    shuffles; no corpus-side pair join."""
    from pyspark.sql.window import Window

    from kairos_spark.operators.text import word_tokens

    base = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__w")
    ).select(F.col(id_col), F.size("__w").alias("__nt"), "__w")
    idx = F.when(
        F.col("__nt") >= k, F.sequence(F.lit(1), F.col("__nt") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.col("__nt"),
        F.posexplode(
            F.transform(
                idx, lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__w"), i, k)))
            )
        ).alias("__p0", "__g"),
    ).select(F.col(id_col), F.col("__nt"), (F.col("__p0") + 1).alias("__p"), "__g")
    bw = bench_df.select(word_tokens(F.col(text_col)).alias("__w")).select(
        F.size("__w").alias("__nt"), "__w"
    )
    bidx = F.when(
        F.col("__nt") >= k, F.sequence(F.lit(1), F.col("__nt") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    bgrams = (
        bw.select(
            F.explode(
                F.transform(
                    bidx,
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__w"), i, k))),
                )
            ).alias("__g")
        )
        .distinct()
    )
    flagged = grams.join(F.broadcast(bgrams), "__g")
    w = Window.partitionBy(id_col).orderBy("__p")
    lagp = F.lag("__p").over(w)
    # padded window at start p covers [p-pad, p+k-1+pad]; the next
    # window is contiguous/overlapping while next - prev <= k + 2*pad
    runs = flagged.withColumn(
        "__new",
        F.when(lagp.isNull() | (F.col("__p") - lagp > k + 2 * pad), 1).otherwise(0),
    ).withColumn(
        "__isl", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = runs.groupBy(id_col, "__isl").agg(
        F.count("*").alias("__nh"),
        (
            F.least(F.max("__p") + F.lit(k - 1 + pad), F.first("__nt"))
            - F.greatest(F.min("__p") - F.lit(pad), F.lit(1))
            + 1
        ).alias("__cov"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("__nh").cast("long").alias("n_hits"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum("__cov").cast("long").alias("rm_tokens"),
    )
    return (
        base.select(F.col(id_col), F.col("__nt").cast("long").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("rm_tokens"), F.lit(0)).cast("long").alias("rm_tokens"),
            _round6_ratio(
                F.coalesce(F.col("rm_tokens"), F.lit(0)),
                F.greatest(F.col("n_tokens"), F.lit(1)),
            ).alias("rm_token_frac"),
        )
    )


def boundary_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_occ: int = 50,
) -> DataFrame:
    """Document-boundary overlap pairs: doc A's LAST k word tokens
    exactly equal doc B's FIRST k word tokens — the split-document
    signature (a source document sharded mid-stream, a crawler that
    paginated one page into two records, a log rotated mid-entry).
    Neither exact dedup (different digests) nor near-dup scoring
    (overall Jaccard can be tiny) catches a chain like this; the
    boundary gram does, and chains reassemble by following the pairs.

    Returns (id_a, id_b, n_tokens_a, n_tokens_b) where id_a's tail
    matches id_b's head; a doc can appear on both sides (chain
    interior). Self-pairs are excluded. Docs with < k tokens emit no
    boundary grams.

    Scale shape: each doc contributes ONE head digest and ONE tail
    digest (no k× amplification); ``max_occ`` drops boundary digests
    appearing in more than that many heads or tails BEFORE the
    equi-join (the stop-gram guard — a boilerplate opening shared by
    millions of docs would otherwise form a quadratic join bucket)."""
    from kairos_spark.operators.text import word_tokens

    base = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__w")
    ).select(F.col(id_col), F.size("__w").alias("__nt"), "__w")
    eligible = base.where(F.col("__nt") >= k)
    heads = eligible.select(
        F.col(id_col).alias("id_b"),
        F.col("__nt").cast("long").alias("n_tokens_b"),
        F.md5(F.concat_ws(" ", F.slice(F.col("__w"), 1, k))).alias("__g"),
    )
    tails = eligible.select(
        F.col(id_col).alias("id_a"),
        F.col("__nt").cast("long").alias("n_tokens_a"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("__w"), F.col("__nt") - k + 1, k))
        ).alias("__g"),
    )
    occ = (
        heads.select("__g")
        .union(tails.select("__g"))
        .groupBy("__g")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") <= max_occ)
        .select("__g")
    )
    return (
        tails.join(occ, "__g")
        .join(heads, "__g")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "n_tokens_a", "n_tokens_b")
    )


def dup_quality_bias(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_cap: int = 4,
) -> DataFrame:
    """Duplication-quality bias table: per exact-dup group-size bucket
    (1, 2, …, ``size_cap``+, capped so the bucket set is closed), how
    many groups and docs land there, the mean quality over ALL member
    docs, and the mean quality of the KEPT keep-lowest-id
    representatives. The one table that answers "are duplicated docs
    systematically worse?" — if mean_quality_all drops with group size
    (boilerplate farms), dedup is also a quality filter; if kept ≈ all,
    the keep policy is quality-neutral on this corpus. Pairs with
    ``dup_cluster_sizes`` (volume ROI) and ``cluster_representatives``
    (the keep policy itself).

    Quality values are exact 6dp → recovered as integer micro-units
    (rint, exact for q < 2^32 µ) so both means are ONE exact integer
    ratio Σµ/(n·10^6) each (the source_scorecard convention — never a
    float mean of 6dp rationals, the midpoint class).

    Scale shape: digests aggregate on the short key; quality is the
    map-only quality_score projection joined on the doc id; the
    bucket table is a ≤ size_cap-row aggregate. Text never shuffles
    twice."""
    from kairos_spark.exact import _round6_ratio_dec
    from kairos_spark.operators.text import quality_score

    dg = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__d"))
    sizes = dg.groupBy("__d").agg(
        F.count("*").alias("__s"), F.min(F.col(id_col)).alias("__keep")
    )
    qual = quality_score(df, text_col, id_col).select(
        F.col(id_col),
        F.rint(F.col("quality") * F.lit(1_000_000.0))
        .cast("decimal(38,0)")
        .alias("__qu"),
    )
    j = dg.join(sizes, "__d").join(qual, id_col)
    bucket = F.least(F.col("__s"), F.lit(size_cap)).cast("long")
    per = j.select(
        bucket.alias("group_size_bucket"),
        F.col("__d"),
        F.col("__qu"),
        (F.col(id_col) == F.col("__keep")).alias("__is_keep"),
    )
    return per.groupBy("group_size_bucket").agg(
        F.countDistinct("__d").cast("long").alias("n_groups"),
        F.count("*").cast("long").alias("n_docs"),
        _round6_ratio_dec(
            F.sum("__qu"),
            F.count("*").cast("decimal(38,0)") * F.lit(1_000_000),
        ).alias("mean_quality_all"),
        _round6_ratio_dec(
            F.sum(F.when(F.col("__is_keep"), F.col("__qu")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )),
            F.greatest(
                F.sum(F.when(F.col("__is_keep"), 1).otherwise(0)), F.lit(1)
            ).cast("decimal(38,0)")
            * F.lit(1_000_000),
        ).alias("mean_quality_kept"),
    )


def cluster_source_purity(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Near-dup cluster source-purity histogram: given cluster labels
    (``connected_components`` output) and the doc→source mapping, per
    DISTINCT-SOURCE-COUNT bucket report how many clusters span exactly
    that many sources and how many docs they hold. The near-dup-grain
    sibling of ``cross_source_duplication`` (exact digests): a tall
    n_sources=1 bar means near-dups are intra-feed (dedup per source
    would suffice); mass at n_sources ≥ 2 is syndication/mirroring —
    cross-source dedup is load-bearing and per-source pipelines would
    silently keep every copy.

    Scale shape: one hash join labels⋈sources on the doc id, one
    cluster-grain aggregate (distinct sources per cluster — bounded by
    cluster size), one histogram aggregate over cluster-grain rows."""
    j = clusters.select(F.col("node").alias(id_col), "cluster_id").join(
        docs.select(F.col(id_col), F.col(source_col).alias("__src")), id_col
    )
    per = j.groupBy("cluster_id").agg(
        F.countDistinct("__src").cast("long").alias("__ns"),
        F.count("*").cast("long").alias("__nd"),
    )
    return per.groupBy(F.col("__ns").alias("n_sources")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("__nd").cast("long").alias("n_docs"),
    )


def shard_dup_locality(
    df: DataFrame,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Would per-shard dedup catch the corpus's duplicates? Assign every
    doc to the writer layout's shard (md5(id) mod ``n_shards`` — the
    SAME expression as ``shard_balance``) and split each exact-dup
    group's pairs into intra-shard (visible to a shard-local dedup
    pass) vs cross-shard (only a global digest shuffle finds them).
    Returns ONE row: (n_shards, n_dup_groups, n_dup_docs, intra_pairs,
    cross_pairs, locality). Under id-hash sharding locality ≈
    1/n_shards — this audit is the number that justifies the global
    dedup shuffle to whoever is paying for it; a HIGH locality instead
    means duplicates arrive id-clustered and a cheap shard-local pass
    already removes most mass.

    Exactness: pair counts are m(m−1)/2 integers summed in
    DECIMAL(38,0) (a single hot digest at corpus scale can carry ~1e9
    copies → ~5e17 pairs, past the safe BIGINT-sum comfort zone);
    locality is one exact integer ratio with an empty-corpus 0.0
    sentinel on both engines.

    Scale shape: only (digest, shard) short keys shuffle — text never
    moves; two chained hash aggregates (digest×shard cells → digest
    groups) then a one-row combiner. No joins, no windows."""
    from kairos_spark.exact import _round6_ratio_dec

    shard = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 11), 16, 10
        ).cast("long")
        % n_shards
    )
    cells = (
        df.select(F.md5(F.col(text_col)).alias("__d"), shard.alias("__sh"))
        .groupBy("__d", "__sh")
        .agg(F.count("*").alias("__m"))
    )
    intra = (
        F.col("__m").cast("decimal(38,0)")
        * (F.col("__m") - 1).cast("decimal(38,0)")
        / F.lit(2)
    ).cast("decimal(38,0)")
    grp = cells.groupBy("__d").agg(
        F.sum("__m").cast("long").alias("__n"),
        F.sum(intra).alias("__i"),
    )
    dup = grp.where(F.col("__n") >= 2)
    total = (
        F.col("__n").cast("decimal(38,0)")
        * (F.col("__n") - 1).cast("decimal(38,0)")
        / F.lit(2)
    ).cast("decimal(38,0)")
    agg = dup.agg(
        F.count("*").cast("long").alias("n_dup_groups"),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_dup_docs"),
        F.coalesce(F.sum("__i"), F.lit(0).cast("decimal(38,0)")).alias("__ip"),
        F.coalesce(F.sum(total), F.lit(0).cast("decimal(38,0)")).alias("__tp"),
    )
    return agg.select(
        F.lit(int(n_shards)).cast("long").alias("n_shards"),
        "n_dup_groups",
        "n_dup_docs",
        F.col("__ip").cast("long").alias("intra_pairs"),
        (F.col("__tp") - F.col("__ip")).cast("long").alias("cross_pairs"),
        F.when(
            F.col("__tp") > 0, _round6_ratio_dec(F.col("__ip"), F.col("__tp"))
        )
        .otherwise(F.lit(0.0))
        .alias("locality"),
    )


def cluster_quality_bias(
    clusters: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_cap: int = 4,
) -> DataFrame:
    """NEAR-dup-grain quality-bias table: per LSH cluster-size bucket
    (2…``size_cap``+; clusters are ≥ 2 by construction), how many
    clusters/docs land there, mean quality over ALL members, and mean
    quality of the keep-lowest-id representatives. The sibling of
    ``dup_quality_bias`` (exact digests) at the grain RefinedWeb-style
    pipelines argue actually matters: near-duplicate families are
    where boilerplate farms and template spam live, and the spread
    between mean_quality_all and mean_quality_kept is the measured
    value of the keep policy on near-dups — on exact dups it is zero
    by identity, HERE members genuinely differ.

    Quality values are exact 6dp recovered as integer micro-units so
    both means are ONE exact integer ratio each (the dup_quality_bias
    convention). Scale shape: cluster labels (short keys) aggregate to
    sizes; quality is the map-only projection joined on the doc id;
    the bucket table is ≤ size_cap−1 rows. The LSH/CC construction
    upstream is the banded scale path — this audit adds one hash join
    and two combiner aggregates on top."""
    from kairos_spark.exact import _round6_ratio_dec
    from kairos_spark.operators.text import quality_score

    lab = clusters.select(F.col("node").alias(id_col), "cluster_id")
    sizes = lab.groupBy("cluster_id").agg(
        F.count("*").alias("__s"), F.min(F.col(id_col)).alias("__keep")
    )
    qual = quality_score(docs, text_col, id_col).select(
        F.col(id_col),
        F.rint(F.col("quality") * F.lit(1_000_000.0))
        .cast("decimal(38,0)")
        .alias("__qu"),
    )
    j = lab.join(sizes, "cluster_id").join(qual, id_col)
    bucket = F.least(F.col("__s"), F.lit(size_cap)).cast("long")
    per = j.select(
        bucket.alias("cluster_size_bucket"),
        F.col("cluster_id"),
        F.col("__qu"),
        (F.col(id_col) == F.col("__keep")).alias("__is_keep"),
    )
    return per.groupBy("cluster_size_bucket").agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.count("*").cast("long").alias("n_docs"),
        _round6_ratio_dec(
            F.sum("__qu"),
            F.count("*").cast("decimal(38,0)") * F.lit(1_000_000),
        ).alias("mean_quality_all"),
        _round6_ratio_dec(
            F.sum(
                F.when(F.col("__is_keep"), F.col("__qu")).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ),
            F.greatest(
                F.sum(F.when(F.col("__is_keep"), 1).otherwise(0)), F.lit(1)
            ).cast("decimal(38,0)")
            * F.lit(1_000_000),
        ).alias("mean_quality_kept"),
    )


def cluster_diameter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float | None = None,
    threshold_num: int = 1,
    threshold_den: int = 5,
    max_cluster_size: int = 64,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Transitive-chaining audit over the LSH dedup clusters — the
    known failure mode of connected-component near-dup clustering
    (A~B and B~C force A with C even when A and C share nothing; at
    corpus scale one promiscuous template chains thousands of
    unrelated docs into a single "duplicate" cluster that a keep-one
    policy would then decimate). For every LSH cluster up to
    ``max_cluster_size`` members, computes the EXACT n-gram Jaccard of
    ALL member pairs — including pairs the LSH never proposed — and
    reports, per cluster SIZE band: cluster/pair counts, how many
    member pairs fall below the clustering threshold ("chained": the
    pair is together only by transitivity), the minimum pairwise
    similarity (the diameter, in similarity space) and the mean.

    Exactness: intersections/unions are exact integer counts off the
    distinct-shingle sets; "chained" compares the raw rational
    (``threshold_den``·|∩| < ``threshold_num``·|∪|, default 1/5 =
    the 0.2 LSH threshold) — no floats anywhere in the predicate;
    per-pair similarity is the ``_round6_ratio`` integer µ-value, so
    the size-band min and mean are exact integer folds
    (mean = Σµ / (10⁶·pairs) via the DECIMAL ratio).

    Scale shape: the candidate/CC stages are the shuffle-safe LSH
    pipeline; the all-pairs stage is quadratic ONLY within a cluster
    and is capped at ``max_cluster_size`` (Σ|c|² bounded, the semdedup
    precedent) — oversized clusters are by definition chained and are
    excluded from the pair fan-out rather than allowed to explode it.
    Shingles join back on (cluster, shingle); raw text never pairs.

    ``clusters`` (optional): a precomputed (node, cluster_id)
    assignment from the SAME LSH parameters — a production pipeline
    materializes the cluster assignment once and every audit reads it,
    instead of re-running candidates+CC per audit (VERDICT r10 #3;
    bench.py shares one construction this way). When provided, the
    LSH/CC stages are skipped and only the within-cluster audit
    runs."""
    # The float threshold (LSH candidate filter) and the exact rational
    # (chained-pair predicate) encode ONE value: derive the float from
    # the rational by default, and refuse a contradictory explicit pair
    # (ADVICE r10 — a silent mismatch would make chained_frac
    # inconsistent with the clustering it audits).
    if threshold is None:
        threshold = threshold_num / threshold_den
    elif abs(threshold - threshold_num / threshold_den) >= 1e-12:
        # hard error, not assert: stripped under `python -O` this
        # would silently run the audit against a clustering built at
        # a DIFFERENT threshold (the minhash_scurve ADVICE-r12 class)
        raise ValueError(
            f"threshold {threshold} != threshold_num/threshold_den "
            f"{threshold_num}/{threshold_den}"
        )
    if clusters is None:
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, n=n, num_hashes=num_hashes, bands=bands,
            threshold=threshold,
        )
        cc = connected_components(pairs)
    else:
        cc = clusters
    csize = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("size")
    )
    kept = cc.join(
        csize.where(F.col("size") <= max_cluster_size), "cluster_id"
    )
    sh = doc_shingles(df, text_col, id_col, n)
    sz = sh.groupBy(id_col).agg(F.count("*").cast("long").alias("__sz"))
    msh = kept.join(sh, kept.node == sh[id_col]).select(
        "cluster_id", F.col("node").alias("__m"), "shingle"
    )
    inter = (
        msh.alias("x")
        .join(
            msh.alias("y"),
            (F.col("x.cluster_id") == F.col("y.cluster_id"))
            & (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.__m") < F.col("y.__m")),
        )
        .groupBy(
            F.col("x.__m").alias("__ia"), F.col("y.__m").alias("__ib")
        )
        .agg(F.count("*").cast("long").alias("__it"))
    )
    mp = (
        kept.alias("p")
        .join(
            kept.alias("q"),
            (F.col("p.cluster_id") == F.col("q.cluster_id"))
            & (F.col("p.node") < F.col("q.node")),
        )
        .select(
            F.col("p.cluster_id").alias("cluster_id"),
            F.col("p.size").alias("size"),
            F.col("p.node").alias("__ia"),
            F.col("q.node").alias("__ib"),
        )
    )
    pj = (
        mp.join(inter, ["__ia", "__ib"], "left")
        .join(sz.select(F.col(id_col).alias("__ia"), F.col("__sz").alias("__sa")), "__ia")
        .join(sz.select(F.col(id_col).alias("__ib"), F.col("__sz").alias("__sb")), "__ib")
        .select(
            "cluster_id",
            "size",
            F.coalesce(F.col("__it"), F.lit(0)).cast("long").alias("__i"),
            (F.col("__sa") + F.col("__sb") - F.coalesce(F.col("__it"), F.lit(0)))
            .cast("long")
            .alias("__u"),
        )
    )
    per_pair = pj.select(
        "cluster_id",
        "size",
        F.floor(
            (F.lit(2_000_000) * F.col("__i") + F.col("__u"))
            / (F.lit(2) * F.col("__u"))
        ).cast("long").alias("__jmu"),
        (F.lit(threshold_den) * F.col("__i") < F.lit(threshold_num) * F.col("__u"))
        .cast("long")
        .alias("__ch"),
    )
    per_cluster = per_pair.groupBy("cluster_id", "size").agg(
        F.count("*").cast("long").alias("__np"),
        F.sum("__ch").cast("long").alias("__nc"),
        F.min("__jmu").cast("long").alias("__minj"),
        F.sum("__jmu").cast("long").alias("__sumj"),
    )
    return per_cluster.groupBy("size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("__np").cast("long").alias("n_pairs"),
        F.sum("__nc").cast("long").alias("chained_pairs"),
        _round6_ratio(F.sum("__nc"), F.sum("__np")).alias("chained_frac"),
        (F.min("__minj") / F.lit(1_000_000.0)).alias("min_sim"),
        _round6_ratio_dec(
            F.sum("__sumj").cast("decimal(38,0)"),
            F.lit(1_000_000).cast("decimal(38,0)") * F.sum("__np").cast("decimal(38,0)"),
        ).alias("mean_sim"),
    )


def chunk_overlap_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    max_occ: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Partial-overlap profile at CHUNK grain: split every doc into
    non-overlapping ``chunk_tokens``-token windows, digest each, and
    histogram doc pairs by how much of the smaller doc's chunk set
    they share — the detector for partial duplication that doc-grain
    exact dedup misses and span-coverage (``duplicated_spans``) does
    not attribute to PAIRS: syndicated articles with swapped intros,
    re-posted docs with appended boilerplate, concatenated compilation
    pages. The Dolma/RefinedWeb-style middle ground between paragraph
    dedup (too fine for attribution) and MinHash (whole-doc grain).

    Output per overlap-decile bucket (floor(10·shared/min_chunks),
    10 = the smaller doc fully contained): pair count, total shared
    chunks, distinct docs involved — ALL exact integers, no rounding
    surface at all. Digests shared by more than ``max_occ`` docs are
    stop-listed BEFORE pairing (template/boilerplate chunks would
    otherwise quadratically explode the join — the winnowing guard);
    pairs below ``min_shared`` shared chunks are noise and dropped.

    Scale shape: map-only chunking (one explode per doc, ≤ len/w
    rows), digest-key equi-join with the stop-digest cap applied
    first, pair aggregation with map-side combine. Raw text never
    joins; only 16-byte digests and counts shuffle."""
    toks = F.filter(
        word_tokens(F.col(text_col)), lambda x: x != ""
    )
    base = df.select(
        F.col(id_col).alias("__id"), toks.alias("__t")
    ).where(F.size("__t") > 0)
    idx = F.sequence(
        F.lit(0), F.floor((F.size("__t") - 1) / F.lit(chunk_tokens)).cast("int")
    )
    chunks = base.select(
        "__id",
        F.explode(idx).alias("__i"),
        F.col("__t"),
    ).select(
        "__id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("__t"), F.col("__i") * chunk_tokens + 1, chunk_tokens)
            )
        ).alias("__d"),
    ).distinct()
    occ = chunks.groupBy("__d").agg(F.count("*").alias("__n"))
    kept = chunks.join(
        occ.where(F.col("__n") <= max_occ).select("__d"), "__d"
    )
    sizes = chunks.groupBy("__id").agg(F.count("*").cast("long").alias("__m"))
    shared = (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("x.__d") == F.col("y.__d"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .groupBy(F.col("x.__id").alias("__a"), F.col("y.__id").alias("__b"))
        .agg(F.count("*").cast("long").alias("__s"))
        .where(F.col("__s") >= min_shared)
    )
    pairs = (
        shared.join(sizes.select(F.col("__id").alias("__a"), F.col("__m").alias("__ma")), "__a")
        .join(sizes.select(F.col("__id").alias("__b"), F.col("__m").alias("__mb")), "__b")
        .select(
            "__a",
            "__b",
            "__s",
            F.expr("(10 * __s) div least(__ma, __mb)").cast("long").alias("bucket"),
        )
    )
    per_bucket = pairs.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("__s").cast("long").alias("shared_chunks"),
    )
    # distinct docs per bucket via explode→distinct→count: a
    # collect_list of endpoints would hold a whole bucket's pair list
    # in one aggregation buffer — fine at sf0.1, wrong at 100 TB
    docs = (
        pairs.select("bucket", F.explode(F.array("__a", "__b")).alias("__doc"))
        .distinct()
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    return per_bucket.join(docs, "bucket")


def dup_degree_spectrum(pairs: DataFrame) -> DataFrame:
    """Degree count-of-counts of the near-dup CANDIDATE graph — the
    pre-clustering hub detector: a healthy crawl's dup graph has a
    fast-decaying degree spectrum (most docs pair with 1-3 near-dups);
    a fat tail or a high-degree spike is a template/boilerplate hub
    that will chain clusters (see ``cluster_diameter``) and deserves a
    stop-list BEFORE transitive closure is ever run. Complements
    ``dup_cluster_sizes`` (post-closure) by reading the raw pair
    graph, where the fix is still cheap.

    Input: an (id_a, id_b) pair list (a < b, deduplicated). Output
    (degree, n_nodes) — all exact integers, no rounding surface.

    Scale shape: one union projection, two chained combiner
    aggregates ((node) then (degree)); only ids and counts shuffle."""
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_nodes")
    )


def url_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    pattern: str = r"https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?",
) -> DataFrame:
    """RefinedWeb-style URL-grain deduplication audit (Penedo et al.
    2023, arXiv:2306.01116 §3.2: URL dedup runs FIRST, before any
    content processing, because re-crawls and aggregator mirrors are
    the cheapest duplicates to kill). Each document's canonical URL is
    its first extracted link, NORMALIZED (scheme stripped, lowercased,
    trailing slashes removed); the keep rule is global min-id per
    normalized URL (the crawl-order "first fetch wins"). Per group:
    total docs, docs carrying a URL, distinct normalized URLs, docs a
    URL-grain dedup would DROP (non-keepers), and the dropped
    fraction — the number that says how much of a source is re-crawl
    echo before any expensive content dedup runs.

    Engine notes: the URL charset ``[A-Za-z0-9.-/_]`` is pure ASCII by
    construction, so plain lower() is safe (the İ/Σ SpecialCasing
    hazard needs non-ASCII input); the trailing-slash strip anchors
    with ``\\z`` on the Spark side (Java ``$`` also matches before a
    final newline — r8 lesson) and ``$`` in RE2 oracles. dup_frac is
    an exact integer ratio; groups join a broadcast spine so no group
    row is ever NULL.

    Scale shape: extraction is map-side; the first-fetch aggregate and
    its join-back shuffle NORMALIZED-URL-grain rows (short strings,
    combiner-friendly); group stats are a |groups|-row aggregate. Raw
    text never shuffles."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("grp"),
        F.regexp_extract(F.col(text_col), pattern, 0).alias("__u0"),
    )
    urls = base.where(F.col("__u0") != "").select(
        "__id",
        "grp",
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("__u0")), "^https?://", ""),
            r"/+\z",
            "",
        ).alias("__url"),
    )
    first = urls.groupBy("__url").agg(F.min("__id").alias("__keep"))
    j = urls.join(first, "__url")
    per = j.groupBy("grp").agg(
        F.count("*").cast("long").alias("__ud"),
        F.count_distinct(F.col("__url")).cast("long").alias("__uu"),
        F.sum(F.when(F.col("__id") != F.col("__keep"), 1).otherwise(0))
        .cast("long")
        .alias("__dd"),
    )
    ad = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return ad.join(F.broadcast(per), "grp", "left").select(
        "grp",
        "n_docs",
        F.coalesce(F.col("__ud"), F.lit(0)).cast("long").alias("url_docs"),
        F.coalesce(F.col("__uu"), F.lit(0)).cast("long").alias("uniq_urls"),
        F.coalesce(F.col("__dd"), F.lit(0)).cast("long").alias("dup_docs"),
        _round6_ratio(
            F.coalesce(F.col("__dd"), F.lit(0)), F.col("n_docs")
        ).alias("dup_frac"),
    )


def doc_disposition(
    df: DataFrame,
    quality_threshold: float = 0.5,
    blocked_phrases: tuple = ("All Rights Reserved", "Privacy Policy"),
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Dolma-style fused pipeline audit (Soldaini et al. 2024,
    arXiv:2402.00159: taggers + dedup + mixer resolved into ONE
    per-document disposition): every doc gets exactly one label in
    pipeline priority order — ``dup`` (not the min-id keeper of its
    exact content digest), else ``low_quality`` (composite quality
    below ``quality_threshold``), else ``blocked`` (carries a
    C4-blocklist phrase), else ``keep`` — and the output is the
    (group, disposition) histogram with exact per-group fractions.
    This is the one table a pipeline owner reads before shipping a
    mix: how much of each source dies, and to WHICH stage (the same
    doc dying to dedup vs toxicity implies opposite fixes).

    Composes the already-verified stages (``exact_dedup``'s digest
    keep rule, ``text.quality_score``, the blocklist contains-scan) in
    one DataFrame plan — Catalyst fuses the map-side flags and prunes
    text after the digest/stats projections. quality compares on the
    ROUND-6 score (engine-identical by quality_score's contract).

    Scale shape: digest keeper = one digest-grain aggregate + a
    digest-grain join-back (the exact_dedup shape); quality joins at
    doc grain; the histogram is |groups|·4 rows. Raw text shuffles
    only as 32-char digests."""
    from kairos_spark.operators.text import quality_score

    blk = F.lit(False)
    for p in blocked_phrases:
        blk = blk | F.col("__t").contains(p)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("grp"),
        F.col(text_col).alias("__t"),
    ).select("__id", "grp", F.md5("__t").alias("__d"), blk.alias("__blk"))
    keep = base.groupBy("__d").agg(F.min("__id").alias("__keep"))
    qs = quality_score(df, text_col=text_col, id_col=id_col).select(
        F.col(id_col).alias("__id"), "quality"
    )
    j = base.join(keep, "__d").join(qs, "__id")
    disp = (
        F.when(F.col("__id") != F.col("__keep"), F.lit("dup"))
        .when(F.col("quality") < F.lit(quality_threshold), F.lit("low_quality"))
        .when(F.col("__blk"), F.lit("blocked"))
        .otherwise(F.lit("keep"))
    )
    per = j.groupBy("grp", disp.alias("disposition")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("__n")
    )
    return per.join(F.broadcast(tot), "grp").select(
        "grp",
        "disposition",
        "n_docs",
        _round6_ratio(F.col("n_docs"), F.col("__n")).alias("frac"),
    )


def cross_shard_novelty(
    df: DataFrame,
    shard_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest novelty curve: shard the corpus by id order
    (``shard = id div shard_size`` — the crawl-batch stand-in), digest
    every doc, and report per shard how much of it is content already
    seen in ANY earlier shard. This is the number that decides whether
    an incremental pipeline needs cross-batch dedup state at all (the
    ``dedup_incremental`` anti-join's value measured before building
    it) and how fast a feed goes stale: a healthy crawl holds
    stale_frac low and flat; a feed that re-serves its archive shows
    it climbing toward 1. Within-shard duplicates deliberately do NOT
    count as stale — they are the local exact-dedup's job; stale means
    the digest's FIRST shard is strictly earlier.

    Per shard: n_docs, stale_docs (first-seen earlier), novel_digests
    (digests debuting here), stale_frac (exact integer ratio).

    Scale shape: one digest-grain first-occurrence aggregate (min
    shard) + a digest-grain join-back — the exact_dedup shape; the
    shard histogram is |shards| rows. Raw text never shuffles."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"CAST({id_col} AS BIGINT) div {shard_size}").alias("__sh"),
        F.md5(F.col(text_col)).alias("__d"),
    )
    firsts = base.groupBy("__d").agg(F.min("__sh").alias("__fs"))
    j = base.join(firsts, "__d")
    return j.groupBy(F.col("__sh").alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__fs") < F.col("__sh"), 1).otherwise(0))
        .cast("long")
        .alias("stale_docs"),
        F.count_distinct(
            F.when(F.col("__fs") == F.col("__sh"), F.col("__d"))
        )
        .cast("long")
        .alias("novel_digests"),
        _round6_ratio(
            F.sum(F.when(F.col("__fs") < F.col("__sh"), 1).otherwise(0)),
            F.count("*"),
        ).alias("stale_frac"),
    )


def near_dup_family_agreement(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.2,
    max_hamming: int = 3,
    bits: int = 60,
    blocks: int = 4,
) -> DataFrame:
    """Cross-family near-dup agreement audit: the pair sets proposed by
    the corpus's two cheap near-dup detectors — MinHash-LSH (set-
    resemblance family: Broder 1997) and SimHash (random-projection
    family: Charikar 2002, the Manku-Jain-Sarma web-dedup setup) — are
    full-outer joined and summarized as both / minhash-only /
    simhash-only counts plus their set-Jaccard agreement. The two
    families fail differently (LSH misses short docs where shingle
    sets are tiny; SimHash misses reorderings that preserve term bags
    but break shingles), so LOW agreement on a corpus is the signal to
    run both (or to distrust a single-family dedup pass), and a DROP
    in agreement between crawls is a content-shift alarm no
    single-family metric shows. Composes the production operators
    verbatim — same parameters, same md5 hash families — so it audits
    the detectors actually deployed, not reimplementations.

    Output (one row): both_pairs, minhash_only, simhash_only,
    agreement = both/(both + only_a + only_b) as an exact integer
    ratio (-1.0 sentinel when NO pair is proposed by either family).

    Scale shape: both inputs are the banded/blocked candidate
    pipelines (never all-pairs); the audit adds one pair-grain
    full-outer hash join + a 1-row aggregate."""
    mh = minhash_lsh_pairs(
        df, text_col, id_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    ).select("id_a", "id_b", F.lit(True).alias("__mh"))
    sh = simhash_near_pairs(
        df, text_col, id_col, max_hamming=max_hamming, bits=bits,
        blocks=blocks,
    ).select("id_a", "id_b", F.lit(True).alias("__sh"))
    u = mh.join(sh, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("__mh"), F.lit(False)).alias("__mh"),
        F.coalesce(F.col("__sh"), F.lit(False)).alias("__sh"),
    )
    agg = u.agg(
        F.sum(F.when(F.col("__mh") & F.col("__sh"), 1).otherwise(0))
        .cast("long")
        .alias("both_pairs"),
        F.sum(F.when(F.col("__mh") & ~F.col("__sh"), 1).otherwise(0))
        .cast("long")
        .alias("minhash_only"),
        F.sum(F.when(~F.col("__mh") & F.col("__sh"), 1).otherwise(0))
        .cast("long")
        .alias("simhash_only"),
    )
    den = (
        F.col("both_pairs") + F.col("minhash_only") + F.col("simhash_only")
    )
    return agg.select(
        F.coalesce(F.col("both_pairs"), F.lit(0)).cast("long").alias("both_pairs"),
        F.coalesce(F.col("minhash_only"), F.lit(0)).cast("long").alias("minhash_only"),
        F.coalesce(F.col("simhash_only"), F.lit(0)).cast("long").alias("simhash_only"),
        F.when(den > 0, _round6_ratio(F.col("both_pairs"), den))
        .otherwise(F.lit(-1.0))
        .alias("agreement"),
    )


def source_containment(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source n-gram containment matrix — the "which feed
    scraped which" detector. For every unordered source pair sharing
    ≥ 1 char-``n``-gram: the shared-gram count and the containment
    coefficient |A∩B| / min(|A|,|B|) (Broder's containment — the right
    asymmetric-size measure: a small feed fully copied from a big one
    scores ~1 where Jaccard would hide it). Complements
    ``cross_source_dup`` (EXACT digest flow — misses edited mirrors)
    and ``source_similarity`` (TF-IDF term profiles — fires on
    same-topic sources with zero copying); containment at gram grain
    is the near-dup provenance signal between them. Same shingle
    construction as the MinHash family (``doc_shingles``).

    Output: (grp_a, grp_b, n_shared, size_a, size_b, containment),
    grp_a < grp_b, zero-overlap pairs omitted on both engines.

    Scale shape: (source, gram) distinct is gram-grain with map-side
    combine; the pair step joins ON THE GRAM KEY (fan-out per gram
    bounded by |sources|², a constant), never all-pairs over docs;
    sizes join back at |sources| grain via broadcast."""
    sh = doc_shingles(df, text_col, id_col, n)
    src = df.select(F.col(id_col), F.col(group_col).alias("grp"))
    sg = sh.join(src, id_col).select("grp", "shingle").distinct()
    sz = sg.groupBy("grp").agg(F.count("*").cast("long").alias("__z"))
    a, b = sg.alias("a"), sg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    za = sz.select(F.col("grp").alias("grp_a"), F.col("__z").alias("size_a"))
    zb = sz.select(F.col("grp").alias("grp_b"), F.col("__z").alias("size_b"))
    return (
        inter.join(F.broadcast(za), "grp_a")
        .join(F.broadcast(zb), "grp_b")
        .select(
            "grp_a",
            "grp_b",
            "n_shared",
            "size_a",
            "size_b",
            _round6_ratio(
                F.col("n_shared"), F.least(F.col("size_a"), F.col("size_b"))
            ).alias("containment"),
        )
    )


def dup_run_lengths(
    df: DataFrame,
    shard_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contiguous-duplicate run detector — the batch-replay signature.
    A feed that re-serves an archive or double-flushes an upload
    produces RUNS of identical content at ADJACENT ids; scattered
    organic duplicates do not. Histogram of run lengths (runs ≥ 2)
    over id order: a heavy tail here says the dedup problem is
    ingestion plumbing, not crawl overlap — the opposite fix from
    what ``cross_shard_novelty``'s diffuse staleness implies.

    Runs are detected WITHIN id-order shards of ``shard_size`` (the
    ordering window partitions by ``id div shard_size``, never
    globally): a run crossing a shard boundary counts as two runs —
    the documented precision trade that keeps the window state
    bounded at shard size instead of corpus size (the corpus-row-grain
    single-partition window is this repo's named anti-pattern).

    Output: (run_len, n_runs), run_len ≥ 2.

    Scale shape: one digest projection, one shard-partitioned window
    pass, one histogram aggregate; text never shuffles (digests do)."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"CAST({id_col} AS BIGINT) div {shard_size}").alias("__sh"),
        F.md5(F.col(text_col)).alias("__d"),
    )
    w = Window.partitionBy("__sh").orderBy("__id")
    runs = base.select(
        "__sh",
        "__id",
        "__d",
        F.when(
            F.lag("__d").over(w).isNull()
            | (F.lag("__d").over(w) != F.col("__d")),
            1,
        )
        .otherwise(0)
        .alias("__new"),
    ).select(
        "__sh",
        "__d",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__run"),
    )
    lens = runs.groupBy("__sh", "__run").agg(
        F.count("*").cast("long").alias("run_len")
    )
    return (
        lens.where(F.col("run_len") >= 2)
        .groupBy("run_len")
        .agg(F.count("*").cast("long").alias("n_runs"))
    )


def _shared_shingles(
    capped: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The bounded audits' exact-Jaccard inputs over a capped doc set:
    per doc pair (id_a < id_b) sharing any n-gram its shared count
    ``__shn``, and each doc's shingle-set size as ``(id_a, __za)`` and
    ``(id_b, __zb)``. Every doc has >= 1 shingle (empty text yields the
    '' shingle), so |∪| = __za + __zb - __shn is never 0."""
    sh = doc_shingles(capped, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    shared = (
        sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        .groupBy(
            F.col(f"sa.{id_col}").alias("id_a"),
            F.col(f"sb.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("__shn"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__za"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__zb"))
    return shared, za, zb


def minhash_scurve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    configs: tuple = ((32, 1), (16, 2), (8, 4), (4, 8)),
    sample_docs: int = 64,
) -> DataFrame:
    """Empirical MinHash banding S-curve — the (bands, rows) tuning
    companion to ``minhash_calibration`` (which audits the ESTIMATOR;
    this audits the CANDIDATE GATE). For every factorization b·r =
    num_hashes, measure P(pair becomes an LSH candidate | exact
    Jaccard bin) over a bounded all-pairs doc sample: the measured
    version of the 1−(1−J^r)^b curve (Leskovec/Rajaraman/Ullman, MMDS
    ch. 3), on the corpus's real shingle distribution instead of the
    independence idealization. Read it to pick the (b, r) whose
    empirical knee sits at the dedup threshold — the table that says
    "16×2 fires on 0.3-Jaccard pairs but 4×8 misses 0.7s" BEFORE a
    full LSH run commits to a config.

    A pair is a candidate under (b, r) iff some band of r consecutive
    signature components agrees completely — exactly the collision
    rule of ``minhash_lsh_pairs``'s banded buckets, evaluated here
    directly on the signature arrays so every config reuses ONE
    signature pass. j_bin = floor(10·J) clamped to 9, from the exact
    integer shingle ratio (10·|∩| div |∪| — integer division, no
    float boundary).

    Output: (bands, rows_per_band, j_bin, n_pairs, n_cand, cand_rate),
    cand_rate an exact integer ratio.

    Scale shape: a constant-cost bounded audit (the knn_stability
    id-cap pattern): the ``sample_docs`` lowest-id documents (one
    top-k), their signatures (map-only), one all-pairs join bounded at
    sample_docs²/2 rows, and the exact-Jaccard check over the same
    capped set. Never run it uncapped — P(candidate | J) estimates
    need ~10³ pairs, not a corpus quadratic."""
    capped = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(id_col)
        .limit(int(sample_docs))
    )
    sig = minhash_signatures(capped, text_col, id_col, n, num_hashes)
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.zip_with("a.sig", "b.sig", lambda x, y: x == y).alias("__eq"),
    )
    # exact Jaccard bin over the same capped set
    shared, za, zb = _shared_shingles(capped, text_col, id_col, n)
    binned = (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            "__eq",
            F.coalesce(F.col("__shn"), F.lit(0)).alias("__shn"),
            (F.col("__za") + F.col("__zb") - F.coalesce(F.col("__shn"), F.lit(0))).alias("__uni"),
        )
        .withColumn(
            # integer division keeps the bin boundary off the float
            # grid entirely (the midpoint-class rule applied to bins)
            "j_bin",
            F.least(F.expr("(10 * __shn) div __uni"), F.lit(9)).cast("long"),
        )
    )
    per_cfg = []
    for bands, rows in configs:
        if bands * rows != num_hashes:
            # hard error, not assert: under `python -O` an assert is
            # stripped and a non-factorizing config would silently
            # slice past the signature array (ADVICE r12)
            raise ValueError(
                f"(bands={bands}, rows={rows}) does not factorize "
                f"num_hashes={num_hashes}"
            )
        cand = F.exists(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda j: F.forall(
                F.slice(F.col("__eq"), j * F.lit(rows) + F.lit(1), F.lit(rows)),
                lambda v: v,
            ),
        )
        per_cfg.append(
            binned.select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                "j_bin",
                F.when(cand, 1).otherwise(0).alias("__c"),
            )
        )
    allc = per_cfg[0]
    for frame in per_cfg[1:]:
        allc = allc.unionByName(frame)
    return allc.groupBy("bands", "rows_per_band", "j_bin").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("__c").cast("long").alias("n_cand"),
        _round6_ratio(F.sum("__c"), F.count("*")).alias("cand_rate"),
    )


def sig_size_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    sizes: tuple = (16, 32, 64),
    sample_docs: int = 64,
) -> DataFrame:
    """MinHash estimator accuracy vs SIGNATURE SIZE — the num_hashes
    tuning axis, completing the three-way calibration family:
    ``minhash_calibration`` audits one fixed estimator,
    ``minhash_scurve`` sweeps the banding (b, r) axis, and this sweeps
    H ∈ ``sizes`` — the empirical version of the Var ≈ J(1−J)/H
    binomial bound (MMDS ch. 3) on the corpus's real shingle
    distribution. Per (sig_size, exact-Jaccard bin): pair count, mean
    absolute error, signed bias, and worst-case error of the
    H-component estimate vs the exact shingle Jaccard — the table
    that says whether 16 hashes already suffice at the corpus's dup
    profile or 64 are still underpowered near the threshold.

    One 64-component signature is computed once; the H-sized
    estimator is its first-H prefix (the (a + i·b) family nests by
    construction), so the sweep costs ONE signature pass.

    Exactness: each pair's error (m·u − s·H)/(H·u) is an exact
    rational evaluated as one int64-exact double division, then
    quantized on the 1e-12 grid with sign·floor(|x|·10¹² + 0.5) (the
    embedding_moments quantizer — engine-identical while |x|·10¹² <
    2⁵³; |err| ≤ 1). The per-bin aggregates are then exact integer
    ratios over the quantized longs via the DECIMAL(38,0) helpers
    (Σ|q| reaches ~2·10¹⁵ — past the BIGINT·2e6 ceiling).

    Output: (sig_size, j_bin, n_pairs, mae, bias, max_abs_err).

    Scale shape: identical constant-cost bounded audit as
    minhash_scurve (sample_docs lowest ids via one top-k; all-pairs
    bounded at sample_docs²/2; one signature aggregate; one shingle
    self-join over the capped set)."""
    max_h = max(int(h) for h in sizes)
    capped = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(id_col)
        .limit(int(sample_docs))
    )
    sig = minhash_signatures(capped, text_col, id_col, n, max_h)
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.zip_with("a.sig", "b.sig", lambda x, y: x == y).alias("__eq"),
    )
    shared, za, zb = _shared_shingles(capped, text_col, id_col, n)
    base = (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "__eq",
            F.coalesce(F.col("__shn"), F.lit(0)).alias("__shn"),
            (
                F.col("__za") + F.col("__zb") - F.coalesce(F.col("__shn"), F.lit(0))
            ).alias("__uni"),
        )
        .withColumn(
            "j_bin",
            F.least(F.expr("(10 * __shn) div __uni"), F.lit(9)).cast("long"),
        )
    )
    per_h = []
    for h in sizes:
        h = int(h)
        m = F.size(F.filter(F.slice(F.col("__eq"), 1, h), lambda v: v))
        num = (m.cast("long") * F.col("__uni") - F.col("__shn") * F.lit(h)).alias(
            "__num"
        )
        den = (F.lit(h) * F.col("__uni")).alias("__den")
        per_h.append(
            base.select(
                F.lit(h).cast("long").alias("sig_size"), "j_bin", num, den
            ).select(
                "sig_size",
                "j_bin",
                # sign·floor(|num/den|·10^12 + 0.5): num/den is one
                # int64-exact double division — bit-identical in both
                # engines; the floor form is the engine-agreed tie rule
                F.when(
                    F.col("__num") >= 0,
                    F.floor(
                        (F.col("__num") / F.col("__den"))
                        * F.lit(1_000_000_000_000.0)
                        + F.lit(0.5)
                    ),
                )
                .otherwise(
                    -F.floor(
                        (-F.col("__num") / F.col("__den"))
                        * F.lit(1_000_000_000_000.0)
                        + F.lit(0.5)
                    )
                )
                .cast("long")
                .alias("__q"),
            )
        )
    allq = per_h[0]
    for frame in per_h[1:]:
        allq = allq.unionByName(frame)
    from kairos_spark.exact import (
        _round6_ratio_dec as _rdec,
        _round6_ratio_dec_signed as _rdecs,
    )

    grid = F.lit(1_000_000_000_000)
    return allq.groupBy("sig_size", "j_bin").agg(
        F.count("*").cast("long").alias("n_pairs"),
        _rdec(F.sum(F.abs(F.col("__q"))), F.count("*") * grid).alias("mae"),
        _rdecs(F.sum("__q"), F.count("*") * grid).alias("bias"),
        _rdec(F.max(F.abs(F.col("__q"))), grid).alias("max_abs_err"),
    )


def domain_mix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    pattern: str = r"https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?",
) -> DataFrame:
    """Per-source top-level-domain mix from each document's first
    extracted URL — the provenance table next to ``url_dedup`` (which
    asks "how much is re-crawl echo"; this asks "WHERE does a source's
    content come from"). A 'web' feed whose links concentrate on one
    TLD is a mislabeled single-site dump; a TLD mix shift between
    snapshots is a crawl-frontier change — both caught here before
    content-level stats move (the Common Crawl / C4 host-distribution
    tables reduced to TLD grain).

    Per (source, tld): docs whose first URL has that TLD, distinct
    hosts behind it, and the share of the source's URL-carrying docs —
    an exact integer ratio; the denominator is > 0 by construction
    (rows exist only where URLs do).

    Engine notes: the URL/host charset is pure ASCII by construction
    so plain lower() is safe; the TLD is everything after the host's
    last '.' (substring_index Spark-side, a `[^.]*$`-style RE2 tail
    extract in the oracle — `$` is \\z-strict in RE2).

    Scale shape: extraction is map-side; one (source, tld, host)
    aggregate with combiner; source totals are a |sources|-row
    broadcast join-back. Raw text never shuffles."""
    base = df.select(
        F.col(group_col).alias("grp"),
        F.regexp_extract(F.col(text_col), pattern, 0).alias("__u0"),
    )
    hosts = base.where(F.col("__u0") != "").select(
        "grp",
        F.lower(
            F.regexp_extract(F.col("__u0"), r"https?://([A-Za-z0-9.-]+)", 1)
        ).alias("__host"),
    )
    tld = hosts.withColumn("tld", F.substring_index(F.col("__host"), ".", -1))
    per = tld.groupBy("grp", "tld").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct(F.col("__host")).cast("long").alias("n_hosts"),
    )
    tot = per.groupBy("grp").agg(F.sum("n_docs").alias("__tot"))
    return per.join(F.broadcast(tot), "grp").select(
        "grp",
        "tld",
        "n_docs",
        "n_hosts",
        _round6_ratio(F.col("n_docs"), F.col("__tot")).alias("share"),
    )


def dump_overlap(
    df: DataFrame,
    n_dumps: int = 4,
    block: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-snapshot pair overlap matrix — the cross-dump dedup
    measurement of RefinedWeb (Penedo et al. 2023 §3.3 measured URL
    and content overlap ACROSS CommonCrawl dumps before deciding to
    dedup globally rather than per-dump): partition the corpus into
    ``n_dumps`` id-order snapshots (block-interleaved so every dump
    spans the whole id range — ``dump = (id div block) % n_dumps``,
    the crawl-batch stand-in), digest every doc, and report for each
    dump PAIR how much content they share. ``cross_shard_novelty`` is
    the time-ordered CURVE (how fast a feed goes stale); this is the
    pairwise MATRIX (WHICH snapshots re-serve each other) — the
    number that decides per-dump vs global dedup state.

    Output one row per unordered pair (dump_a < dump_b): (dump_a,
    dump_b, n_a, n_b, shared, jaccard) with n_* = distinct digests
    per dump, shared = digests present in both, jaccard the exact
    integer ratio shared/(n_a+n_b-shared); all pairs present (zeros,
    never missing rows), 0.0 jaccard sentinel for empty unions.

    Scale shape: one distinct to (dump, digest) grain, then a
    digest-key equi-join whose per-digest fan-out is bounded by
    n_dumps (each digest appears at most once per dump); sizes
    broadcast back onto the |pairs|-row spine. Raw text never
    shuffles; no cartesian anywhere."""
    if n_dumps < 2:
        raise ValueError(f"n_dumps must be >= 2, got {n_dumps}")
    base = (
        df.select(
            F.expr(
                f"(CAST({id_col} AS BIGINT) div {int(block)}) % {int(n_dumps)}"
            ).alias("__dp"),
            F.md5(F.col(text_col)).alias("__d"),
        )
        .distinct()
    )
    sizes = base.groupBy("__dp").agg(F.count("*").alias("__n"))
    a = base.select(F.col("__dp").alias("dump_a"), "__d")
    b = base.select(F.col("__dp").alias("dump_b"), "__d")
    shared = (
        a.join(b, "__d")
        .where(F.col("dump_a") < F.col("dump_b"))
        .groupBy("dump_a", "dump_b")
        .agg(F.count("*").alias("__sh"))
    )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(x, y) for x in range(n_dumps) for y in range(x + 1, n_dumps)],
        "dump_a long, dump_b long",
    )
    out = (
        spine.join(shared, ["dump_a", "dump_b"], "left")
        .join(
            F.broadcast(sizes.select(F.col("__dp").alias("dump_a"), F.col("__n").alias("__na"))),
            "dump_a",
            "left",
        )
        .join(
            F.broadcast(sizes.select(F.col("__dp").alias("dump_b"), F.col("__n").alias("__nb"))),
            "dump_b",
            "left",
        )
        .select(
            "dump_a",
            "dump_b",
            F.coalesce(F.col("__na"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("__nb"), F.lit(0)).cast("long").alias("n_b"),
            F.coalesce(F.col("__sh"), F.lit(0)).cast("long").alias("shared"),
        )
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("shared")
    return out.select(
        "dump_a",
        "dump_b",
        "n_a",
        "n_b",
        "shared",
        _round6_ratio(F.col("shared"), F.greatest(uni, F.lit(1))).alias(
            "jaccard"
        ),
    ).orderBy("dump_a", "dump_b")


def simhash_radius_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 5,
    bits: int = 60,
    blocks: int = 6,
) -> DataFrame:
    """SimHash Hamming-radius calibration sweep — the threshold axis
    of :func:`simhash_near_pairs` the way ``minhash_scurve`` is the
    banding axis of MinHash-LSH (Manku et al. 2007 §3 picked k=3 for
    64-bit web SimHash from exactly this curve): per radius
    r in [0, max_hamming], how many candidate pairs sit at Hamming
    distance exactly r and cumulatively at <= r. Read it to pick the
    dedup threshold: the radius where cum_pairs inflects from
    near-dup mass into the random-pair background is the cut; a
    corpus whose curve explodes at r=2 needs a tighter fingerprint,
    not a looser threshold.

    The block trick stays EXACT (max_hamming < blocks enforced —
    a pair within Hamming r < blocks must agree exactly on >= 1 of
    the ``blocks`` fingerprint segments), so the oracle brute-forces
    all pairs and must agree bit-for-bit.

    Output one row per radius (zeros kept): (radius, n_pairs,
    cum_pairs).

    Scale shape: fingerprints are one map-side pass + per-doc
    aggregate; candidates come from segment-value groupBys (never an
    all-pairs join); the histogram is a |radii|-row aggregate and the
    cumulative window runs over those few rows only."""
    if max_hamming >= blocks:
        raise ValueError(
            f"block trick exact only for max_hamming < blocks "
            f"(got {max_hamming} >= {blocks})"
        )
    if bits % blocks != 0:
        raise ValueError(f"blocks={blocks} must divide bits={bits}")
    seg_bits = bits // blocks
    # materialize fingerprints before the self-join: the 60-aggregate
    # simhash pass otherwise recomputes on BOTH join sides (measured
    # 34 s -> ~4 s at sf0.1); one long per doc, trivially bounded
    sh = simhash(df, text_col, id_col, bits).localCheckpoint(eager=True)
    # LONG segment keys (block index in the high bits) instead of
    # "b:val" strings, and an explicitly BROADCAST build side under the
    # bounded-frame gate — the r13-optimization fixes shared with
    # simhash_near_pairs (see its docstring): the checkpointed banded
    # frame carries no stats, so the planner otherwise alternates
    # between broadcast (fast) and sort-merge, and sort-merge
    # concentrates the degenerate all-zero high-bit segment (every
    # pair, when the token hash is narrower than ``bits``) into ONE
    # task — the bench entry read 3-17 s run-to-run; broadcast pins
    # the fast plan (measured 3.3 s → 1.9 s steady at sf0.1).
    segments = _simhash_segments(blocks, seg_bits)
    banded = sh.select(
        F.col(id_col), "simhash", F.posexplode(segments).alias("__j", "seg")
    )
    # round-robin repartition of the PROBE side: the banded frame is
    # tiny (docs x blocks rows) so AQE coalesces it to ~1 partition,
    # but the segment join fans out ~500x on hot buckets and the whole
    # join output would then evaluate in ONE task (measured 35 s in
    # the filter+agg stage at sf0.1; ~3 s parallel). Round-robin, not
    # hash-by-seg: a hot segment value must SPREAD, not co-locate.
    par = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    probe = banded.repartition(par)
    a, b = probe.alias("a"), banded.alias("b")
    if sh.count() * blocks <= 5_000_000:
        b = F.broadcast(b)
    joined = a.join(
        b,
        (F.col("a.seg") == F.col("b.seg"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col("a.simhash").alias("h_a"),
        F.col("b.simhash").alias("h_b"),
        F.col("a.__j").alias("__j"),
    )
    # first-matching-segment attribution instead of dropDuplicates: a
    # pair found at segment j counts ONLY if no earlier segment also
    # matches, so every pair is counted exactly once with NO
    # candidate-pair dedup shuffle. The test is a STATIC unrolled OR
    # over (blocks-1) literal-shift comparisons on h_a XOR h_b — plain
    # whole-stage-codegen arithmetic per joined row (a higher-order
    # exists() here ran interpreted and was 3x SLOWER than the
    # dropDuplicates it replaced; measured 19.5 s dedup / 57 s HOF /
    # re-benched after this form)
    xor_h = F.col("h_a").bitwiseXOR(F.col("h_b"))
    dup_earlier = F.lit(False)
    for jp in range(blocks - 1):
        seg_match = (
            F.shiftright(xor_h, jp * seg_bits).bitwiseAND(
                F.lit((1 << seg_bits) - 1)
            )
            == 0
        )
        dup_earlier = dup_earlier | (
            (F.lit(jp) < F.col("__j")) & seg_match
        )
    hist = (
        joined.where(~dup_earlier)
        .select(
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("radius")
        )
        .where(F.col("radius") <= int(max_hamming))
        .groupBy("radius")
        .agg(F.count("*").alias("__n"))
    )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(r,) for r in range(int(max_hamming) + 1)], "radius long"
    )
    from pyspark.sql.window import Window

    wo = Window.orderBy("radius").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(hist, "radius", "left")
        .select(
            "radius",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_pairs"),
        )
        .withColumn("cum_pairs", F.sum("n_pairs").over(wo).cast("long"))
        .orderBy("radius")
    )


def minhash_len_bias(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    bucket_width: int = 32,
    max_bucket: int = 7,
    sample_docs: int = 64,
) -> DataFrame:
    """MinHash estimator error vs DOCUMENT LENGTH — the fourth axis of
    the calibration family (estimator: ``minhash_calibration``;
    banding gate: ``minhash_scurve``; signature size:
    ``sig_size_sweep``; THIS: the length confounder). The binomial
    error bound Var ≈ J(1−J)/H is length-blind, but short documents
    carry few shingles, so their exact Jaccard is itself coarse and
    collisions are structural — dedup thresholds tuned on long-doc
    calibration silently over- or under-fire on titles/snippets. Per
    length bucket (floor(min-shingle-count / ``bucket_width``),
    capped at ``max_bucket``, the MIN side of each pair — the noisier
    side dominates): pair count, MAE, signed bias, and worst-case
    error of the H-hash estimate vs exact shingle Jaccard.

    Exactness: identical machinery to ``sig_size_sweep`` — each
    pair's error (m·u − s·H)/(H·u) is one int64-exact double
    division quantized on the 1e-12 grid, aggregated as
    DECIMAL(38,0) exact ratios.

    Output: (len_bin, n_pairs, mae, bias, max_abs_err).

    Scale shape: the same constant-cost bounded audit as its three
    siblings (``sample_docs`` lowest ids, all-pairs bounded at
    sample_docs²/2, one signature aggregate, one shingle self-join) —
    never run uncapped at corpus scale."""
    capped = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(id_col)
        .limit(int(sample_docs))
    )
    h = int(num_hashes)
    sig = minhash_signatures(capped, text_col, id_col, n, h)
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.size(
            F.filter(F.zip_with("a.sig", "b.sig", lambda x, y: x == y), lambda v: v)
        ).alias("__m"),
    )
    shared, za, zb = _shared_shingles(capped, text_col, id_col, n)
    base = (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "__m",
            F.coalesce(F.col("__shn"), F.lit(0)).alias("__shn"),
            (
                F.col("__za") + F.col("__zb") - F.coalesce(F.col("__shn"), F.lit(0))
            ).alias("__uni"),
            F.least(
                F.expr(f"least(__za, __zb) div {int(bucket_width)}"),
                F.lit(int(max_bucket)),
            )
            .cast("long")
            .alias("len_bin"),
        )
    )
    num = (F.col("__m").cast("long") * F.col("__uni") - F.col("__shn") * F.lit(h))
    den = F.lit(h) * F.col("__uni")
    q = (
        F.when(
            num >= 0,
            F.floor((num / den) * F.lit(1_000_000_000_000.0) + F.lit(0.5)),
        )
        .otherwise(
            -F.floor((-num / den) * F.lit(1_000_000_000_000.0) + F.lit(0.5))
        )
        .cast("long")
    )
    quantized = base.select("len_bin", q.alias("__q"))
    from kairos_spark.exact import (
        _round6_ratio_dec as _rdec,
        _round6_ratio_dec_signed as _rdecs,
    )

    grid = F.lit(1_000_000_000_000)
    return quantized.groupBy("len_bin").agg(
        F.count("*").cast("long").alias("n_pairs"),
        _rdec(F.sum(F.abs(F.col("__q"))), F.count("*") * grid).alias("mae"),
        _rdecs(F.sum("__q"), F.count("*") * grid).alias("bias"),
        _rdec(F.max(F.abs(F.col("__q"))), grid).alias("max_abs_err"),
    )


def lsh_br_planner(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    configs: tuple = ((32, 1), (16, 2), (8, 4), (4, 8)),
    threshold_pct: int = 10,
    sample_docs: int = 64,
) -> DataFrame:
    """LSH banding (b, r) PLANNER — the decision step the calibration
    family feeds (estimator: ``minhash_calibration``; empirical gate:
    ``minhash_scurve``; signature size: ``sig_size_sweep``; length
    confounder: ``minhash_len_bias``; THIS: which config to pick).
    For each factorization b·r = num_hashes, evaluate the theoretical
    S-curve P(candidate) = 1 − (1 − J^r)^b (Leskovec/Rajaraman/Ullman,
    MMDS ch. 3) on the corpus's EXACT pair-Jaccard distribution and
    score it against a target dedup threshold t: expected
    false-positive mass (mean P over pairs below t — wasted verify
    work), false-negative mass (mean 1−P over pairs at/above t —
    missed duplicates), the combined miss mass over all pairs, and the
    config's crossover point t* = (1/b)^(1/r). Read it to pick the
    (b, r) whose fn_mass is acceptable at the smallest fp_mass —
    BEFORE a full LSH run commits to a config; ``minhash_scurve`` then
    validates the pick empirically.

    Cross-engine exactness: J = |∩|/|∪| is ONE int64→double division;
    J^r and (1−J^r)^b are SQUARING CHAINS (b, r must be powers of
    two) — every step a single IEEE multiply both engines perform
    identically, no libm pow() anywhere; P is quantized on the 1e-12
    grid (floor(p·1e12 + 0.5), exact while p·1e12 < 2^53) and
    aggregated as exact DECIMAL(38,0) ratios. t* is a sqrt chain over
    the exact double 1/b (IEEE mandates exact sqrt), quantized at 1e6
    the same way on both engines. The threshold test is pure integer
    math (100·|∩| ≥ pct·|∪|) — no float boundary. Degenerate inputs
    (no positives / no negatives in the sample) sentinel the
    undefined mass to 0.0 on both engines rather than dividing by
    zero (ANSI) or emitting NULL.

    Output: (bands, rows_per_band, t_star, n_pos, n_neg, fp_mass,
    fn_mass, miss_mass), one row per config.

    Scale shape: the same constant-cost bounded audit as its four
    siblings — ``sample_docs`` lowest ids (one top-k), one shingle
    self-join and one all-pairs frame bounded at sample_docs²/2; it
    never touches signatures at all (the curve is analytic). Never
    run it uncapped; the decision needs ~10³ pairs, not a corpus
    quadratic."""
    import math

    if not (0 < int(threshold_pct) < 100):
        raise ValueError(f"threshold_pct must be in (0, 100), got {threshold_pct}")
    for bands, rows in configs:
        if bands * rows != num_hashes:
            raise ValueError(
                f"(bands={bands}, rows={rows}) does not factorize "
                f"num_hashes={num_hashes}"
            )
        if bands & (bands - 1) or rows & (rows - 1):
            # the exact squaring chain needs power-of-two exponents;
            # ValueError not assert (assert strips under python -O)
            raise ValueError(
                f"(bands={bands}, rows={rows}) must be powers of two "
                "for the IEEE-exact squaring chain"
            )
    capped = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(id_col)
        .limit(int(sample_docs))
    )
    shared, za, zb = _shared_shingles(capped, text_col, id_col, n)
    ids = capped.select(F.col(id_col))
    ia = ids.alias("ia")
    ib = ids.alias("ib")
    prs = ia.join(ib, F.col(f"ia.{id_col}") < F.col(f"ib.{id_col}")).select(
        F.col(f"ia.{id_col}").alias("id_a"),
        F.col(f"ib.{id_col}").alias("id_b"),
    )
    base = (
        prs.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            F.coalesce(F.col("__shn"), F.lit(0)).cast("long").alias("__shn"),
            (
                F.col("__za") + F.col("__zb") - F.coalesce(F.col("__shn"), F.lit(0))
            )
            .cast("long")
            .alias("__uni"),
        )
    )
    grid = 1_000_000_000_000
    pos = (
        F.lit(100) * F.col("__shn") >= F.lit(int(threshold_pct)) * F.col("__uni")
    )
    per_cfg = []
    for bands, rows in configs:
        # t* = (1/b)^(1/r) via an exact sqrt chain (both engines' sqrt
        # is IEEE-bit-exact), then the engine-identical 1e6 quantizer
        t = 1.0 / bands
        for _ in range(int(math.log2(rows))):
            t = math.sqrt(t)
        t_star = math.floor(t * 1_000_000 + 0.5) / 1_000_000.0
        s = F.col("__shn") / F.col("__uni")
        sr = s
        for _ in range(int(math.log2(rows))):
            sr = sr * sr
        u = F.lit(1.0) - sr
        ub = u
        for _ in range(int(math.log2(bands))):
            ub = ub * ub
        p = F.lit(1.0) - ub
        q = F.floor(p * F.lit(1_000_000_000_000.0) + F.lit(0.5)).cast("long")
        per_cfg.append(
            base.select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                F.lit(t_star).alias("t_star"),
                F.when(pos, 1).otherwise(0).cast("long").alias("__pos"),
                q.alias("__q"),
            )
        )
    allc = per_cfg[0]
    for frame in per_cfg[1:]:
        allc = allc.unionByName(frame)
    from kairos_spark.exact import _round6_ratio_dec as _rdec

    agg = allc.groupBy("bands", "rows_per_band", "t_star").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum(F.when(F.col("__pos") == 1, F.col("__q")).otherwise(0)).alias(
            "__q_pos"
        ),
        F.sum(F.when(F.col("__pos") == 0, F.col("__q")).otherwise(0)).alias(
            "__q_neg"
        ),
    )
    n_neg = F.col("__n") - F.col("n_pos")
    g = F.lit(grid)
    return (
        agg.select(
            "bands",
            "rows_per_band",
            "t_star",
            "n_pos",
            n_neg.cast("long").alias("n_neg"),
            F.when(
                n_neg > 0, _rdec(F.col("__q_neg"), n_neg * g)
            )
            .otherwise(F.lit(0.0))
            .alias("fp_mass"),
            F.when(
                F.col("n_pos") > 0,
                _rdec(F.col("n_pos") * g - F.col("__q_pos"), F.col("n_pos") * g),
            )
            .otherwise(F.lit(0.0))
            .alias("fn_mass"),
            _rdec(
                F.col("__q_neg") + F.col("n_pos") * g - F.col("__q_pos"),
                F.col("__n") * g,
            ).alias("miss_mass"),
        )
        .orderBy("bands")
    )


def cluster_stability_ari(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    t_lo: float = 0.15,
    t_hi: float = 0.35,
    sample_docs: int = 64,
) -> DataFrame:
    """Dedup-cluster STABILITY between two Jaccard thresholds — the
    partition-agreement audit (Rand 1971's index and Hubert & Arabie
    1985's adjusted form) the threshold sweep can't see:
    ``dedup_threshold_sweep`` counts clusters per cutoff, but two
    cutoffs can keep the count while reshuffling the membership. Over
    the bounded doc sample, build the exact-Jaccard connected
    components at ``t_lo`` and ``t_hi`` and score pair agreement:
    together-in-both / lo-only / hi-only / neither, the Rand index
    (a+d)/C, and the chance-corrected ARI. A high Rand with low ARI
    says the agreement is just both-mostly-singletons; an ARI near 1
    says the dedup decision is threshold-robust in [t_lo, t_hi] — the
    number that justifies shipping one global cutoff.

    Since the hi-graph's edges are a subset of the lo-graph's, the hi
    partition refines the lo partition (together_hi_only = 0 by
    construction — emitted anyway as a structural self-check column).
    ARI from the pair counts: with Σ₁ = a+b (together at lo),
    Σ₂ = a+c (together at hi), ARI = (C·a − Σ₁Σ₂) /
    (C·(Σ₁+Σ₂)/2 − Σ₁Σ₂) — every term an exact integer
    (den ≥ 0 provably; den = 0 means both partitions are trivially
    identical → ARI sentinels to 1.0). Singleton docs keep their own
    id as label on both engines.

    Output (one row): (n_docs, n_clusters_lo, n_clusters_hi,
    together_both, together_lo_only, together_hi_only,
    together_neither, rand_index, ari).

    Scale shape: the bounded-audit pattern (sample top-k, shingle
    self-join, all-pairs ≤ sample²/2); components reuse
    ``connected_components`` (size-gated local union-find on this
    scale). Never run uncapped — at corpus scale compare cluster
    COUNTS with dedup_threshold_sweep and run this on a sample."""
    capped = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(id_col)
        .limit(int(sample_docs))
        .localCheckpoint(eager=True)
    )
    ids = capped.select(F.col(id_col).alias("id"))
    labs = {}
    for key, t in (("lo", float(t_lo)), ("hi", float(t_hi))):
        prs = ngram_jaccard_pairs(capped, text_col, id_col, n, t).select(
            "id_a", "id_b"
        )
        cc = connected_components(prs)
        labs[key] = ids.join(
            F.broadcast(cc.withColumnRenamed("node", "id")), "id", "left"
        ).select(
            "id", F.coalesce(F.col("cluster_id"), F.col("id")).alias(f"l_{key}")
        )
    ia = ids.alias("ia")
    ib = ids.alias("ib")
    allp = ia.join(ib, F.col("ia.id") < F.col("ib.id")).select(
        F.col("ia.id").alias("id_a"), F.col("ib.id").alias("id_b")
    )
    def _side(key, side):
        # <= sample_docs rows; broadcast so the 4-way label join never
        # degenerates into a SortMergeJoin over the tiny pair frame
        return F.broadcast(
            labs[key].select(
                F.col("id").alias(f"id_{side}"),
                F.col(f"l_{key}").alias(f"__{key}_{side}"),
            )
        )
    j = (
        allp.join(_side("lo", "a"), "id_a")
        .join(_side("lo", "b"), "id_b")
        .join(_side("hi", "a"), "id_a")
        .join(_side("hi", "b"), "id_b")
        .select(
            F.when(F.col("__lo_a") == F.col("__lo_b"), 1).otherwise(0).alias("__tl"),
            F.when(F.col("__hi_a") == F.col("__hi_b"), 1).otherwise(0).alias("__th"),
        )
    )
    cnt = j.agg(
        F.count("*").cast("long").alias("__C"),
        F.sum(F.col("__tl") * F.col("__th")).cast("long").alias("a"),
        F.sum(F.col("__tl") * (1 - F.col("__th"))).cast("long").alias("b"),
        F.sum((1 - F.col("__tl")) * F.col("__th")).cast("long").alias("c"),
    )
    ncl = (
        labs["lo"].agg(F.countDistinct("l_lo").cast("long").alias("n_clusters_lo"))
        .crossJoin(
            labs["hi"].agg(
                F.countDistinct("l_hi").cast("long").alias("n_clusters_hi")
            )
        )
    )
    nd = capped.agg(F.count("*").cast("long").alias("n_docs"))
    s1 = F.col("a") + F.col("b")
    s2 = F.col("a") + F.col("c")
    num = F.lit(2) * F.col("__C") * F.col("a") - F.lit(2) * s1 * s2
    den = F.col("__C") * (F.lit(2) * F.col("a") + F.col("b") + F.col("c")) - F.lit(2) * s1 * s2
    from kairos_spark.exact import _round6_ratio_signed

    return (
        nd.crossJoin(F.broadcast(ncl))
        .crossJoin(F.broadcast(cnt))
        .select(
            "n_docs",
            "n_clusters_lo",
            "n_clusters_hi",
            F.col("a").alias("together_both"),
            F.col("b").alias("together_lo_only"),
            F.col("c").alias("together_hi_only"),
            (F.col("__C") - F.col("a") - F.col("b") - F.col("c")).alias(
                "together_neither"
            ),
            _round6_ratio(
                F.col("__C") - F.col("b") - F.col("c"), F.col("__C")
            ).alias("rand_index"),
            F.when(den > 0, _round6_ratio_signed(num, den))
            .otherwise(F.lit(1.0))
            .alias("ari"),
        )
    )
