"""Similarity search over embedding columns (``array<float>``).

Scale design (100 TB of vectors):
- ``cosine_topk`` — brute-force scored scan + ``orderBy().limit(k)``.
  Spark's TakeOrderedAndProject computes per-partition top-k then
  merges k·partitions rows on the driver — no full sort, no shuffle of
  the vectors themselves. This is the exact baseline.
- ``lsh_topk`` — random-hyperplane LSH prefilter: H deterministic
  (md5-derived) hyperplanes → sign-bit bucket per vector → score only
  vectors whose bucket is within ``probe_hamming`` of the query's
  bucket (multi-probe). Cuts the scored fraction ~2^-H per probe
  level; recall/cost tunable with H and probes. The bucket is a plain
  long column — at scale you'd partition/Z-order the table by it so
  probes prune files.
- ``ivf_topk`` — IVF-style coarse quantizer: k-means-lite centroids
  chosen deterministically (first ``nlist`` vectors as seeds — real
  deployments train centroids offline), assign each vector to nearest
  centroid (one broadcast join), probe the ``nprobe`` nearest lists.

Vector math uses ``zip_with``/``aggregate`` higher-order functions —
JVM-side, no Python serialization per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from kairos_spark.exact import (
    _round6_ratio,
    _round6_ratio_dec,
    _round6_ratio_dec_signed,
)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm convention: cosine = -1.0 ("maximally dissimilar" —
    # never enters a near-pair or a top-k), matching DuckDB's
    # list_cosine_similarity on a zero vector exactly; Spark 4 ANSI
    # division would otherwise ERROR
    den = norm(a) * norm(b)
    return F.when(den > 0, dot(a, b) / den).otherwise(F.lit(-1.0))


def _query_col(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = _query_col(query_vec)
    vec = F.col(vec_col).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        F.round(cosine(vec, q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _scored_pairs(n: DataFrame, join_cond, id_col: str, threshold: float) -> DataFrame:
    """Shared pair-scoring tail for the exact and LSH near-dup variants:
    join the prepared (id, v, nrm[, bucket]) frame against itself under
    ``join_cond`` and keep (id_a, id_b, cosine ≥ threshold). One scoring
    definition so the brute-force verifier and its bucketed twin can
    never silently diverge."""
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, join_cond(a, b) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.when(
                F.col("a.nrm") * F.col("b.nrm") > 0,
                F.round(
                    dot(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.nrm") * F.col("b.nrm")),
                    6,
                ),
            )
            .otherwise(F.lit(-1.0))
            .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def cosine_self_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force N²/2 — the
    verification path; use srp_near_pairs at scale)."""
    base = df if max_rows is None else df.where(F.col(id_col) < max_rows)
    vec = F.col(vec_col).cast("array<double>")
    n = base.select(F.col(id_col), vec.alias("v"), norm(vec).alias("nrm"))
    return _scored_pairs(n, lambda a, b: F.lit(True), id_col, threshold)


def srp_near_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.35,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_id: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via SRP-LSH bucketing — the scale
    path that replaces the N²/2 ``cosine_self_pairs`` sweep: vectors are
    scored only against bucket-mates (same sign pattern on all
    ``planes`` hyperplanes), cutting candidate pairs by ~2^planes for
    random data while same-bucket probability for a pair at angle θ is
    (1-θ/π)^planes — recall/cost tunes with ``planes``.

    Deterministic md5 hyperplanes make the whole construction (including
    its approximation) exactly reproducible by the SQL oracle. At 100 TB
    the bucket column is also the partition key: bucket-mates co-locate,
    so the pair join is shuffle-local."""
    base = df if max_id is None else df.where(F.col(id_col) < max_id)
    vec = F.col(vec_col).cast("array<double>")
    n = add_lsh_bucket(base, dim, planes, vec_col).select(
        F.col(id_col), vec.alias("v"), norm(vec).alias("nrm"), "lsh_bucket"
    )
    return _scored_pairs(
        n,
        lambda a, b: F.col("a.lsh_bucket") == F.col("b.lsh_bucket"),
        id_col,
        threshold,
    )


def _hyperplane(h: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane: component d is the
    md5-derived value of (h, d), mapped into [-1, 1)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"plane{h}:"), d.cast("string"))), 1, 8), 16, 10)
            .cast("double")
            / F.lit(float(1 << 32))
        )
        * 2.0
        - 1.0,
    )


def lsh_bucket(vec: Column, dim: int, planes: int = 12) -> Column:
    """Random-hyperplane (SRP) bucket id: bit h = sign(vec · plane_h)."""
    bucket = F.lit(0).cast("long")
    for h in range(planes):
        bit = F.when(dot(vec, _hyperplane(h, dim)) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit.cast("long"), h)
    return bucket


def add_lsh_bucket(
    df: DataFrame, dim: int, planes: int = 12, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the SRP bucket column (at scale: partition/Z-order by it)."""
    vec = F.col(vec_col).cast("array<double>")
    return df.withColumn("lsh_bucket", lsh_bucket(vec, dim, planes))


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 12,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors whose SRP bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe LSH)."""
    dim = len(query_vec)
    bucketed = add_lsh_bucket(df, dim, planes, vec_col)
    # query bucket computed with the same expressions on a 1-row frame —
    # stays deterministic with the executor-side math
    q = _query_col(query_vec)
    probe = bucketed.where(
        F.bit_count(F.col("lsh_bucket").bitwiseXOR(lsh_bucket(q, dim, planes))) <= probe_hamming
    )
    vec = F.col(vec_col).cast("array<double>")
    return (
        probe.select(F.col(id_col), F.round(cosine(vec, q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: assign vectors to the nearest of ``nlist`` coarse
    centroids (deterministic seeds: the lowest-id vectors), then scan
    only the ``nprobe`` centroid lists nearest the query.

    Scale shape: the ``nlist`` centroids are packed into ONE array row
    and attached to the corpus with a broadcast nested-loop join (1
    row), so the nearest-centroid argmin is a single map-only
    projection — ``array_min`` over ``struct(dist, list_id)`` gives the
    min-distance list with a deterministic smallest-list-id tie-break.
    No N×nlist row explosion and, critically, NO shuffle of the corpus
    on vec_id (the earlier row_number-window formulation shuffled every
    vector); the probe is then a broadcast filter and the final top-k
    is TakeOrderedAndProject."""
    # Deterministic coarse centroids: the nlist lowest-id vectors,
    # numbered in id order (row_number over the nlist-row result, not
    # monotonically_increasing_id, so list ids are reproducible).
    small = df.orderBy(id_col).limit(nlist).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    centroids = small.select(
        (F.row_number().over(Window.orderBy("__cid")) - 1).alias("list_id"), "cvec"
    )
    # list_id is the FIRST struct field so array_sort orders by it —
    # collect_list alone has no deterministic order.
    packed = centroids.select(
        F.struct(
            F.col("list_id"), F.col("cvec"), norm(F.col("cvec")).alias("cnorm")
        ).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("__cents"))
    vec = F.col(vec_col).cast("array<double>")
    vnorm = norm(vec)
    # dist = -cosine, written with the same association as cosine() so
    # the SQL oracle reproduces the floats bit-for-bit
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                F.when(
                    vnorm * c["cnorm"] > 0,
                    -(dot(vec, c["cvec"]) / (vnorm * c["cnorm"])),
                )
                .otherwise(F.lit(1.0))
                .alias("dist"),
                c["list_id"].alias("list_id"),
            ),
        )
    )
    # coalesce makes the join key provably non-nullable, so the inner
    # probe join's IsNotNull filter constant-folds instead of
    # re-evaluating the whole argmin expression in the join condition
    assigned = (
        df.join(F.broadcast(packed))
        .select(
            F.col(id_col),
            vec.alias("__v"),
            F.coalesce(best["list_id"], F.lit(-1)).alias("list_id"),
        )
    )
    q = _query_col(query_vec)
    probe_lists = (
        centroids.select("list_id", cosine(F.col("cvec"), q).alias("qc"))
        .orderBy(F.col("qc").desc(), "list_id")
        .limit(nprobe)
        .select("list_id")
    )
    return (
        assigned.join(F.broadcast(probe_lists), "list_id")
        .select(F.col(id_col), F.round(cosine(F.col("__v"), q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _kmeans_final_assign(
    df: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared deterministic Lloyd assignment loop: ``iters`` centroid
    updates from md5-seeded init, then the final nearest-centroid
    assignment. Returns (__id, __v, cid, dist) — the building block
    behind both ``kmeans`` (cluster summary) and ``semdedup``
    (within-cluster near-dup pruning), factored out so the two can
    never diverge on seeding/tie rules."""
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("__id"), vec.alias("__v"))
    seeds = (
        base.select("__id", "__v", F.md5(F.col("__id").cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(k)
    )
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("__h")) - 1).cast("long").alias("cid"),
        F.col("__v").alias("cvec"),
    )

    def sqdist(cvec: Column) -> Column:
        return F.aggregate(
            F.zip_with(F.col("__v"), cvec, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    def assign(cents_df: DataFrame) -> DataFrame:
        packed = cents_df.select(
            F.struct(F.col("cid"), F.col("cvec")).alias("c")
        ).agg(F.array_sort(F.collect_list("c")).alias("__cents"))
        best = F.array_min(
            F.transform(
                F.col("__cents"),
                lambda c: F.struct(sqdist(c["cvec"]).alias("dist"), c["cid"].alias("cid")),
            )
        )
        return base.join(F.broadcast(packed)).select(
            "__id", "__v", best["cid"].alias("cid"), best["dist"].alias("dist")
        )

    for _ in range(iters):
        assigned = assign(cents)
        percell = (
            assigned.select("cid", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(38,12)")).alias("__s"),
                F.count("*").alias("__n"),
            )
        )
        cents = (
            percell.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos",
                            (F.col("__s").cast("double") / F.col("__n")).alias("m"),
                        )
                    )
                ).alias("__pm")
            )
            .select("cid", F.transform("__pm", lambda x: x["m"]).alias("cvec"))
        )
        # Materialize each round's k centroid rows (r13 optimization
        # round, guide §2.4/§5): iteration i's assignment references the
        # corpus AND iteration i-1's centroids, which reference the
        # corpus again — the lazy lineage doubles per round, and every
        # downstream reference to the final assignment re-executes the
        # whole tree (semdedup's plan scanned the corpus parquet 29×;
        # with the k-row checkpoint, ~4×, measured -30% wall). Exactly
        # the connected_components/pagerank iterative-fixed-point
        # pattern; k×dim doubles, negligible memory, values unchanged.
        # Cluster-scale caveat (VERDICT r13): localCheckpoint keeps no
        # lineage/replication — executor loss loses the blocks; on a
        # real cluster use .checkpoint() with a reliable checkpoint dir
        # (k rows, the round-trip is noise).
        cents = cents.localCheckpoint(eager=True)

    return assign(cents)


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means over an embedding
    column, returning (cluster_id, n_vecs, inertia) after ``iters``
    update steps. The centroid-building block a training pipeline uses
    for corpus clustering / diversity sampling.

    Everything that affects the result is exact and seed-free so an
    independent engine reproduces it bit-for-bit:
    - init: the k vectors with the smallest md5(id) — a deterministic
      "random" draw;
    - assignment: nearest centroid by squared L2 with ties to the
      smaller cluster id, computed per vector as a map-only projection
      over ONE broadcast packed-centroid array row (array_min over
      struct(dist, cid) — the same no-corpus-shuffle shape as
      ivf_topk); distance terms fold left-to-right (F.aggregate),
      which the oracle mirrors with list_reduce;
    - update: per-(cluster, dim) means via DECIMAL(38,12) sums, so the
      reduction is associative (identical across partitionings and
      engines), reassembled into ordered centroid arrays.

    Scale shape per iteration: k×dim doubles broadcast out, k×dim
    aggregate rows shuffle back — corpus rows never shuffle, and the
    per-vector work is one whole-stage-codegen projection. Empty
    clusters drop out (both engines identically)."""
    final = _kmeans_final_assign(df, k, iters, id_col, vec_col)
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            # round the DECIMAL first, cast after: at corpus scale the
            # inertia sum reaches magnitudes where round-6 post-cast is
            # not double-representable and engines disagree
            F.round(F.sum(F.col("dist").cast("decimal(38,12)")), 6)
            .cast("double")
            .alias("inertia"),
        )
        .select(F.col("cid").alias("cluster_id"), "n_vecs", "inertia")
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with deterministic k-means,
    then inside each cluster drop every vector whose cosine similarity
    to a SMALLER-id cluster-mate is ≥ ``threshold`` (the keep-first
    greedy rule — deterministic, no transitive closure needed).
    Returns per-cluster (cluster_id, n_vecs, n_dropped, n_kept).

    Scale shape: the clustering is the map-only broadcast-centroid
    loop from ``kmeans`` (corpus never shuffles); the pair scoring is
    a hash self-join ON cid — candidate pairs are bounded by
    Σ|cluster|², exactly the blowup k-means clustering exists to
    bound (that is the published algorithm's core trick; raise k to
    tighten it). No cartesian/nested-loop join appears in the plan.
    Cosines are rounded to 6 decimals BEFORE the threshold compare so
    an independent engine lands on the identical drop set."""
    a = _kmeans_final_assign(df, k, iters, id_col, vec_col)
    # Materialize the final assignment once (r14 optimization round,
    # guide §2.4/§5): ``n`` feeds BOTH self-join sides and the size
    # aggregate, so the lazy plan re-ran the whole Lloyd loop + final
    # assignment per reference (8 corpus scans in one explain after the
    # r13 centroid checkpoints; 2 after this). A/B-tested interleaved
    # at sf0.1 k=32: checkpoint faster on every paired rep (min-of-5
    # 2.82 -> 2.59 s, first-rep 5.4 -> 3.8 s), values bit-identical.
    # State is corpus-grain (id, vec, norm, cid) — bounded by the input
    # the caller already holds; like the simhash/winnow precedents the
    # returned frame references the checkpointed blocks (freed on GC).
    # At cluster scale prefer a reliable checkpoint dir —
    # localCheckpoint blocks are lost with their executor.
    n = a.select(
        "cid",
        F.col("__id").alias("id"),
        F.col("__v").alias("v"),
        norm(F.col("__v")).alias("nrm"),
    ).localCheckpoint(eager=True)
    l, r = n.alias("l"), n.alias("r")
    pairs = (
        l.join(r, (F.col("l.cid") == F.col("r.cid")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.cid").alias("cid"),
            F.col("r.id").alias("id"),
            F.when(
                F.col("l.nrm") * F.col("r.nrm") > 0,
                F.round(
                    dot(F.col("l.v"), F.col("r.v"))
                    / (F.col("l.nrm") * F.col("r.nrm")),
                    6,
                ),
            )
            .otherwise(F.lit(-1.0))
            .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    dropped = pairs.select("cid", "id").distinct().groupBy("cid").agg(
        F.count("*").alias("n_dropped")
    )
    sizes = n.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    return (
        sizes.join(dropped, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
    )


def rrf_fusion(
    df: DataFrame,
    n_queries: int = 4,
    top_n: int = 50,
    k_rrf: int = 60,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two
    retrieval rankings — cosine similarity and (negated) squared L2 —
    for a deterministic query set (the ``n_queries`` vectors with the
    smallest md5(id), the same seed rule as k-means init). Each ranker
    contributes 1/(k_rrf + rank) for its top ``top_n``; candidates are
    fused with a full-outer merge (a hit on one list only still
    scores) and the fused top ``topk`` per query is returned as
    (query_id, rank, vec_id, rrf_score, rank_cos, rank_l2).

    Determinism across engines: both rankers order by the ROUND-6
    score with id as tiebreak, and the fused ordering uses the round-6
    RRF score (a sum of exactly ≤2 doubles — IEEE addition of two
    terms is order-exact) with id tiebreak.

    Scale shape: queries broadcast against a map-only scored scan; the
    per-query ranking here is the exact brute-force window (the
    verification path) — ``knn_join``'s salted two-phase top-k is the
    scale path for large corpora, and the fusion step is unchanged
    under it."""
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"), vec.alias("v"))
    qs = (
        base.select("id", "v", F.md5(F.col("id").cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(n_queries)
        .select(
            (F.row_number().over(Window.orderBy("__h")) - 1).cast("long").alias("query_id"),
            F.col("id").alias("q_id"),
            F.col("v").alias("qv"),
        )
    )
    scored = (
        base.join(F.broadcast(qs), F.col("id") != F.col("q_id"))
        .select(
            "query_id",
            "id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
            F.round(
                F.aggregate(
                    F.zip_with(F.col("v"), F.col("qv"), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
                6,
            ).alias("l2"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id"))
    w_l2 = Window.partitionBy("query_id").orderBy(F.col("l2").asc(), F.col("id"))
    ranked = scored.select(
        "query_id",
        "id",
        F.row_number().over(w_cos).cast("long").alias("rank_cos"),
        F.row_number().over(w_l2).cast("long").alias("rank_l2"),
    )
    cos_list = ranked.where(F.col("rank_cos") <= top_n).select("query_id", "id", "rank_cos")
    l2_list = ranked.where(F.col("rank_l2") <= top_n).select("query_id", "id", "rank_l2")
    fused = (
        cos_list.join(l2_list, ["query_id", "id"], "full_outer")
        .select(
            "query_id",
            "id",
            # 0 = "absent from this ranker's top_n" — a sentinel, not a
            # rank (ranks are 1-based). NULLs canonicalize differently
            # across engines (None vs NaN), so the contract avoids them.
            F.coalesce(F.col("rank_cos"), F.lit(0)).cast("long").alias("rank_cos"),
            F.coalesce(F.col("rank_l2"), F.lit(0)).cast("long").alias("rank_l2"),
            F.round(
                F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_cos")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_l2")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf_score").desc(), F.col("id"))
    return (
        fused.select(
            "query_id",
            F.row_number().over(w_f).cast("long").alias("rank"),
            F.col("id").alias("vec_id"),
            "rrf_score",
            "rank_cos",
            "rank_l2",
        )
        .where(F.col("rank") <= topk)
    )


def label_cluster_quality(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cohesion/separation diagnostics for a labeled embedding corpus:
    per label, the mean squared L2 distance of members to their own
    centroid (cohesion — lower is tighter) and the squared distance to
    the NEAREST other centroid (separation — higher is better), plus
    their ratio (a silhouette-style score: < 1 means the cluster is
    tighter than its closest neighbor is near). The go/no-go check on
    a labeling or clustering before it drives sampling decisions.

    Everything is exact and engine-reproducible: centroid means and
    the distance sums accumulate in DECIMAL(38,12) (associative, safe
    under any partitioning); the per-vector distance fold runs
    left-to-right over the zipped arrays (F.aggregate, mirrored by
    DuckDB list_reduce).

    Scale shape: centroids are a posexplode + hash aggregate
    (#labels x #dims rows shuffle, independent of corpus size); they
    broadcast back for the cohesion pass (map-only distance + one
    aggregate); separation is an all-pairs join over #labels rows —
    trivially small. Corpus vectors never shuffle."""
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(label_col).alias("lbl"), vec.alias("__v"))
    percell = (
        base.select("lbl", F.posexplode("__v").alias("pos", "val"))
        .groupBy("lbl", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(38,12)")).alias("__s"),
            F.count("*").alias("__n"),
        )
    )
    cents = (
        percell.groupBy("lbl")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("__s").cast("double") / F.col("__n")).alias("m"),
                    )
                )
            ).alias("__pm")
        )
        .select("lbl", F.transform("__pm", lambda x: x["m"]).alias("cvec"))
    )

    def sqdist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    coh = (
        base.join(F.broadcast(cents), "lbl")
        .select("lbl", sqdist(F.col("__v"), F.col("cvec")).alias("__d"))
        .groupBy("lbl")
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.sum(F.col("__d").cast("decimal(38,12)")).cast("double")
                / F.count("*")
            ).alias("__coh"),
        )
    )
    other = cents.select(F.col("lbl").alias("__lb"), F.col("cvec").alias("__cb"))
    sep = (
        cents.join(F.broadcast(other), F.col("lbl") != F.col("__lb"))
        .select("lbl", sqdist(F.col("cvec"), F.col("__cb")).alias("__pd"))
        .groupBy("lbl")
        .agg(F.min("__pd").alias("__sep"))
    )
    return (
        coh.join(F.broadcast(sep), "lbl")
        .select(
            F.col("lbl").alias("label"),
            "n_vecs",
            F.round(F.col("__coh"), 6).alias("cohesion"),
            F.round(F.col("__sep"), 6).alias("separation"),
            F.round(F.col("__coh") / F.col("__sep"), 6).alias("quality_ratio"),
        )
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salt: int = 16,
    exclude_self: bool = True,
) -> DataFrame:
    """Bulk exact kNN join: for EVERY query vector, the top-k corpus
    neighbors by cosine — (q_id, rank, vec_id, cosine). The batch
    companion to cosine_topk: labeling, retrieval-eval, and dedup
    pipelines ask for neighbors of thousands of vectors at once, not
    one.

    Scale shape: the query block broadcasts (Q × dim doubles) and
    scoring is a map-only projection over the corpus — corpus vectors
    never shuffle. The per-query top-k then uses the SAME two-phase
    salted min-k merge as inverted_index: stage 1 keeps each
    (query, salt)'s k best as a sorted array slice (bounded state,
    map-side combined), stage 2 merges n_salt partial lists per query.
    No per-query global sort, no window over |corpus| rows — the
    worst task holds k·n_salt structs per query. With
    ``exclude_self`` (the default) rows where q_id == vec_id are
    dropped — this assumes queries and corpus share ONE id space
    (queries drawn from the corpus, as in dedup/recall audits). When
    the two sides have independent id spaces, pass
    ``exclude_self=False`` or a coincidental id collision would
    silently drop a legitimate neighbor.

    Ranking uses the ROUNDED cosine (6 decimals) with vec_id as the
    tiebreak, so the result order is engine-exact, not
    float-ulp-dependent."""
    qv = F.col(vec_col).cast("array<double>")
    qdf = queries.select(F.col(q_id_col).alias("__q"), qv.alias("__qv"))
    cv = F.col(vec_col).cast("array<double>")
    scored = corpus.select(F.col(id_col).alias("__id"), cv.alias("__v")).crossJoin(
        F.broadcast(qdf)
    )
    if exclude_self:
        scored = scored.where(F.col("__id") != F.col("__q"))
    scored = (
        scored.select(
            "__q",
            "__id",
            F.round(cosine(F.col("__v"), F.col("__qv")), 6).alias("__cos"),
        )
    )
    p2 = _grouped_topk(scored, k, n_salt)
    return p2.select(
        F.col("__q").alias("q_id"),
        F.posexplode("__top").alias("__pos", "__t"),
    ).select(
        "q_id",
        (F.col("__pos") + 1).cast("long").alias("rank"),
        F.col("__t.id").alias(id_col),
        (-F.col("__t.nc")).alias("cosine"),
    )


def _grouped_topk(scored: DataFrame, k: int, n_salt: int) -> DataFrame:
    """Two-phase salted top-k over (__q, __id, __cos) rows: stage 1
    keeps each (query, id % n_salt)'s k best as a sorted slice
    (bounded state, map-side combined), stage 2 merges the n_salt
    partial lists. Returns (__q, __top: array<struct<nc, id>>) with nc
    = negated rounded cosine, so ascending sort = best first. Shared by
    knn_join and lsh_recall so exact and approximate paths rank
    identically."""
    item = F.struct((-F.col("__cos")).alias("nc"), F.col("__id").alias("id"))
    p1 = scored.groupBy("__q", (F.col("__id") % n_salt).alias("__s")).agg(
        F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("__part")
    )
    return p1.groupBy("__q").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("__part"))), 1, k).alias("__top")
    )


def lsh_recall(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 8,
    probe_hamming: int = 2,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salt: int = 16,
) -> DataFrame:
    """ANN recall audit: per query, the SRP-LSH multi-probe top-k
    against the EXACT top-k — (q_id, n_candidates, recall). The last
    member of the measure-the-approximation family (cms overcount,
    bloom fp_rate, minhash err): this is the number that justifies a
    planes/probe_hamming choice before you commit a cluster to the
    bucketed path.

    Scale shape: both paths broadcast the query block and never
    shuffle corpus vectors; the LSH path scores only the
    hamming-probed candidate fraction (~C(planes, <=probe)/2^planes of
    the corpus), which is exactly the cost saving being measured.
    Top-k for both paths goes through the same salted merge, so exact
    and approximate ranking tie-break identically."""
    vec = F.col(vec_col).cast("array<double>")
    exact = knn_join(
        queries, corpus, k=k, q_id_col=q_id_col, id_col=id_col,
        vec_col=vec_col, n_salt=n_salt,
    ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
    qb = queries.select(
        F.col(q_id_col).alias("__q"),
        vec.alias("__qv"),
        lsh_bucket(vec, dim, planes).alias("__qb"),
    )
    cb = corpus.select(
        F.col(id_col).alias("__id"),
        vec.alias("__v"),
        lsh_bucket(vec, dim, planes).alias("__cb"),
    )
    cand = (
        cb.crossJoin(F.broadcast(qb))
        .where(
            (F.bit_count(F.col("__cb").bitwiseXOR(F.col("__qb"))) <= probe_hamming)
            & (F.col("__id") != F.col("__q"))
        )
        .select(
            "__q",
            "__id",
            F.round(cosine(F.col("__v"), F.col("__qv")), 6).alias("__cos"),
        )
    )
    ncand = cand.groupBy("__q").agg(F.count("*").alias("n_candidates"))
    atop = (
        _grouped_topk(cand, k, n_salt)
        .select("__q", F.explode("__top").alias("__t"))
        .select("__q", F.col("__t.id").alias("__id"))
    )
    # both sides of the scoring joins are k x |queries| audit rows —
    # broadcast them so no sort-merge exchange appears for 50-row frames
    hits = atop.join(F.broadcast(exact), ["__q", "__id"]).groupBy("__q").agg(
        F.count("*").alias("__h")
    )
    return ncand.join(F.broadcast(hits), "__q", "left").select(
        F.col("__q").alias("q_id"),
        "n_candidates",
        _round6_ratio(F.coalesce(F.col("__h"), F.lit(0)), F.lit(int(k))).alias("recall"),
    )


def knn_label_agreement(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise screen by neighbor voting: every vector queries its
    k nearest neighbors (exact cosine, self excluded) and counts how
    many share its label; per label the mean agreement and the number
    of SUSPECT vectors (fewer than half the neighbors agree) come
    back. Low agreement concentrated in one label = mislabeled or
    heterogeneous class — triage before training, not after.

    All aggregation is integer until the final division
    (sum of matches / (k * n_vecs)), so the result is exact.

    Scale shape: reuses knn_join — query block broadcast, salted
    two-phase top-k. Using the full corpus as the query set makes this
    O(N²) scoring: at 100 TB run it on a stratified sample per label
    or swap the exact kNN for the LSH-bucketed candidates; the voting
    logic is unchanged."""
    qs = df.select(F.col(id_col).alias("q_id"), F.col(vec_col))
    nn = knn_join(qs, df, k=k, id_col=id_col, vec_col=vec_col)
    own = df.select(F.col(id_col).alias("q_id"), F.col(label_col).alias("__ql"))
    other = df.select(F.col(id_col), F.col(label_col).alias("__nl"))
    j = nn.join(F.broadcast(own), "q_id").join(F.broadcast(other), id_col)
    per_vec = j.groupBy("q_id", "__ql").agg(
        F.sum((F.col("__nl") == F.col("__ql")).cast("long")).alias("__m")
    )
    return per_vec.groupBy(F.col("__ql").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        _round6_ratio(F.sum("__m"), F.lit(int(k)) * F.count("*")).alias("mean_agreement"),
        F.sum((F.col("__m") * 2 < k).cast("long")).alias("n_suspect"),
    )


def quantize_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    levels: int = 255,
) -> DataFrame:
    """Int8-style uniform quantization audit for an embedding column:
    quantize each dimension to ``levels`` steps over its corpus-wide
    [min, max], dequantize, and report per-label reconstruction error
    (RMSE, max |err|, mean |err|). The go/no-go report before shipping
    a quantized ANN index — 4× memory cut for ~1e-3 error is the usual
    trade, and this measures it on YOUR vectors.

    Determinism: the quantized level is floor(x * levels + 0.5) —
    floor is engine-identical where Spark/DuckDB round() half-case
    rules differ. Constant dimensions (max == min) dequantize to the
    constant with zero error.

    Shape: posexplode to (vec, dim, value) — map-only; per-dim min/max
    aggregate to |dims| rows that BROADCAST back; per-label error
    rollup is the only other shuffle. Vectors never join vectors."""
    v = F.col(vec_col).cast("array<double>")
    comp = df.select(
        F.col(id_col), F.col(label_col), F.posexplode(v).alias("__d", "__v")
    )
    rng = comp.groupBy("__d").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width = F.col("__hi") - F.col("__lo")
    q = F.floor(((F.col("__v") - F.col("__lo")) / width) * levels + 0.5)
    deq = F.when(width == 0, F.col("__lo")).otherwise(
        F.col("__lo") + q * width / levels
    )
    err = comp.join(F.broadcast(rng), "__d").select(
        label_col, (F.col("__v") - deq).alias("__e")
    )
    return err.groupBy(label_col).agg(
        F.count("*").cast("long").alias("n_components"),
        # F.round(F.avg/F.max) exempt from the exact-rational sweep:
        # quantization errors are full-precision doubles (embedding
        # component minus a dequantized level), never fixed-decimal
        # rationals — midpoint exposure is measure zero (CLAUDE.md)
        F.round(F.sqrt(F.avg(F.col("__e") * F.col("__e"))), 6).alias("rmse"),
        F.round(F.max(F.abs("__e")), 6).alias("max_abs_err"),
        F.round(F.avg(F.abs("__e")), 6).alias("mean_abs_err"),
    )


def norm_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    z: float = 2.0,
) -> DataFrame:
    """Embedding L2-norm health audit per label: (label, n_vecs,
    mean_norm, std_norm, n_outliers) with outliers = vectors whose norm
    is more than ``z`` standard deviations from their label's mean —
    the cheap screen for collapsed/exploded embeddings and mislabeled
    batches before any ANN index is built over them.

    Determinism: each norm folds left-to-right over the vector
    (F.aggregate — fixed order, engine-identical) and is then ROUNDED
    to 6 decimals before any statistics: a round-6 double casts to
    DECIMAL(38,12) exactly on every engine, so the per-label mean and
    (population) std accumulate associativity-proof decimals and every
    downstream double — including the z-threshold comparison — is
    derived from bit-identical inputs. (Raw double→DECIMAL casts
    differ between engines in the last internal digit, which on a
    degenerate distribution flips threshold comparisons at noise
    scale; the 1e-6 norm resolution is the documented price.)

    Scale shape: pass 1 is a map-only norm projection + per-label
    DECIMAL aggregate (|labels| rows); the tiny moment table broadcasts
    back for the outlier count — corpus vectors never shuffle."""
    vec = F.col(vec_col).cast("array<double>")
    nr = df.select(
        F.col(label_col).alias("label"), F.round(norm(vec), 6).alias("__nrm")
    )
    mom = nr.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(F.col("__nrm").cast("decimal(38,12)")).alias("__s1"),
        F.sum((F.col("__nrm") * F.col("__nrm")).cast("decimal(38,12)")).alias("__s2"),
    )
    mom = mom.select(
        "label",
        "n_vecs",
        (F.col("__s1").cast("double") / F.col("n_vecs")).alias("__mean"),
        F.sqrt(
            F.greatest(
                F.col("__s2").cast("double") / F.col("n_vecs")
                - (F.col("__s1").cast("double") / F.col("n_vecs"))
                * (F.col("__s1").cast("double") / F.col("n_vecs")),
                F.lit(0.0),
            )
        ).alias("__std"),
    )
    out = (
        nr.join(F.broadcast(mom), "label")
        .where(F.abs(F.col("__nrm") - F.col("__mean")) > F.lit(z) * F.col("__std"))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("n_outliers"))
    )
    return (
        mom.join(out, "label", "left")
        .select(
            "label",
            "n_vecs",
            F.round("__mean", 6).alias("mean_norm"),
            F.round("__std", 6).alias("std_norm"),
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


def embedding_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding-distribution drift between two
    deterministic halves (even vs odd ``id_col``): cosine similarity
    between the half mean vectors and the L2 shift between them —
    the representation-stability check run when an embedding model is
    re-versioned ("did class centroids move?"), the vector analogue of
    the scalar drift family (PSI / KS / chi-square).

    Everything reduces to per-(label, dim) sums: with half sums
    s_a[d], s_b[d] and counts n_a, n_b, the mean-vector dot, norms and
    the L2 shift are all Σ over dims of products of those sums divided
    by counts — two hash aggregations, no vector ever compared
    pairwise. Float32 components are cast to double BEFORE summing
    (both engines widen identically; dim-grain sums keep association
    error orders below the round-6 contract).

    Output: (label, n_a, n_b, cos_means, l2_shift) rounded 6.

    Scale shape: posexplode is map-side (dim fan-out inside the
    task); the only shuffles carry (label, dim) and (label) partial
    sums — bounded by |labels|·dim, independent of corpus size.
    """
    half_a = (F.col(id_col) % 2 == 0).alias("__a")
    dims = df.select(
        F.col(label_col).alias("label"),
        half_a,
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).select("label", "__a", "dim", F.col("__v").cast("double").alias("__v"))
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("__a"), F.col("__v")).otherwise(0.0)).alias("sa"),
        F.sum(F.when(F.col("__a"), 0.0).otherwise(F.col("__v"))).alias("sb"),
    )
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.sum(F.when(F.col(id_col) % 2 == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col(id_col) % 2 == 0, 0).otherwise(1)).cast("long").alias("n_b"),
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("__dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("__na2"),
        F.sum(F.col("sb") * F.col("sb")).alias("__nb2"),
    )
    j = per_label.join(counts, "label")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    cos = F.when(
        F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2")) > 0,
        F.col("__dot") / (F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2"))),
    ).otherwise(F.lit(-1.0))
    shift = F.sqrt(
        F.col("__na2") / (na * na)
        - 2.0 * F.col("__dot") / (na * nb)
        + F.col("__nb2") / (nb * nb)
    )
    # a label present in only ONE half has no drift to measure — drop
    # it on BOTH sides (the mean division would hit the ANSI
    # divide-by-zero error)
    return j.where((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "label",
        "n_a",
        "n_b",
        F.round(cos, 6).alias("cos_means"),
        F.round(shift, 6).alias("l2_shift"),
    )


def label_centroid_dists(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise cosine similarity between LABEL CENTROIDS — the
    class-geometry audit ("which classes sit on top of each other?")
    that predicts classifier confusions and flags mislabeled clusters
    before any model trains. Complements ``embedding_drift`` (same
    centroid machinery, across-time instead of across-class) and
    ``cluster_quality`` (assignment-grain).

    Everything reduces to per-(label, dim) sums: cos(c_a, c_b) =
    Σ s_a·s_b / (‖s_a‖‖s_b‖) — the counts cancel, so the centroid
    similarity is computable from sums alone. Output: (label_a,
    label_b, n_a, n_b, cos) for label_a < label_b, rounded 6.

    Scale shape: map-side posexplode → (label, dim) sums → the
    pairwise step joins the |labels|·dim table with itself on dim —
    profiling-sized, never corpus-sized.
    """
    dims = df.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).select("lbl", "dim", F.col("__v").cast("double").alias("__v"))
    sums = dims.groupBy("lbl", "dim").agg(F.sum("__v").alias("s"))
    counts = df.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count("*").cast("long").alias("n")
    )
    a, b = sums.alias("a"), sums.alias("b")
    dots = (
        a.join(b, "dim")
        .where(F.col("a.lbl") < F.col("b.lbl"))
        .groupBy(F.col("a.lbl").alias("label_a"), F.col("b.lbl").alias("label_b"))
        .agg(
            F.sum(F.col("a.s") * F.col("b.s")).alias("__dot"),
            F.sum(F.col("a.s") * F.col("a.s")).alias("__na2"),
            F.sum(F.col("b.s") * F.col("b.s")).alias("__nb2"),
        )
    )
    ca = counts.select(F.col("lbl").alias("label_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("lbl").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.join(ca, "label_a")
        .join(cb, "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.when(
                F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2")) > 0,
                F.round(
                    F.col("__dot")
                    / (F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2"))),
                    6,
                ),
            )
            .otherwise(F.lit(-1.0))
            .alias("cos"),
        )
    )


def embedding_moments(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension first and second moments of an embedding column:
    (dim, n, mean_v, var_v) with POPULATION variance — the whitening /
    index-health audit run before building an ANN index. A healthy
    well-spread embedding space has near-zero per-dim means and
    roughly uniform per-dim variances; strong anisotropy (a few
    dominant variances) is the standard signal to whiten or rotate
    before IVF/LSH bucketing, and a near-zero-variance dimension is
    dead weight in every distance computation.

    Determinism: each float component is widened to double and
    quantized on the exact 1e-12 grid with the ``_cents`` tie rule
    generalized — sign·floor(|v|·1e12 + 0.5). The double→DECIMAL cast
    is NOT used here: engine-probed (r9), Spark's cast rounds a
    scale-12 midpoint half-AWAY (1/8192 → …312.5 → 313) while
    DuckDB's rounds half-EVEN (→ 312), and dyadic-coarse components
    (LSB ≥ 2^-13) land exactly on those ties. The floor form is
    engine-identical for every double with |v|·1e12 < 2^53: both
    engines compute the same correctly-rounded product and the same
    floor. After quantization, mean and variance are EXACT integer
    rationals:
    mean = q1/(1e12·n), var = (n·q2 − q1²)/(1e24·n²), both rounded
    half-up via the DECIMAL(38,0) ratio helpers. No float summation
    order anywhere — the result is bit-identical on any partitioning
    and any engine. Bounds: q ≤ 1e12 ⇒ n·q2 ≤ n²·1e24 ≤ ~4e30 and
    2·10⁶·num ≤ ~8e36 < 10³⁸, inside the DECIMAL(38,0) contract.

    Scale shape: posexplode is map-side dim fan-out inside the task;
    the ONLY shuffle carries (dim, partial count/Σq/Σq²) combiner
    rows — bounded by dim × partitions, independent of corpus size.
    No joins, no windows; vectors never move."""
    mag = F.floor(F.abs(F.col("__v")) * F.lit(1_000_000_000_000.0) + F.lit(0.5))
    q = (
        F.when(F.col("__v") >= 0, mag).otherwise(-mag)
        .cast("long")
        .cast("decimal(13,0)")
    )
    comp = (
        df.select(F.posexplode(F.col(vec_col)).alias("dim", "__v0"))
        .select("dim", F.col("__v0").cast("double").alias("__v"))
        .select("dim", q.alias("__q"))
    )
    agg = comp.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__q").alias("__q1"),
        F.sum(F.col("__q") * F.col("__q")).alias("__q2"),
    )
    e24 = F.lit("1000000000000000000000000").cast("decimal(38,0)")
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        # the 1e12·n denominator is formed in DECIMAL(38,0): a BIGINT
        # product would ANSI-overflow once a dimension has n ≥ ~9.2e6
        # vectors (ADVICE r9), defeating the exact-DECIMAL design.
        _round6_ratio_dec_signed(
            F.col("__q1"),
            F.lit(1_000_000_000_000).cast("decimal(38,0)")
            * F.col("n").cast("decimal(38,0)"),
        ).alias("mean_v"),
        # population variance is a non-negative exact rational, so the
        # unsigned DECIMAL ratio applies
        _round6_ratio_dec(
            F.col("n").cast("decimal(38,0)") * F.col("__q2")
            - F.col("__q1") * F.col("__q1"),
            e24 * (F.col("n") * F.col("n")).cast("decimal(38,0)"),
        ).alias("var_v"),
    )


def cluster_balanced_sample(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    per_cluster: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced selection over the deterministic k-means
    partition — SemDeDup's companion SELECTION step (Abbas et al.
    2023 pair pruning keeps diversity by working within clusters;
    the same clustering then SAMPLES evenly across clusters so no
    dense region dominates the kept set). Each of the ``k`` clusters
    contributes its ``per_cluster`` members with the smallest
    md5(id) draw — seed-free, so an independent engine reproduces
    the exact pick.

    Returns (cluster_id, n_in_cluster, pick_rank, vec_id) — one row
    per selected vector, rank 1..per_cluster within its cluster
    (fewer when the cluster is smaller).

    Scale shape: assignment is the shared ``_kmeans_final_assign``
    loop (broadcast centroids, corpus never shuffles); the pick is
    one per-cluster window over (cluster, id, hash) short rows —
    vectors don't enter the window."""
    final = _kmeans_final_assign(df, k, iters, id_col, vec_col)
    pri = final.select(
        F.col("cid"),
        F.col("__id"),
        F.md5(F.col("__id").cast("string")).alias("__h"),
    )
    w = Window.partitionBy("cid").orderBy("__h", "__id")
    sz = Window.partitionBy("cid")
    return (
        pri.withColumn("__rn", F.row_number().over(w))
        .withColumn("__nc", F.count("*").over(sz))
        .where(F.col("__rn") <= per_cluster)
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("__nc").cast("long").alias("n_in_cluster"),
            F.col("__rn").cast("long").alias("pick_rank"),
            F.col("__id").alias(id_col),
        )
    )


def ivf_list_balance(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF inverted-list balance audit: per k-means list, its size,
    corpus share, and load factor (size · k / N — 1.0 = perfectly
    balanced). The index-health companion to ``embedding_moments``:
    an IVF index's probe cost follows the sizes of the lists a query
    touches, so one hot list (load factor ≫ 1) silently erases the
    k× speedup the index exists for — the standard signal to re-train
    centroids, split the hot list, or whiten first (the
    ``embedding_moments`` anisotropy case).

    Shares and load factors are exact integer count ratios (k·size
    and size over N — the midpoint-class rule).

    Scale shape: the shared broadcast-centroid assignment, then ONE
    k-row aggregate; the corpus total rides a 1-row broadcast join.
    Vectors never shuffle."""
    final = _kmeans_final_assign(df, k, iters, id_col, vec_col)
    sizes = final.groupBy("cid").agg(F.count("*").cast("long").alias("n_vecs"))
    tot = sizes.agg(F.sum("n_vecs").cast("long").alias("__n"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        F.col("cid").alias("list_id"),
        "n_vecs",
        _round6_ratio(F.col("n_vecs"), F.greatest(F.col("__n"), F.lit(1))).alias(
            "share"
        ),
        _round6_ratio(
            F.col("n_vecs") * F.lit(k), F.greatest(F.col("__n"), F.lit(1))
        ).alias("load_factor"),
    )


def rp_distortion(
    df: DataFrame,
    dim: int,
    planes: int = 16,
    max_id: int = 192,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection fidelity audit: on a bounded id-capped vector
    sample, compare every pair's SRP signature hamming distance against
    its true cosine — per hamming bucket (0…``planes``), the pair count
    and the mean/min/max true cosine. The Johnson–Lindenstrauss-style
    sanity check run BEFORE committing a corpus-scale index to
    ``planes`` bits: healthy hyperplanes give a mean cosine that
    decreases monotonically in hamming distance with tight min/max
    bands; flat or inverted buckets mean the planes are too few (or the
    space too anisotropic — see ``embedding_moments``) and the banded
    recall of ``srp_near_pairs``/``lsh_topk`` will disappoint at any
    setting. Uses the SAME deterministic md5 hyperplanes as the
    production SRP operators, so this audits the actual index family,
    not a synthetic one.

    Determinism: per-pair cosine is a sequential in-row fold (no
    cross-row float sums anywhere); each cosine is quantized to integer
    micro-units with the engine-identical sign·floor(|c|·10⁶ + 0.5)
    rule (the embedding_moments quantizer), so the bucket means are
    exact integer rationals Σq/(n·10⁶) and min/max are exact integer
    picks. Zero-norm vectors carry the library's −1.0 cosine sentinel.

    Scale shape: the sample is id-capped (default 192 vectors →
    ≤ 18,336 pairs, constant in corpus size), so the pair step is a
    broadcast nested-loop on a bounded block — the documented
    bounded-audit pattern (embed_near_pairs precedent); everything
    downstream is a ≤ (planes+1)-row aggregate. The production paths
    this audits stay banded end to end."""
    base = df.where(F.col(id_col) < max_id)
    vec = F.col(vec_col).cast("array<double>")
    n = add_lsh_bucket(base, dim, planes, vec_col).select(
        F.col(id_col), vec.alias("v"), norm(vec).alias("nrm"), "lsh_bucket"
    )
    a, b = n.alias("a"), n.alias("b")
    cos = F.when(
        F.col("a.nrm") * F.col("b.nrm") > 0,
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
    ).otherwise(F.lit(-1.0))
    mag = F.floor(F.abs(cos) * F.lit(1_000_000.0) + F.lit(0.5))
    q = F.when(cos >= 0, mag).otherwise(-mag).cast("long")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
        F.bit_count(
            F.col("a.lsh_bucket").bitwiseXOR(F.col("b.lsh_bucket"))
        ).cast("long").alias("hamming"),
        q.alias("__q"),
    )
    from kairos_spark.exact import _round6_ratio_dec_signed

    return pairs.groupBy("hamming").agg(
        F.count("*").cast("long").alias("n_pairs"),
        _round6_ratio_dec_signed(
            F.sum("__q"),
            F.count("*").cast("decimal(38,0)") * F.lit(1_000_000),
        ).alias("mean_cosine"),
        (F.min("__q") / F.lit(1_000_000.0)).alias("min_cosine"),
        (F.max("__q") / F.lit(1_000_000.0)).alias("max_cosine"),
    )


def ivf_probe_sweep(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nlist: int = 16,
    probes: tuple[int, ...] = (1, 2, 4, 8),
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF tuning sweep: for each candidate ``nprobe``, the exact
    recall@k AND the fraction of the corpus an nprobe-probe scan would
    touch — the two numbers whose trade-off picks the index config
    before a corpus-scale build (``lsh_recall``'s sibling for the IVF
    family; same centroids/assignment as ``ivf_topk``, so it audits
    the production index, not a synthetic one).

    The trick that keeps it cheap: recall@k needs NO per-probe
    rescoring. A true neighbor is found at ``nprobe`` = p iff the list
    it is ASSIGNED to ranks ≤ p among the query's centroid
    preferences, so one exact top-k (the audited ground truth) joined
    to the assignment and the Q×nlist list-rank table answers every p
    at once; the scanned fraction is a rank-conditioned sum over list
    sizes. Both outputs are exact integer ratios (hit counts over
    exact-neighbor counts; probed-list size sums over Q·N, DECIMAL-
    routed at corpus scale).

    Scale shape: assignment is the ivf_topk broadcast argmin
    (map-only, corpus never shuffles on id); list sizes are one
    combiner aggregate; the exact top-k is knn_join's broadcast-query
    salted merge; everything after runs on Q·k + Q·nlist audit rows.
    """
    vec = F.col(vec_col).cast("array<double>")
    small = corpus.orderBy(id_col).limit(nlist).select(
        F.col(id_col).alias("__cid"), vec.alias("cvec")
    )
    centroids = small.select(
        (F.row_number().over(Window.orderBy("__cid")) - 1).alias("list_id"), "cvec"
    )
    packed = centroids.select(
        F.struct(
            F.col("list_id"), F.col("cvec"), norm(F.col("cvec")).alias("cnorm")
        ).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("__cents"))
    vnorm = norm(vec)
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                F.when(
                    vnorm * c["cnorm"] > 0,
                    -(dot(vec, c["cvec"]) / (vnorm * c["cnorm"])),
                )
                .otherwise(F.lit(1.0))
                .alias("dist"),
                c["list_id"].alias("list_id"),
            ),
        )
    )
    assigned = corpus.join(F.broadcast(packed)).select(
        F.col(id_col).alias("__id"),
        F.coalesce(best["list_id"], F.lit(-1)).alias("list_id"),
    )
    sizes = assigned.groupBy("list_id").agg(F.count("*").cast("long").alias("__sz"))
    qdf = queries.select(F.col(q_id_col).alias("__q"), vec.alias("__qv"))
    qrank = (
        qdf.crossJoin(F.broadcast(centroids))
        .select(
            "__q",
            "list_id",
            cosine(F.col("cvec"), F.col("__qv")).alias("__qc"),
        )
        .select(
            "__q",
            "list_id",
            F.row_number()
            .over(
                Window.partitionBy("__q").orderBy(
                    F.col("__qc").desc(), F.col("list_id")
                )
            )
            .cast("long")
            .alias("__r"),
        )
    )
    exact = knn_join(
        queries, corpus, k=k, q_id_col=q_id_col, id_col=id_col, vec_col=vec_col
    ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
    hitr = (
        exact.join(assigned, "__id")
        .join(F.broadcast(qrank), ["__q", "list_id"])
        .select("__r")
    )
    pcol = F.explode(F.array(*[F.lit(int(p)) for p in probes])).alias("nprobe")
    rec = (
        hitr.select("__r", pcol)
        .groupBy("nprobe")
        .agg(
            F.sum(F.when(F.col("__r") <= F.col("nprobe"), 1).otherwise(0)).alias("__h"),
            F.count("*").alias("__t"),
        )
    )
    from kairos_spark.exact import _round6_ratio_dec

    sc = (
        qrank.join(sizes, "list_id")
        .select("__r", "__sz", pcol)
        .groupBy("nprobe")
        .agg(
            F.sum(
                F.when(F.col("__r") <= F.col("nprobe"), F.col("__sz")).otherwise(0)
            ).alias("__num"),
            F.sum("__sz").alias("__den"),
        )
    )
    return rec.join(sc, "nprobe").select(
        F.col("nprobe").cast("long").alias("nprobe"),
        _round6_ratio(F.col("__h"), F.col("__t")).alias("recall"),
        _round6_ratio_dec(F.col("__num"), F.col("__den")).alias("scanned_frac"),
    )


def quant_recall(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    levels: int = 255,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieval-grade quantization audit: exact top-k recall of the
    int8-style quantize→dequantize corpus (``quantize_audit``'s grid —
    per-dim uniform levels over the corpus [min, max], floor(x·L+0.5)
    level rule) against the full-precision top-k, per query —
    (q_id, recall). RMSE (``quantize_audit``) says how far vectors
    move; THIS says whether the move changes what retrieval returns,
    which is the number that actually gates shipping a quantized
    index. Asymmetric serving mode: queries stay full-precision,
    corpus is dequantized.

    Determinism: per-dim (lo, hi) ride ONE packed broadcast row
    (array_sort'd structs — the ivf_topk centroid pattern, no driver
    collect); dequantization is an in-row F.transform with the
    engine-identical floor level rule and literal association
    lo + q·w/L, so both engines build bit-identical dequantized
    vectors; both rankings run through knn_join's rounded-cosine +
    id tie-break, and recall is an exact hit/k integer ratio.

    Scale shape: the range pass is a posexplode → |dims|-row combiner
    aggregate; dequantization is map-only under a 1-row broadcast;
    both top-k passes are knn_join's broadcast-query salted merges
    (corpus never shuffles); the recall join runs on Q·k audit rows."""
    vec = F.col(vec_col).cast("array<double>")
    rng = (
        corpus.select(F.posexplode(vec).alias("__d", "__v"))
        .groupBy("__d")
        .agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    )
    packed = rng.select(
        F.struct(F.col("__d"), F.col("__lo"), F.col("__hi")).alias("r")
    ).agg(F.array_sort(F.collect_list("r")).alias("__rng"))
    lo = lambda i: F.element_at(F.col("__rng"), i + 1)["__lo"]  # noqa: E731
    hi = lambda i: F.element_at(F.col("__rng"), i + 1)["__hi"]  # noqa: E731

    def deq(x, i):
        w = hi(i) - lo(i)
        q = F.floor(((x - lo(i)) / w) * levels + F.lit(0.5))
        return F.when(w == 0, lo(i)).otherwise(lo(i) + q * w / levels)

    corpus_deq = corpus.join(F.broadcast(packed)).select(
        F.col(id_col), F.transform(vec, deq).alias(vec_col)
    )
    exact = knn_join(
        queries, corpus, k=k, q_id_col=q_id_col, id_col=id_col, vec_col=vec_col
    ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
    approx = knn_join(
        queries, corpus_deq, k=k, q_id_col=q_id_col, id_col=id_col, vec_col=vec_col
    ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
    # both ranking outputs are k x |queries| audit frames — broadcast
    # the exact side so no sort-merge exchange appears for 50-row frames
    hits = approx.join(F.broadcast(exact), ["__q", "__id"]).groupBy("__q").agg(
        F.count("*").alias("__h")
    )
    allq = exact.groupBy("__q").agg(F.count("*").alias("__t"))
    return allq.join(F.broadcast(hits), "__q", "left").select(
        F.col("__q").alias("q_id"),
        _round6_ratio(
            F.coalesce(F.col("__h"), F.lit(0)), F.greatest(F.col("__t"), F.lit(1))
        ).alias("recall"),
    )


def embedding_anisotropy(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Cross-dimension anisotropy audit: the covariance matrix's top
    eigenvalue (3-step power iteration from the all-ones start) and its
    share of total variance — the whitening signal
    ``embedding_moments``' per-dim (diagonal) view cannot see: a space
    can have perfectly uniform per-dim variances and still collapse
    onto one direction (common-token drift in contrastive embeddings),
    which wrecks IVF/LSH bucket balance. λ₁/trace ≈ 1/dim is isotropic;
    a large share says rotate/whiten before building the index.

    Output: one row (n, dim, trace_var, top_eigenvalue, top_share).

    Determinism: the covariance accumulates per (d1, d2) from a
    map-side pair fan-out (no vector joins); the iteration is a fixed
    unrolled plan; Spark's group sums vs DuckDB's differ only in float
    association (the label_centroid_dists precedent — the diffuse
    bounded class, and power iteration is contractive so noise does
    not amplify), with outputs bridge-rounded. The deterministic
    all-ones start makes the whole construction oracle-reproducible;
    sqrt is IEEE bit-exact.

    Scale shape: the pair fan-out is in-task (dim² rows per vector)
    with map-side combine bounding the shuffle at dim² × partitions;
    every iteration runs on the dim²-row covariance table joined to a
    dim-row vector (broadcast); only dim-grain rows move after the
    first aggregate."""
    vec = F.col(vec_col).cast("array<double>")
    pairs = (
        df.select(vec.alias("__v"), F.posexplode(vec).alias("__d1", "__x1"))
        .select("__d1", "__x1", F.posexplode("__v").alias("__d2", "__x2"))
    )
    stats = pairs.groupBy("__d1", "__d2").agg(
        F.count("*").alias("__n"),
        F.sum(F.col("__x1") * F.col("__x2")).alias("__sxy"),
        F.sum("__x1").alias("__sx"),
        F.sum("__x2").alias("__sy"),
    )
    n = F.col("__n").cast("double")
    cov = stats.select(
        "__d1",
        "__d2",
        F.col("__n"),
        (F.col("__sxy") / n - (F.col("__sx") / n) * (F.col("__sy") / n)).alias("__c"),
    )
    w = cov.where(F.col("__d1") == F.col("__d2")).select(
        F.col("__d1").alias("__d"), F.lit(1.0).alias("__w")
    )
    for _ in range(int(iters)):
        y = (
            cov.join(F.broadcast(w), cov["__d2"] == w["__d"])
            .groupBy("__d1")
            .agg(F.sum(F.col("__c") * F.col("__w")).alias("__y"))
        )
        nrm = y.agg(F.sqrt(F.sum(F.col("__y") * F.col("__y"))).alias("__nn"))
        w = y.crossJoin(F.broadcast(nrm)).select(
            F.col("__d1").alias("__d"),
            F.when(F.col("__nn") > 0, F.col("__y") / F.col("__nn"))
            .otherwise(F.lit(0.0))
            .alias("__w"),
        )
    # Rayleigh quotient wᵀCw with the final unit vector (wᵀw = 1)
    wa = w.select(F.col("__d").alias("__da"), F.col("__w").alias("__wa"))
    wb = w.select(F.col("__d").alias("__db"), F.col("__w").alias("__wb"))
    lam = (
        cov.join(F.broadcast(wa), cov["__d1"] == wa["__da"])
        .join(F.broadcast(wb), cov["__d2"] == wb["__db"])
        .agg(F.sum(F.col("__wa") * F.col("__c") * F.col("__wb")).alias("__lam"))
    )
    tr = cov.where(F.col("__d1") == F.col("__d2")).agg(
        F.sum("__c").alias("__tr"),
        F.max("__n").cast("long").alias("n"),
        F.count("*").cast("long").alias("dim"),
    )
    from kairos_spark.exact import _round6_bridge

    return tr.crossJoin(F.broadcast(lam)).select(
        "n",
        "dim",
        _round6_bridge(F.col("__tr")).alias("trace_var"),
        _round6_bridge(F.col("__lam")).alias("top_eigenvalue"),
        F.when(
            F.col("__tr") > 0, _round6_bridge(F.col("__lam") / F.col("__tr"))
        )
        .otherwise(F.lit(0.0))
        .alias("top_share"),
    )


def knn_stability(
    df: DataFrame,
    dim: int,
    planes: int = 16,
    k: int = 10,
    max_id: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-neighborhood stability audit: on a bounded id-capped
    sample, each vector's EXACT top-``k`` cosine neighbors are computed
    twice — in the full ``dim``-d space and in a ``planes``-d
    REAL-VALUED random projection (the same deterministic md5
    hyperplanes as the SRP index family, kept as real dot products
    instead of sign bits) — and the per-query neighbor-set overlap is
    histogrammed. This is the Johnson–Lindenstrauss check at the grain
    that actually matters for retrieval: ``rp_distortion`` audits
    pairwise DISTANCES, this audits who-your-neighbors-ARE (the thing
    k-NN graph builds, semantic dedup and UMAP-style maps consume). A
    healthy projection concentrates mass at overlap ≈ k; a flat or
    low histogram means ``planes`` dims lose the neighborhood and any
    index built on them will too. Returns (overlap, n_queries),
    overlap ∈ [0, k].

    Determinism: projection components, norms and cosines are all
    sequential in-row folds (``dot``/``norm``), bit-identical to the
    oracle's ordered list_dot_product; cosines quantize to integer
    µ-units with the sign·floor rule BEFORE ranking; both rankings
    break ties on neighbor id (the top-k invariant). Zero-norm vectors
    score the library's −1.0 sentinel in both spaces.

    Scale shape: the sample is id-capped (default 128 → 16,256 scored
    pairs, constant in corpus size) — the documented bounded-audit
    pattern (rp_distortion precedent). A corpus-scale neighbor graph
    would come from ``knn_join``; this audits the projection BEFORE
    that spend."""
    from pyspark.sql.window import Window

    base = df.where(F.col(id_col) < max_id)
    vec = F.col(vec_col).cast("array<double>")
    n0 = base.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        F.array(*[dot(vec, _hyperplane(h, dim)) for h in range(planes)]).alias(
            "pv"
        ),
    )
    n = n0.select("id", "v", "pv", norm(F.col("v")).alias("nf"),
                  norm(F.col("pv")).alias("np"))

    def q6(cos):
        mag = F.floor(F.abs(cos) * F.lit(1_000_000.0) + F.lit(0.5))
        return F.when(cos >= 0, mag).otherwise(-mag).cast("long")

    a, b = n.alias("a"), n.alias("b")
    cf = F.when(
        F.col("a.nf") * F.col("b.nf") > 0,
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nf") * F.col("b.nf")),
    ).otherwise(F.lit(-1.0))
    cp = F.when(
        F.col("a.np") * F.col("b.np") > 0,
        dot(F.col("a.pv"), F.col("b.pv")) / (F.col("a.np") * F.col("b.np")),
    ).otherwise(F.lit(-1.0))
    pairs = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("qa"),
        F.col("b.id").alias("nb"),
        q6(cf).alias("qf"),
        q6(cp).alias("qp"),
    )
    wf = Window.partitionBy("qa").orderBy(F.col("qf").desc(), F.col("nb"))
    wp = Window.partitionBy("qa").orderBy(F.col("qp").desc(), F.col("nb"))
    r = pairs.select(
        "qa",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    ov = r.groupBy("qa").agg(
        F.sum(
            F.when((F.col("rf") <= k) & (F.col("rp") <= k), 1).otherwise(0)
        ).cast("long").alias("overlap")
    )
    return ov.groupBy("overlap").agg(
        F.count("*").cast("long").alias("n_queries")
    )


def quant_bits_sweep(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    levels_list: tuple = (15, 63, 255),
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-bit quantization recall sweep — ``quant_recall``'s levels
    axis: the int4 / int6 / int8 recall curve (levels = 2^bits − 1)
    that decides how far an embedding index can be compressed before
    retrieval degrades (the PQ/SQ bits-vs-recall tables in Johnson et
    al. 2019 / the FAISS wiki, reduced to scalar quantization). One
    row per level with MICRO-averaged recall — total exact-top-k hits
    over total exact-top-k slots as ONE exact integer ratio (a mean of
    per-query rounded ratios would be a midpoint-class hazard; the
    restructure-to-one-ratio rule).

    Output: (q_levels, bits, n_queries, n_exact, n_hits, recall).

    Scale shape: the exact full-precision top-k is computed ONCE and
    reused across levels; each level adds one map-only dequantized
    corpus (1-row broadcast of the per-dim grid) and one knn_join pass
    (broadcast queries, salted two-phase merge — corpus never
    shuffles); hit counting joins Q·k audit rows per level. Cost is
    |levels| + 1 retrieval passes, each the proven knn_join shape."""
    vec = F.col(vec_col).cast("array<double>")
    rng = (
        corpus.select(F.posexplode(vec).alias("__d", "__v"))
        .groupBy("__d")
        .agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    )
    packed = rng.select(
        F.struct(F.col("__d"), F.col("__lo"), F.col("__hi")).alias("r")
    ).agg(F.array_sort(F.collect_list("r")).alias("__rng"))
    lo = lambda i: F.element_at(F.col("__rng"), i + 1)["__lo"]  # noqa: E731
    hi = lambda i: F.element_at(F.col("__rng"), i + 1)["__hi"]  # noqa: E731

    exact = knn_join(
        queries, corpus, k=k, q_id_col=q_id_col, id_col=id_col, vec_col=vec_col
    ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
    exact = exact.localCheckpoint(eager=False)
    totals = exact.agg(
        F.count_distinct("__q").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_exact"),
    )

    # closure factory, not a default arg: PySpark derives the lambda's
    # arity from its parameter COUNT (defaults included), and transform
    # only accepts 1- or 2-arg callables
    def _deq_fn(L):
        def deq(x, i):
            w = hi(i) - lo(i)
            q = F.floor(((x - lo(i)) / w) * L + F.lit(0.5))
            return F.when(w == 0, lo(i)).otherwise(lo(i) + q * w / L)

        return deq

    per_level = []
    for levels in levels_list:
        levels = int(levels)
        corpus_deq = corpus.join(F.broadcast(packed)).select(
            F.col(id_col), F.transform(vec, _deq_fn(levels)).alias(vec_col)
        )
        approx = knn_join(
            queries, corpus_deq, k=k, q_id_col=q_id_col, id_col=id_col,
            vec_col=vec_col,
        ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
        hits = approx.join(F.broadcast(exact), ["__q", "__id"]).agg(
            F.count("*").cast("long").alias("n_hits")
        )
        per_level.append(
            totals.crossJoin(F.broadcast(hits)).select(
                F.lit(levels).cast("long").alias("q_levels"),
                F.lit(int((levels + 1).bit_length() - 1))
                .cast("long")
                .alias("bits"),
                "n_queries",
                "n_exact",
                "n_hits",
                _round6_ratio(
                    F.col("n_hits"), F.greatest(F.col("n_exact"), F.lit(1))
                ).alias("recall"),
            )
        )
    out = per_level[0]
    for frame in per_level[1:]:
        out = out.unionByName(frame)
    return out


def pq_recall(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m_list: tuple = (2, 4, 8),
    n_codes: int = 16,
    dim: int = 64,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization recall sweep — ``quant_bits_sweep``'s PQ
    sibling (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): split each vector into ``m`` subspaces, encode
    every subvector as its nearest of ``n_codes`` codebook entries,
    and measure what retrieval against the RECONSTRUCTED corpus still
    recalls of the exact top-k. One row per m — the
    compression-vs-recall curve that sizes a PQ index (code bytes per
    vector = m·log2(n_codes)/8).

    Codebooks are DETERMINISTIC — the ``n_codes`` lowest-id corpus
    vectors' subvectors (code order = id order). A production index
    would train them with k-means; the audit framework (encode →
    reconstruct → re-rank → micro-averaged recall) is identical and
    stays oracle-reproducible. Encoding and ranking both use the
    ROUNDED cosine (the attested engine-parity surface:
    round(list_cosine_similarity,6) == F.round(cosine(),6)) — max
    rounded similarity, ties to the lowest code — i.e. spherical PQ,
    the inner-product/cosine-metric variant (ScaNN's regime), NOT L2:
    a raw L2 argmin would hang a DISCRETE code choice on an
    unattested float-association surface, which is exactly the
    near-tie hazard the rounding convention exists to kill.

    Output: (m_subspaces, code_bits, n_queries, n_exact, n_hits,
    recall) with micro-averaged recall as ONE exact integer ratio
    (total hits / total exact slots — the quant_bits_sweep rule).

    Scale shape: the codebook is a bounded top-``n_codes`` packed
    into ONE broadcast row (the quant_recall grid pattern — no driver
    collect); encoding is a map-only projection per vector (m ·
    n_codes in-row cosine folds); the exact top-k is computed ONCE
    and reused; each m adds one knn_join pass (broadcast queries,
    salted merge — corpus never shuffles)."""
    for m in m_list:
        if dim % int(m) != 0:
            raise ValueError(f"m={m} must divide dim={dim}")
    vec = F.col(vec_col).cast("array<double>")
    cb = (
        corpus.select(F.col(id_col), vec.alias("__cv"))
        .orderBy(id_col)
        .limit(int(n_codes))
        .select(F.struct(F.col(id_col).alias("cid"), F.col("__cv").alias("cv")).alias("c"))
        .agg(F.array_sort(F.collect_list("c")).alias("__cb"))
    )

    exact = knn_join(
        queries, corpus, k=k, q_id_col=q_id_col, id_col=id_col, vec_col=vec_col
    ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
    exact = exact.localCheckpoint(eager=False)
    totals = exact.agg(
        F.count_distinct("__q").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_exact"),
    )

    import math

    per_m = []
    for m in m_list:
        m = int(m)
        sub = dim // m
        # closure factory, not a default arg: PySpark derives a
        # transform lambda's arity from its parameter COUNT (defaults
        # included) — a `_lo=lo_` default would receive the array
        # INDEX as its second argument (the quant_bits_sweep _deq_fn
        # precedent)
        def _sim_fn(lo_):
            def sim(c):
                return F.round(
                    cosine(
                        F.slice(vec, lo_, sub), F.slice(c["cv"], lo_, sub)
                    ),
                    6,
                )

            return sim

        recon_parts = []
        for j in range(m):
            lo_ = j * sub + 1
            sims = F.transform(F.col("__cb"), _sim_fn(lo_))
            # first max = lowest code on rounded ties (engine-exact)
            code = F.array_position(sims, F.array_max(sims))
            recon_parts.append(
                F.slice(F.element_at(F.col("__cb"), code.cast("int"))["cv"], lo_, sub)
            )
        corpus_pq = corpus.join(F.broadcast(cb)).select(
            F.col(id_col), F.concat(*recon_parts).alias(vec_col)
        )
        approx = knn_join(
            queries, corpus_pq, k=k, q_id_col=q_id_col, id_col=id_col,
            vec_col=vec_col,
        ).select(F.col("q_id").alias("__q"), F.col(id_col).alias("__id"))
        hits = approx.join(F.broadcast(exact), ["__q", "__id"]).agg(
            F.count("*").cast("long").alias("n_hits")
        )
        per_m.append(
            totals.crossJoin(F.broadcast(hits)).select(
                F.lit(m).cast("long").alias("m_subspaces"),
                F.lit(m * int(math.log2(n_codes))).cast("long").alias("code_bits"),
                "n_queries",
                "n_exact",
                "n_hits",
                _round6_ratio(
                    F.col("n_hits"), F.greatest(F.col("n_exact"), F.lit(1))
                ).alias("recall"),
            )
        )
    out = per_m[0]
    for frame in per_m[1:]:
        out = out.unionByName(frame)
    return out


def prototypicality(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster prototypicality profile — the D4 / SSL-Prototypes
    view of the embedding space (Tirumala et al. 2023, arXiv:
    2308.12284; Sorscher et al. 2022): after SemDeDup's clustering,
    rank every vector by its distance to its cluster centroid. The
    closest points are the cluster's PROTOTYPES (too-easy, what
    SSL-prototype pruning drops); the farthest are its outliers. Per
    cluster this emits the distance profile that drives that cut:
    (cluster_id, n_vecs, mean_dist, p20_dist, min_dist, max_dist)
    with p20_dist the distance at rank max(1, n div 5) — the
    waterline a drop-the-closest-20% policy would use. A cluster
    whose p20 ≈ max is templated/redundant; a long min→max tail says
    the cluster absorbed outliers and pruning by distance is unsafe.

    Shares ``_kmeans_final_assign`` with kmeans/semdedup (identical
    seeding/tie rules by construction). Distances are squared L2 to
    the final centroid, rounded to 6 decimals before ranking (the knn
    rounded-score convention); mean_dist is the EXACT integer ratio
    of 1e6-quantized distances (sign-free floor(x*1e6 + 0.5) — the
    embedding_moments quantizer), routed through the DECIMAL ratio
    helper since the sum can pass the BIGINT product ceiling.

    Scale shape: clustering is the broadcast-centroid map-only loop;
    the ranking window is PARTITIONED by cluster (per-cluster sort,
    never a global order); everything after runs at cluster grain."""
    a = _kmeans_final_assign(df, k, iters, id_col, vec_col)
    d6 = F.round(F.col("dist"), 6)
    base = a.select(
        F.col("cid").alias("cluster_id"),
        F.col("__id").alias("id"),
        d6.alias("__d6"),
        F.floor(d6 * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias("__m6"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__d6").asc(), F.col("id").asc()
    )
    cnt = F.count("*").over(Window.partitionBy("cluster_id"))
    ranked = base.select(
        "*", F.row_number().over(w).alias("__rk"), cnt.alias("__n")
    )
    p20 = ranked.where(
        F.col("__rk") == F.greatest(F.lit(1), F.expr("__n div 5"))
    ).select("cluster_id", F.col("__d6").alias("p20_dist"))
    agg = base.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("__m6").alias("__msum"),
        F.min("__d6").alias("min_dist"),
        F.max("__d6").alias("max_dist"),
    )
    return (
        agg.join(F.broadcast(p20), "cluster_id")
        .select(
            "cluster_id",
            "n_vecs",
            _round6_ratio_dec(
                F.col("__msum"), F.col("n_vecs") * F.lit(1_000_000)
            ).alias("mean_dist"),
            "p20_dist",
            "min_dist",
            "max_dist",
        )
        .orderBy("cluster_id")
    )


def _sqdist_cols(a: Column, b: Column) -> Column:
    """Squared L2 as the canonical left-to-right fold (oracle mirror:
    list_reduce over list_prepend(0.0, list_transform(list_zip(...))))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kcenter_coreset(
    df: DataFrame,
    k: int = 8,
    sample_vecs: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Gonzalez farthest-point k-center selection trace — the
    coverage-first coreset recipe (Gonzalez 1985's 2-approximation;
    the k-center seeding of D4-style diversity selection, where
    ``prototypicality`` is the density view and ``facility_select``
    the lexical-coverage view): from a bounded vector sample, seed at
    the lowest id, then repeatedly pick the vector FARTHEST from the
    selected set (max over candidates of min squared L2 to any pick).
    The emitted radius curve is the covering-radius guarantee after
    each pick — a steep drop says a few exemplars cover the space; a
    flat tail says the sample is genuinely diverse and small coresets
    under-cover it. A final sentinel row (vec_id = −1) carries the
    covering radius AFTER all k picks — the actual k-center objective
    achieved.

    Determinism / parity: distances fold left-to-right over
    float32→double-exact components (both engines produce the
    IDENTICAL double), min/argmax compare those raw doubles, and the
    emitted radius is quantized sign-free at 1e-6
    (floor(d·1e6 + 0.5) — the embedding_moments quantizer, NOT bare
    round(d, 6), so no shortest-string-vs-multiply midpoint surface).
    Argmax ties break on min id. The seed row carries radius 0.0; an
    exhausted sample (fewer vectors than k) just ends the trace
    early, and the sentinel row's radius coalesces to 0.0 when no
    candidates remain — no NULL anywhere.

    Output: (step, vec_id, radius); steps 1..min(k, n) picks plus the
    min(k, n)+1 sentinel row.

    Scale shape: the facility_select bounded-audit pattern —
    ``sample_vecs`` lowest ids via one top-k, then k driver steps,
    each one broadcast join of the ≤k selected vectors against the
    bounded candidate set collecting ONE scalar row (the bfs_reach
    single-scalar precedent). Never run uncapped: k-center is
    inherently sequential; at corpus scale use the IVF/LSH families
    for coverage and this audit on a sample to SIZE them."""
    capped = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("id")
        .limit(int(sample_vecs))
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    seed = capped.orderBy("id").limit(1).select("id").collect()
    if not seed:
        return spark.createDataFrame(
            [], "step long, vec_id long, radius double"
        )
    selected = [int(seed[0][0])]
    rows = [(1, selected[0], 0.0)]

    def _dmin_frame():
        sel = F.broadcast(
            capped.where(F.col("id").isin(selected)).select(
                F.col("id").alias("sid"), F.col("v").alias("sv")
            )
        )
        cand = capped.where(~F.col("id").isin(selected))
        return (
            cand.crossJoin(sel)
            .select("id", _sqdist_cols(F.col("v"), F.col("sv")).alias("d"))
            .groupBy("id")
            .agg(
                F.floor(F.min("d") * F.lit(1_000_000.0) + F.lit(0.5))
                .cast("long")
                .alias("m6")
            )
        )

    for step in range(2, int(k) + 1):
        pick = (
            _dmin_frame()
            .orderBy(F.col("m6").desc(), F.col("id").asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        pid, m6 = int(pick[0][0]), int(pick[0][1])
        selected.append(pid)
        rows.append((step, pid, m6 / 1_000_000.0))
    fin = _dmin_frame().agg(F.coalesce(F.max("m6"), F.lit(0))).collect()
    rows.append((len(rows) + 1, -1, int(fin[0][0]) / 1_000_000.0))
    return spark.createDataFrame(
        rows, "step long, vec_id long, radius double"
    )


def kcenter_first_step(
    df: DataFrame,
    sample_vecs: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The per-step distance/argmax frame of :func:`kcenter_coreset`
    with the seed as the selected set — exposed so plan auditing can
    assert the REAL step plan (broadcast of the ≤k selected vectors
    into the bounded candidate set + one hash aggregate) instead of
    the trace's LocalTableScan-by-construction (the
    facility_first_step precedent, ADVICE r12)."""
    capped = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("id")
        .limit(int(sample_vecs))
    )
    sel = F.broadcast(
        capped.orderBy("id")
        .limit(1)
        .select(F.col("id").alias("sid"), F.col("v").alias("sv"))
    )
    cand = capped.join(
        sel.select(F.col("sid").alias("id")), "id", "left_anti"
    )
    return (
        cand.crossJoin(sel)
        .select("id", _sqdist_cols(F.col("v"), F.col("sv")).alias("d"))
        .groupBy("id")
        .agg(
            F.floor(F.min("d") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("m6")
        )
        .orderBy(F.col("m6").desc(), F.col("id").asc())
        .limit(1)
    )


def participation_ratio(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Effective dimensionality of the embedding space as the
    PARTICIPATION RATIO of the (uncentered) second-moment matrix
    S_ij = Σ_n x_i·x_j: PR = (Σ_i S_ii)² / Σ_ij S_ij² =
    (Σλ)²/Σλ² over S's eigenvalues — the spectrum-flatness number
    (1 = all variance on one axis, d = perfectly isotropic) used
    across representation analysis (the PR of Gao et al. 2017's
    neural-dimensionality literature; the whitening-need diagnostic
    of the anisotropy line, Ethayarajh 2019). Complements
    ``embedding_anisotropy``: that reports the TOP eigenvalue's
    share via power iteration; PR summarizes the whole spectrum
    WITHOUT any iteration — and because (Σλ)² and Σλ² are both
    polynomial in the moment sums, it is computed here EXACTLY.
    Uncentered by design (the mean direction is part of what
    retrieval sees; anisotropy isolates it).

    Exactness: each per-row product x_i·x_j is one IEEE multiply of
    float32→double-exact components (engine-identical), quantized
    sign-free at 1e-6; S_ij are exact integer sums; trace² and
    ΣS_ij² are DECIMAL(38,0)/HUGEINT polynomials of those integers;
    PR and PR/d are exact DECIMAL round-6 ratios. An all-zero (or
    empty) matrix sentinels PR to 0.0; an empty input emits nothing.

    Output (one row): (n_vecs, dims, pr, pr_norm).

    Scale shape: the d² dim-pair products are generated MAP-ONLY
    (nested array transform + one explode per row — no join), then
    one (i, j)-grain aggregate of d² = 4096 cells with map-side
    combine; everything after is a 1-row fold. One corpus pass; the
    shuffle carries d² longs per partition, independent of n."""
    v = F.col(vec_col).cast("array<double>")
    pairs = df.select(
        F.explode(
            F.flatten(
                F.transform(
                    v,
                    lambda x, i: F.transform(
                        v, lambda y, j: F.struct(
                            i.alias("i"), j.alias("j"), (x * y).alias("p")
                        )
                    ),
                )
            )
        ).alias("s")
    ).select(F.col("s.i").alias("i"), F.col("s.j").alias("j"), F.col("s.p").alias("p"))
    q = (
        F.when(F.col("p") >= 0, F.floor(F.col("p") * F.lit(1_000_000.0) + F.lit(0.5)))
        .otherwise(-F.floor(-F.col("p") * F.lit(1_000_000.0) + F.lit(0.5)))
        .cast("long")
    )
    cells = pairs.select("i", "j", q.alias("q")).groupBy("i", "j").agg(
        F.sum("q").alias("s")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    meta = df.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.max(F.size(v)).cast("long").alias("dims"),
    )
    agg = cells.agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("s")).otherwise(0)).alias(
            "__tr"
        ),
        F.sum(d(F.col("s")) * d(F.col("s"))).alias("__fro2"),
    )
    num = d(F.col("__tr")) * d(F.col("__tr"))
    return (
        meta.where(F.col("n_vecs") >= 1)
        .crossJoin(F.broadcast(agg))
        .select(
            "n_vecs",
            "dims",
            F.when(
                F.col("__fro2") > 0, _round6_ratio_dec(num, F.col("__fro2"))
            )
            .otherwise(F.lit(0.0))
            .alias("pr"),
            F.when(
                F.col("__fro2") > 0,
                _round6_ratio_dec(num, F.col("__fro2") * d(F.col("dims"))),
            )
            .otherwise(F.lit(0.0))
            .alias("pr_norm"),
        )
    )
