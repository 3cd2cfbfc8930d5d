"""Iterative graph operators beyond connected components (which lives
in dedup.py as the duplicate-cluster labeler): fixed-iteration
weighted PageRank.

The reference has no graph operators at all; a training-data pipeline
meets them constantly — ranking crawl hosts by link authority,
weighting event-type transition graphs, scoring documents by citation
structure. PageRank is the canonical one, and its Spark shape is the
canonical iterative-join pattern (the same loop GraphX/Pregel run):

Scale shape per iteration:
- ranks live as one (node, rank) DataFrame — |V| rows;
- contributions are one edges ⋈ ranks hash join on the source key +
  one partial-aggregated groupBy on the destination key: the only
  data-sized shuffles, both on short rows;
- the dangling-rank mass and |V| are 1-row aggregates broadcast back
  (BroadcastNestedLoopJoin against one row — never a data-sized
  cartesian);
- lineage grows linearly with iterations, so long runs should
  localCheckpoint every few rounds exactly like
  dedup.connected_components does (fixed small iteration counts, as
  used here, don't need it).

Determinism: given deterministic edges, every step is plain
arithmetic — no seeds, no sampling — so a SQL engine reproduces the
trajectory exactly (the oracle unrolls the loop); double addition
across engines can differ only in association order, which at
round-6 output precision is far below observability for realistic
fan-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kairos_spark.exact import _round6_bridge, _round6_ratio, _round6_ratio_dec


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank after ``iters`` synchronous update steps:
    r(v) = (1-d)/N + d·(Σ_{u→v} r(u)·w(u,v)/out_w(u) + dangling/N),
    where dangling is the rank mass sitting on nodes with no outgoing
    edges (redistributed uniformly, the standard correction). Returns
    (node, rank) with rank rounded to 6 decimals; ranks sum to 1 at
    every step. Unweighted graphs: omit ``weight_col`` (each edge
    counts 1).

    Rounding contract (VERDICT r6 sweep): a k-step fixed point is not
    expressible as one integer ratio, so the final round goes through
    ``_round6_bridge`` (double → DECIMAL(27,12) → HALF_UP round-6) —
    engine-identical even when the iterate's shortest rendering is a
    7-digit midpoint whose nearest double sits below it, the case
    where bare round(double, 6) splits (41/640; engine-probed in
    tests/test_round6_ratio.py). The oracle mirrors every update
    op-for-op so both engines bridge the identical bit pattern."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__t"), w.alias("__w"))
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__t").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count("*").alias("__N"))
    out_w = e.groupBy("__s").agg(F.sum("__w").alias("__ow"))
    norm = e.join(out_w, "__s").select(
        "__s", "__t", (F.col("__w") / F.col("__ow")).alias("__p")
    )
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("__N")).alias("rank")
    )
    one_minus_d = 1.0 - damping
    for _ in range(iters):
        contrib = (
            norm.join(ranks.withColumnRenamed("node", "__s"), "__s")
            .groupBy("__t")
            .agg(F.sum(F.col("rank") * F.col("__p")).alias("__c"))
        )
        dangling = (
            ranks.join(out_w.withColumnRenamed("__s", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .join(contrib.withColumnRenamed("__t", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(one_minus_d) / F.col("__N")
                    + F.lit(damping)
                    * (F.coalesce(F.col("__c"), F.lit(0.0)) + F.col("__dm") / F.col("__N"))
                ).alias("rank"),
            )
        )
    return ranks.select("node", _round6_bridge(F.col("rank")).alias("rank"))


def coactivity_edges(
    df: DataFrame,
    node_col: str = "user_id",
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
    min_shared: int = 2,
    max_bucket_nodes: int = 200,
) -> DataFrame:
    """Undirected co-activity edge list (a < b): two nodes connect when
    they share >= ``min_shared`` distinct (key, time-bucket) activity
    cells. The shared edge-construction front half of
    ``cooccurrence_triangles`` and ``kcore_peel`` — factored out so
    every graph operator sees the identical graph. Pair generation is
    bounded by the ``max_bucket_nodes`` stop-bucket guard (a viral cell
    would otherwise create a quadratic join bucket).

    r14 continuation (guide §2.3/§2.4 — the duplicated_spans/winnow
    pattern): cell-bounded pair generation is ONE groupBy(cell) with a
    node-list aggregate + a bounded double explode, replacing the
    stop-bucket count aggregate, the occ⋈small join (which evaluated
    the distinct-occurrence subtree twice), and the occ⋈occ cell
    self-join. Node rows are distinct (node, cell), so per-cell cross
    pairs with a < b reproduce the self-join's rows exactly — 0-row
    symmetric diff at sf0.01/sf0.1 at BOTH minute and hourly grain
    (384,150 hourly edges at sf0.1); interleaved min-of-6 noop timing
    0.759 → 0.654 s (and visibly tighter variance). Same
    aggregation-buffer trade as those operators: a hotter-than-cap
    cell materializes its list before the filter drops it
    (ObjectHashAggregate spills); the `__n >= 2` conjunct is pure
    optimization (singleton cells cannot produce pairs)."""
    cell = F.concat_ws(
        ":",
        F.col(key_col),
        (F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec)).cast("long").cast("string"),
    )
    occ = df.select(F.col(node_col).alias("__u"), cell.alias("__cell")).distinct()
    gl = (
        occ.groupBy("__cell")
        .agg(F.count("*").alias("__n"), F.collect_list("__u").alias("__l"))
        .where((F.col("__n") >= 2) & (F.col("__n") <= max_bucket_nodes))
    )
    x = gl.select(F.explode("__l").alias("a"), "__l")
    return (
        x.select("a", F.explode("__l").alias("b"))
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("__w"))
        .where(F.col("__w") >= min_shared)
        .select("a", "b")
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983; the distributed
    peel-by-rounds variant of Montresor et al.): each round drops every
    node whose CURRENT degree is below ``k`` together with its incident
    edges, then recomputes degrees. After enough rounds the survivor
    set is exactly the k-core; a fixed ``rounds`` keeps the plan static
    (and an independent engine reproduces it as ``rounds`` chained
    subqueries). Returns one row per round: (round, n_nodes, n_edges)
    AFTER that round's peel — the convergence trace a pipeline uses to
    find the cohesive subgraph (bot rings, dense communities) and to
    decide whether more rounds are needed (n_nodes stops moving ⇒
    converged).

    Scale shape per round: one degree aggregation (map-side combined)
    + two semi-joins of the edge list against the surviving-node set —
    all equality hash joins on node ids; nothing quadratic, no driver
    iteration over rows. Edge count per round only shrinks. Each round
    is materialized EAGERLY (the standard iterative-algorithm pattern
    — GraphX/GraphFrames do the same per superstep): the surviving
    edge list is persisted, its two trace scalars collected, and the
    superseded round's cache dropped immediately, so at most two
    rounds' edge lists are cached at any moment and nothing stays
    cached after return (ADVICE r5: the lazy variant leaked every
    round's cache into long-lived sessions). The returned trace is a
    rounds-row local DataFrame; all heavy lifting runs distributed
    during the eager pass."""
    spark = edges.sparkSession
    trace = []
    cur = edges.select("a", "b").persist()
    # Materialize the input edge list BEFORE the first peel round (r13
    # optimization round): _peel_round references `cur` three ways
    # (degree aggregate + two semi-joins), and a lazily-persisted
    # upstream plan (e.g. the coactivity construction) gets recomputed
    # CONCURRENTLY by the branches of round 1's first action — the
    # block manager dedups storage, not in-flight computation (the
    # bfs_reach lesson). Later rounds are safe: each nxt is counted
    # (materialized) before becoming cur.
    cur.count()
    try:
        for rnd in range(1, rounds + 1):
            nxt = _peel_round(cur, k).persist()
            n_edges = nxt.count()
            cur.unpersist()
            cur = nxt
            n_nodes = (
                cur.select(F.explode(F.array("a", "b")).alias("node"))
                .distinct()
                .count()
            )
            trace.append((rnd, n_nodes, n_edges))
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        trace, "round long, n_nodes long, n_edges long"
    )


def _peel_round(cur: DataFrame, k: int) -> DataFrame:
    """One k-core peel round: degree aggregation (map-side combined) +
    two LeftSemi hash joins of the edge list against the surviving-node
    set. Factored out so tests can assert the per-round plan shape
    (LeftSemi, HashAggregate, no CartesianProduct) that plan_audit.py
    cannot see on the eager operator's local-relation result."""
    deg = (
        cur.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("__d"))
    )
    keep = deg.where(F.col("__d") >= k).select("node")
    return cur.join(
        keep.withColumnRenamed("node", "a"), "a", "left_semi"
    ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")


def cooccurrence_triangles(
    df: DataFrame,
    node_col: str = "user_id",
    key_col: str = "event_type",
    ts_col: str = "ts",
    step_sec: int = 3600,
    min_shared: int = 2,
    max_bucket_nodes: int = 200,
    max_degree: int | None = None,
) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    co-activity graph: nodes are users, an edge connects two users who
    share >= ``min_shared`` distinct (key, time-bucket) activity cells.
    Returns (node, degree, triangles, clustering) with clustering =
    2T / (deg·(deg−1)) — the standard graph-quality signal for
    community structure (bot rings and scripted cohorts show near-1
    coefficients; organic activity is sparse).

    Scale shape (the three classic distributed-triangle steps):
    1. pair generation is BUCKET-bounded — users explode per activity
       cell and self-join per cell, with cells holding more than
       ``max_bucket_nodes`` users dropped first (the stop-bucket guard:
       a viral cell would otherwise create a quadratic join bucket);
    2. edges aggregate with map-side combine to one row per pair;
    3. triangles enumerate each once via the ordered wedge join
       (a<b, b<c wedge at b... joined against the a<c closing edge) —
       the node-order trick that avoids counting each triangle 6× and
       keeps every join an equality hash join (!CartesianProduct).

    ``max_degree`` (optional) is the hub guard for the wedge stage: on
    a power-law or pathologically dense graph the wedge count is
    Σ deg(b)², dominated by a few hubs; setting a cap drops every edge
    incident to a node whose degree exceeds it BEFORE enumeration,
    bounding wedges at |E|·max_degree. Capped-out hubs disappear from
    the output entirely (their clustering coefficient over millions of
    neighbors is not a meaningful number anyway — surface hubs with
    key_distribution/key_skew instead). None (default) disables the
    guard."""
    # Materialize the aggregated edge list once (r13 optimization
    # round): the wedge stage references it five ways (e1/e2/e3, the
    # degree aggregate, and the closing join), and the lazy plan
    # re-ran the whole events->cells->pairs construction per branch
    # beyond what exchange reuse caught (34 parquet scans in one
    # explain; measured 1.27 s -> 0.98 s at sf0.1 minute grain). The
    # edge list is the operator's own aggregate — |E| rows of two ids —
    # the same bounded state kcore_peel already persists per round.
    # ACCEPTED DEVIATION from the ADVICE-r5 'nothing cached after
    # return' contract (ADVICE r13): the returned DataFrame references
    # these checkpointed blocks, so they stay in storage until the RDD
    # is GC'd by the ContextCleaner — the same GC-bounded lifetime as
    # the simhash/semdedup checkpoint precedents. |E|-rows-of-two-ids
    # is the smallest frame in the operator; an explicit unpersist
    # would have to outlive the caller's use of the result.
    edges = coactivity_edges(
        df, node_col, key_col, ts_col, step_sec, min_shared, max_bucket_nodes
    ).localCheckpoint(eager=True)
    if max_degree is not None:
        deg0 = (
            edges.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("__d"))
            .where(F.col("__d") <= max_degree)
            .select("node")
        )
        edges = edges.join(
            deg0.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(deg0.withColumnRenamed("node", "b"), "b", "left_semi")
    # wedges a<b<c centered at b, closed by the (a, c) edge
    e1 = edges.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = edges.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    e3 = edges.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = e1.join(e2, "tb").join(e3, ["ta", "tc"])
    per_node = (
        tris.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        deg.join(per_node, "node", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0)).cast("long"))
        .withColumn(
            # hub degrees past ~2e6 would overflow the BIGINT
            # degree·(degree−1)·2e6 product — DECIMAL(38,0) ratio
            "clustering",
            F.when(
                F.col("degree") >= 2,
                _round6_ratio_dec(
                    F.lit(2) * F.col("triangles").cast("decimal(38,0)"),
                    F.col("degree").cast("decimal(38,0)")
                    * (F.col("degree") - 1),
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select("node", "degree", "triangles", "clustering")
    )


def absorption_prob(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    target: str = "purchase",
    steps: int = 3,
) -> DataFrame:
    """Probability of reaching an absorbing target state within
    ``steps`` transitions, per starting state, under the first-order
    Markov chain fit to per-user event successions — "how likely is a
    user on a view/click/error to hit purchase in the next k events?"
    The funnel question session path counting can't answer (paths
    enumerate, this marginalizes). The target is absorbing: r₀ =
    1{s=target}; r_k(s) = Σ_s' P(s→s')·r_{k-1}(s') for s ≠ target.
    Returns (state, p_reach) after ``steps`` iterations.

    Scale shape: the ONLY fact-scale stage is the lead-window
    transition count (one shuffle on the user key); every iteration
    is a join between state-grain tables (|states|² rows). Per-state
    sums accumulate in DECIMAL(38,12) — ≤|states| terms, associative.

    Rounding contract (VERDICT r6 sweep): p_reach is a sum of products
    of 1/out-degree probabilities, so with pure 2^a·5^b out-degrees a
    chain lands exactly on 7-digit midpoints — the adversarial corpus
    pins (1/2)·(1/2)·(41/160) = 41/640, where bare round(double, 6)
    provably splits the engines. Like ``pagerank``, the final round
    goes through ``_round6_bridge`` (double → DECIMAL(27,12) →
    HALF_UP), which both engines evaluate identically on the
    op-for-op-mirrored iterate."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(type_col))
    trans = (
        df.select(
            F.col(key_col).alias("__u"),
            F.col(ts_col),
            F.col(type_col).alias("s"),
            F.lead(F.col(type_col)).over(w).alias("s2"),
        )
        .where(F.col("s2").isNotNull())
        .groupBy("s", "s2")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = trans.groupBy("s").agg(F.sum("n").cast("long").alias("tot"))
    P = trans.join(totals, "s").select(
        "s", "s2", (F.col("n") / F.col("tot").cast("double")).alias("p")
    )
    # terminal states (no outgoing transitions — including an absorbing
    # target at the end of every path) must still appear in the output
    states = (
        trans.select("s").union(trans.select(F.col("s2").alias("s"))).distinct()
    )
    r = states.select(
        "s", F.when(F.col("s") == target, 1.0).otherwise(0.0).alias("r")
    )
    for _ in range(steps):
        stepped = (
            P.join(r.select(F.col("s").alias("s2"), F.col("r")), "s2")
            .groupBy("s")
            .agg(
                F.sum((F.col("p") * F.col("r")).cast("decimal(38,12)"))
                .cast("double")
                .alias("__acc")
            )
        )
        r = (
            states.join(stepped, "s", "left")
            .select(
                "s",
                F.when(F.col("s") == target, F.lit(1.0))
                .otherwise(F.coalesce(F.col("__acc"), F.lit(0.0)))
                .alias("r"),
            )
        )
    return r.select(
        F.col("s").alias("state"), _round6_bridge(F.col("r")).alias("p_reach")
    )


def bfs_reach(
    edges: DataFrame,
    n_seeds: int = 3,
    hops: int = 3,
) -> DataFrame:
    """Landmark BFS over an undirected (a, b) edge list: from the
    ``n_seeds`` md5-smallest nodes (the standard deterministic seed
    rule here), count how many nodes are reachable within 1..``hops``
    hops of each seed. The landmark-distance primitive behind
    closeness estimates and "how connected is this account" fraud
    checks; the per-hop growth curve also profiles the graph's
    effective diameter. Returns (seed, hop, n_reached) — cumulative,
    seed excluded.

    Scale shape per hop: frontier ⋈ edges on the node key (both
    directions via a union), distinct, anti-join against the visited
    set — all equality hash joins; frontier size is bounded by the
    reachable set. Seeds are a broadcast-sized dimension carried as a
    column, so all seeds expand in the SAME joins (one pass per hop,
    not per seed). All hops' (seed, hop, n_reached) counts — at most
    ``n_seeds``·``hops`` rows — are unioned and collected in ONE job
    (VERDICT r10 #4: the old one-collect-per-hop loop paid hops+1
    scheduler barriers, which driver-box contention amplified 2×;
    every hop's frontier/visited stays persisted until that single
    collect — the persisted blocks are computed once inside the job
    and reused across the hop branches — and everything is unpersisted
    in the same ``finally``, so nothing stays cached after return
    (ADVICE r5). Cached state is bounded by hops·|reachable| node
    rows, fine for the trace grain this runs at. The returned trace is
    a small local DataFrame; the joins run distributed during the
    collect."""
    # Materialize the undirected edge list ONCE with an EAGER local
    # checkpoint: every hop joins against it, and callers routinely
    # hand in an EXPENSIVE lazy plan (e.g. coactivity_edges: events
    # scan -> cell groupBy -> per-cell pairs). A lazy .persist() here
    # is NOT enough (measured r13-opt: 5.1 s lazy-persist vs 1.8 s
    # eager-checkpoint at sf0.1): the single trace collect evaluates
    # all hop branches in one job, and cached-but-not-yet-computed
    # partitions are recomputed CONCURRENTLY by parallel branch tasks
    # (the block manager dedups storage, not in-flight computation) —
    # and every action re-runs Catalyst over the per-hop-DOUBLING lazy
    # tree, so even persist+eager-count stayed 2.5× slower (4.5 s).
    # The checkpoint truncates the logical plan per round, the
    # connected_components pattern. Checkpoint state is bounded by
    # hops·|reachable| node rows + the edge list and is explicitly
    # unpersisted in the finally below, so nothing stays cached after
    # return (ADVICE r5 contract, kept). Cluster-scale caveat (VERDICT
    # r13): localCheckpoint keeps no lineage and no replication, so an
    # executor loss makes its partitions unrecoverable — on a real
    # cluster point spark.checkpoint.dir at reliable storage and use
    # .checkpoint() here; the state is small enough that the HDFS
    # round-trip is noise at that scale.
    spark = edges.sparkSession
    jsc = spark.sparkContext._jsc
    before_ids = set(jsc.getPersistentRDDs().keySet())
    per_hop = []
    try:
        und = (
            edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .localCheckpoint(eager=True)
        )
        nodes = und.select(F.col("u").alias("node")).distinct()
        seeds = (
            nodes.select("node", F.md5(F.col("node").cast("string")).alias("__h"))
            .orderBy("__h")
            .limit(n_seeds)
            .select(F.col("node").alias("seed"))
        )
        visited = seeds.select("seed", F.col("seed").alias("node"))
        frontier = visited
        for hop in range(1, hops + 1):
            nxt = _bfs_hop(frontier, und, visited).localCheckpoint(eager=True)
            new_visited = visited.union(nxt).localCheckpoint(eager=True)
            per_hop.append(
                new_visited.where(F.col("node") != F.col("seed"))
                .groupBy("seed")
                .agg(F.count("*").cast("long").alias("n_reached"))
                .select(
                    "seed", F.lit(hop).cast("long").alias("hop"), "n_reached"
                )
            )
            visited = new_visited
            frontier = nxt
        trace = per_hop[0]
        for h in per_hop[1:]:
            trace = trace.unionByName(h)
        schema = trace.schema
        rows = trace.collect()  # the ONE scheduler barrier
    finally:
        # checkpointed RDDs are not reachable through DataFrame.unpersist;
        # free exactly the blocks this call registered via the JVM map.
        # CAVEAT (ADVICE r13): this is a set-difference over the
        # SESSION-GLOBAL persistent-RDD registry — correct while this
        # call is the only thing persisting between the snapshot above
        # and here (true in the single-threaded driver harness), but a
        # concurrent job that persists in that window, or an `edges`
        # plan whose own .persist() first materializes inside this
        # call, would be evicted too. Multi-tenant callers should track
        # the checkpointed frames' own rdd ids instead.
        jmap = jsc.getPersistentRDDs()
        for rid in set(jmap.keySet()) - before_ids:
            jmap.get(rid).unpersist()
    return spark.createDataFrame(rows, schema)


def _bfs_hop(frontier: DataFrame, und: DataFrame, visited: DataFrame) -> DataFrame:
    """One BFS expansion: frontier ⋈ undirected edges, distinct, then
    LeftAnti against the visited set. Factored out so tests can assert
    the per-hop plan shape (LeftAnti, HashAggregate for the distinct,
    no CartesianProduct) that plan_audit.py cannot see on the eager
    operator's local-relation result."""
    return (
        frontier.join(und, frontier["node"] == und["u"])
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .join(visited, ["seed", "node"], "left_anti")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    edge list (a < b, deduplicated): do high-degree nodes attach to
    high-degree nodes (social cores, r > 0) or to low-degree ones
    (hub-and-spoke bot/broadcast shapes, r < 0)? The one-number
    structure audit that separates an organic co-activity graph from a
    scripted one BEFORE any iterative algorithm is worth running.

    Exact closed form over edge-endpoint degrees — no iteration:
    r = (4M·Σjk − S1²) / (2M·S2 − S1²) with S1 = Σ(j+k),
    S2 = Σ(j²+k²), all exact integer sums (DECIMAL-routed products),
    one mirrored double division, bridge-rounded. Regular graphs
    (every degree equal) make the denominator 0 → sentinel 0.0.

    Scale shape: one degree aggregate, two hash joins to decorate edge
    endpoints, ONE combiner aggregate to a single row. Only
    (node, degree) and edge keys shuffle."""
    from kairos_spark.exact import _round6_bridge, _round6_ratio

    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__ja"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__jb"))
    dec = lambda c: c.cast("decimal(38,0)")
    g = (
        edges.join(da, "a")
        .join(db, "b")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(dec(F.col("__ja")) * dec(F.col("__jb"))).alias("__sjk"),
            F.sum(F.col("__ja") + F.col("__jb")).cast("long").alias("__s1"),
            F.sum(
                dec(F.col("__ja")) * dec(F.col("__ja"))
                + dec(F.col("__jb")) * dec(F.col("__jb"))
            ).alias("__s2"),
        )
    )
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    j = g.crossJoin(F.broadcast(nn))
    m = dec(F.col("n_edges"))
    num = (F.lit(4) * m * F.col("__sjk") - dec(F.col("__s1")) * dec(F.col("__s1"))).cast("double")
    den = (F.lit(2) * m * F.col("__s2") - dec(F.col("__s1")) * dec(F.col("__s1"))).cast("double")
    r = F.when(den > 0, _round6_bridge(num / den)).otherwise(F.lit(0.0))
    return j.select(
        "n_nodes",
        "n_edges",
        _round6_ratio(
            F.lit(2) * F.col("n_edges"), F.greatest(F.col("n_nodes"), F.lit(1))
        ).alias("mean_degree"),
        r.alias("assortativity"),
    )


def hits_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) after
    ``iters`` synchronous update rounds on a weighted directed graph:
    auth'(v) = Σ_{u→v} hub(u)·w(u,v), then hub'(u) = Σ_{u→v}
    auth'(v)·w(u,v) — the classic in-order update — each vector
    L1-normalized after its update (the norm choice only rescales;
    L1 keeps every iterate in [0, 1], inside the ``_round6_bridge``
    agreement bound, and needs no sqrt). Complements ``pagerank``'s
    single random-surfer score with the mutually-reinforcing pair:
    hubs point AT good content, authorities ARE it.

    Nodes without in-edges carry authority 0.0 and nodes without
    out-edges hub 0.0 (explicit coalesce — never NULL). With ≥ 1 edge
    the L1 totals are strictly positive (initial hub mass 1/N sits on
    every node, and positive mass provably survives each alternation),
    but both engines still guard the division (CASE on total > 0 → 0.0)
    so degenerate adversarial graphs sentinel instead of raising under
    ANSI. Final scores bridge-rounded (iterative fixed points are not
    one integer ratio — the pagerank contract).

    Output: (node, authority, hub).

    Scale shape: identical to ``pagerank`` — each round is two
    edge-grain joins against the current score vectors plus node-grain
    aggregates; the score totals broadcast. At transition-graph grain
    (|event types|² edges) everything broadcasts; at web scale the
    joins shuffle on node id exactly like the PageRank literature's
    Pregel formulation."""
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__t"), w.alias("__w")
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__t").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count("*").alias("__N"))
    init = nodes.crossJoin(F.broadcast(n_df))
    auth = init.select("node", (F.lit(1.0) / F.col("__N")).alias("a"))
    hub = init.select("node", (F.lit(1.0) / F.col("__N")).alias("h"))

    def _step(score, score_col, edge_key, out_key, out_col):
        raw = (
            e.join(score.withColumnRenamed("node", edge_key), edge_key)
            .groupBy(out_key)
            .agg(F.sum(F.col(score_col) * F.col("__w")).alias("__v"))
        )
        tot = raw.agg(F.coalesce(F.sum("__v"), F.lit(0.0)).alias("__tot"))
        return (
            nodes.join(raw.withColumnRenamed(out_key, "node"), "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.when(
                    F.col("__tot") > 0,
                    F.coalesce(F.col("__v"), F.lit(0.0)) / F.col("__tot"),
                )
                .otherwise(F.lit(0.0))
                .alias(out_col),
            )
        )

    for _ in range(int(iters)):
        auth = _step(hub, "h", "__s", "__t", "a")
        hub = _step(auth, "a", "__t", "__s", "h")
    return (
        auth.join(hub, "node")
        .select(
            "node",
            _round6_bridge(F.col("a")).alias("authority"),
            _round6_bridge(F.col("h")).alias("hub"),
        )
        .orderBy("node")
    )
