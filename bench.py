"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the BASELINE.md B1–B5 workloads mapped onto the query
pack, plus the relational and pipeline operators that dominate real
usage. Each timing includes full materialization (count/collect) of the
query's result.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from kairos_spark import configured_builder, queries as q
from kairos_spark.ingest import bucketize

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def bench_ingest(spark, sf_dir):
    """B1: bulk ingest — events fanned into 3 intervals (hour coarse,
    hour/minute fine, daily Gregorian) as one map-only projection."""
    intervals = {}
    for key in ("hour", "hour_fine", "daily"):
        intervals.update(
            {f"{key}:{n}": c for n, c in q.EVENT_INTERVALS[key].items()}
        )
    ev = q._tbl(spark, sf_dir, "events")
    long_df = bucketize(
        ev, intervals, name_col="event_type", ts_col="ts", value_col="value",
        seq_col="event_id",
    )
    return long_df.count()


HEADLINE = {
    "ingest_bucketize": bench_ingest,                     # B1
    "get_fine_bucket": q.q_ts_fine_hour_minute,           # B2
    "series_transforms": q.q_ts_series_transforms_hour,   # B3
    "series_collapse": q.q_ts_collapse_range,             # B4
    "iterate_spine": q.q_ts_spine_gapfill,                # B5
    "count_series_hour": q.q_ts_count_series_hour,
    "gauge_last_hour": q.q_ts_gauge_last_hour,
    "set_distinct_hour": q.q_ts_set_hour,
    "greg_weekly": q.q_ts_greg_weekly,
    "q1_pricing_summary": q.q_q1_pricing_summary,
    "revenue_by_nation": q.q_revenue_by_nation,
    "window_top_orders": q.q_window_top_orders,
    "event_sessions": q.q_event_sessions,
    "asof_join": q.q_asof_signup_purchase,
    "range_join": q.q_range_join_user_events,
    "rollup_grouping_sets": q.q_rollup_revenue_region,
    "multires_rollup": q.q_ts_multires_rollup,
    "sliding_window": q.q_ts_sliding_hour_15m,
    "value_percentiles": q.q_value_percentiles,
    "dedup_exact_keep": q.q_dedup_exact_keep,
    "text_stats": q.q_text_stats,
    "minhash_first_hashes": q.q_minhash_first_hashes,
    "ann_cosine_topk": q.q_ann_cosine_topk,
}

# Shared LSH->CC cluster assignment (VERDICT r10 #3): three pipeline
# entries (dedup_clusters_lsh, cluster_keep_best_lsh, cluster_diameter)
# audit the SAME clustering, and a real pipeline materializes the
# assignment once — so the bench builds it once per sf_dir too.
# `dedup_clusters_lsh` (first in the dict) is the entry whose timing IS
# the construction (signatures -> banded candidates -> CC, materialized
# via eager localCheckpoint); the two audits then time only their own
# tails against the checkpointed assignment. pipeline_total is thereby
# decomposable into unique work; the per-entry tail definitions are
# re-baselined in BASELINE.md r11.
_SHARED_CC: dict = {}


def _lsh_cc(spark, sf_dir):
    if sf_dir not in _SHARED_CC:
        from kairos_spark.operators import dedup

        d = q._tbl(spark, sf_dir, "documents").select("doc_id", "text")
        pairs = dedup.minhash_lsh_pairs(
            d, n=8, num_hashes=32, bands=16, threshold=0.2
        )
        _SHARED_CC[sf_dir] = dedup.connected_components(pairs).localCheckpoint(
            eager=True
        )
    return _SHARED_CC[sf_dir]


def bench_dedup_clusters_lsh(spark, sf_dir):
    """Times the full LSH->CC construction (the q_dedup_clusters_lsh
    plan) INCLUDING materialization; the audits below reuse the
    checkpointed assignment."""
    _SHARED_CC.pop(sf_dir, None)  # never time a warm cache
    return _lsh_cc(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def bench_cluster_keep_best_tail(spark, sf_dir):
    """cluster_keep_best_lsh's own tail: quality_score + per-cluster
    argmax over the shared assignment (construction timed once above)."""
    from kairos_spark.operators import dedup, text

    # the tail timing is only construction-free because
    # bench_dedup_clusters_lsh ran first and warmed the cache — guard
    # against a PIPELINE reorder/filter silently folding the full
    # ~9.5 s construction into this entry's number (ADVICE r11)
    assert sf_dir in _SHARED_CC, (
        "shared LSH->CC cache cold: run bench_dedup_clusters_lsh first"
    )
    scored = text.quality_score(q._tbl(spark, sf_dir, "documents"))
    return dedup.cluster_representatives(_lsh_cc(spark, sf_dir), scored)


def bench_cluster_diameter_tail(spark, sf_dir):
    """cluster_diameter's own tail: size-capped within-cluster exact
    all-member-pairs Jaccard over the shared assignment."""
    from kairos_spark.operators import dedup

    assert sf_dir in _SHARED_CC, (
        "shared LSH->CC cache cold: run bench_dedup_clusters_lsh first"
    )
    d = q._tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.cluster_diameter(
        d, n=8, num_hashes=32, bands=16, clusters=_lsh_cc(spark, sf_dir)
    )


# Pipeline-scale section (added round 5): the heavy training-data
# operators, benched SEPARATELY so scale regressions in the pipeline
# layer are visible round-over-round. The 23-query HEADLINE set above
# is frozen (BASELINE.md freeze rule) and its total is unchanged by
# this section; BASELINE.md records the round-5 numbers as this
# section's own baseline.
PIPELINE = {
    "dedup_clusters_lsh": bench_dedup_clusters_lsh,
    "knn_join": q.q_knn_join,
    "tfidf_top_terms": q.q_tfidf_top_terms,
    "duplicated_spans": q.q_duplicated_spans,
    # added later in round 5 alongside their operators; BASELINE.md's
    # pipeline table records the same round's numbers as their baseline
    "winnow_pairs": q.q_winnow_pairs,
    # minute-grain cells: on this uniform synthetic data the HOURLY
    # graph is near-complete (1500 mutually-connected users at sf0.1 →
    # degenerate O(U³) triangle enumeration that measures the data, not
    # the operator); minute cells keep the graph sparse so the timing
    # tracks the real costs — cell-bounded pair generation + wedge join
    "triangle_cooccurrence_minute": lambda s, d: __import__(
        "kairos_spark.operators.graph", fromlist=["graph"]
    ).cooccurrence_triangles(
        q._tbl(s, d, "events"), step_sec=60, min_shared=2, max_bucket_nodes=200
    ),
    # lossless AllPairs/ppjoin prefix-filtered exact Jaccard join.
    # Benched on a deterministic 1-in-5 doc sample: this synthetic
    # corpus is adversarially dup-heavy (190k TRUE pairs >= 0.95 among
    # 5k docs at sf0.1 — near-clique components), so the full-corpus
    # number times the OUTPUT, not the operator; the sample keeps the
    # candidate volume representative of a deduplicated crawl
    "prefix_jaccard_sample": lambda s, d: __import__(
        "kairos_spark.operators.dedup", fromlist=["dedup"]
    ).prefix_jaccard_pairs(
        q._tbl(s, d, "documents").where(F.col("doc_id") % 5 == 0), threshold=0.95
    ),
    # late-round-5 additions; BASELINE.md's pipeline table records the
    # same round's numbers as their baseline
    "bm25_topk": q.q_bm25_topk,
    # k=32 at sf0.1: SemDeDup's pair blowup is Σ|cluster|², and the
    # whole point of the clustering is to keep clusters small — k=8 on
    # 5k vectors times the data shape, not the operator
    "semdedup_k32": lambda s, d: __import__(
        "kairos_spark.operators.similarity", fromlist=["similarity"]
    ).semdedup(q._tbl(s, d, "embeddings"), k=32, iters=2, threshold=0.35),
    # minute cells for the same reason as triangle_cooccurrence_minute:
    # the hourly co-activity graph on this uniform synthetic data is
    # near-complete, so hourly BFS times the degenerate frontier, not
    # the traversal machinery
    "bfs_reach_minute": lambda s, d: __import__(
        "kairos_spark.operators.graph", fromlist=["graph"]
    ).bfs_reach(
        __import__(
            "kairos_spark.operators.graph", fromlist=["graph"]
        ).coactivity_edges(
            q._tbl(s, d, "events"), step_sec=60, min_shared=2, max_bucket_nodes=200
        ),
        n_seeds=3,
        hops=3,
    ),
    # round-8 addition — the heaviest of the r8 operators (unigram +
    # bigram explode over the corpus); BASELINE.md's pipeline table
    # records its round-8 number as its own baseline per the freeze
    # rule. The other four r8 queries are scalar-aggregate-bound and
    # not bench-worthy.
    "dsir_weights": q.q_dsir_weights,
    # round-9 additions — the two corpus-gram-scale r9 operators
    # (8-token gram explode over the corpus / full bigram LM + ntile);
    # BASELINE.md's pipeline table records their round-9 numbers as
    # their own baselines per the freeze rule. The other eight r9
    # queries are digest-, group- or dim-grain (< 1 s class), not
    # benched.
    "crossdoc_spans": q.q_crossdoc_spans,
    "ppl_bucket_mix": q.q_ppl_bucket_mix,
    # round-10 additions — the two corpus-scale r10 operators (banded
    # LSH -> CC -> keep-best window; sliding 13-gram explode with span
    # union); BASELINE.md's pipeline table records their round-10
    # numbers as their own baselines per the freeze rule. The other
    # seven r10 queries are group-/list-/doc-grain light scans, not
    # benched.
    # r11: timed as the TAIL over the shared assignment (see above) —
    # re-baselined in BASELINE.md r11
    "cluster_keep_best_lsh": bench_cluster_keep_best_tail,
    "contamination_spans": q.q_contamination_spans,
    # continuation-session r10 additions — the three corpus-scale
    # shapes not already represented (two kNN passes over the corpus;
    # 256-byte frame explode + digest agg; byte-grain explode).
    # BASELINE.md records their first numbers as their own baselines
    # per the freeze rule. cluster_quality_bias/cluster_source_purity
    # repeat cluster_keep_best_lsh's LSH->CC construction and are not
    # double-timed; the other session queries are group-/audit-grain.
    "quant_recall": q.q_quant_recall,
    "frame_dup_rate": q.q_frame_dup_rate,
    "byte_entropy": q.q_byte_entropy,
    # second-continuation r10 addition — the one new corpus-scale
    # shape: the LSH->CC construction (already timed via
    # cluster_keep_best_lsh) PLUS a size-capped within-cluster
    # all-member-pairs exact-Jaccard stage (Σ|c|² fan-out + shingle
    # join-back). BASELINE.md records its first number as its own
    # baseline. The other nine second-continuation queries are
    # group-/class-/moment-grain (< 1.5 s class), not benched.
    # r11: timed as the TAIL over the shared assignment (see above) —
    # re-baselined in BASELINE.md r11
    "cluster_diameter": bench_cluster_diameter_tail,
    # round-11 additions — the two corpus-scale r11 shapes (strided
    # char-window explode over the whole corpus; digest+quality+
    # blocklist fused disposition over the whole corpus). BASELINE.md
    # records their first numbers as their own baselines per the
    # freeze rule. The other four r11 queries are bounded-sample or
    # digest-/shard-grain (< 1.5 s class), not benched.
    "char_rep_rate": q.q_char_rep_rate,
    "doc_disposition": q.q_doc_disposition,
    # round-12 additions — the two corpus-scale r12 shapes (line
    # explode + line-df join-back over the whole corpus; token explode
    # + broadcast vocab probe over the whole corpus). BASELINE.md
    # records their first numbers as their own baselines per the
    # freeze rule. The other four r12 queries are bounded-sample
    # audits or repeat already-timed shapes (quant_bits_sweep repeats
    # quant_recall's knn passes and is not double-timed).
    "boilerplate_roi": q.q_boilerplate_roi,
    "oov_rate": q.q_oov_rate,
    # round-13 additions — the two genuinely new corpus-scale r13
    # shapes (digest-grain dump self-join; corpus simhash + segment
    # candidate join). BASELINE.md records their first numbers as
    # their own baselines per the freeze rule. The other five r13
    # queries are vocab/language-grain audits or repeat already-timed
    # shapes (pq_recall repeats quant_recall's knn passes,
    # vocab_size_sweep repeats oov_rate's probe — not double-timed).
    "dump_overlap": q.q_dump_overlap,
    "simhash_radius_sweep": q.q_simhash_radius_sweep,
    # r13 continuation additions — the two genuinely new corpus-scale
    # shapes of the late batch (per-doc multi-regexp counting panel;
    # token-array segment slicing + (group, token)-grain distinct).
    # BASELINE.md records their first numbers as their own baselines
    # per the freeze rule. The other nine late-r13 queries are
    # bounded-sample audits, tiny-graph/vocab-grain jobs, or repeat
    # already-timed shapes (good_turing_mass repeats the gram-explode
    # family; ndcg_sessions the session-window family).
    "readability_scores": q.q_readability_scores,
    "mattr_diversity": q.q_mattr_diversity,
}


def pipeline_stats(spark, sf_dir):
    """Data-volume counters for the volume-sensitive pipeline entries
    (VERDICT r8 #1, extended r10 per VERDICT r9 #1): these are jobs
    whose wall time scales with candidate/edge/frontier volume, so a
    regenerated corpus can move their bench number with no code change.
    Recording the volumes alongside the timings makes data-volume
    effects separable from box drift — every pipeline entry's
    data-vs-box question should be decidable from the bench JSON alone.
    NOT timed — runs after the timed pass; costs one extra pass over
    each pipeline."""
    from kairos_spark.operators import dedup, graph, similarity, text

    d = q._tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(
        d, n=8, num_hashes=32, bands=16, threshold=0.2
    )
    n_cand = pairs.count()
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    n_edges = (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .count()
    )
    coact = graph.coactivity_edges(
        q._tbl(spark, sf_dir, "events"), step_sec=60, min_shared=2,
        max_bucket_nodes=200,
    ).localCheckpoint(eager=True)
    n_coact = coact.count()
    frontier = {
        f"seed{r['seed']}_hop{r['hop']}": int(r["n_reached"])
        for r in graph.bfs_reach(coact, n_seeds=3, hops=3).collect()
    }
    # knn_join volumes (VERDICT r9 #1): the operator is a broadcast
    # crossJoin scored map-side + two-phase salted top-k, so its cost
    # is fully determined by Q and C — scored rows = Q·(C−1)
    # (self-excluded) and the phase-2 merge input is ≤ Q·n_salt·k
    # slice structs. If these match the prior round, a slower bench
    # number is box drift, not data.
    emb = q._tbl(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    n_queries = emb.where(F.col("vec_id") % 100 == 0).count()
    # winnow_pairs volumes: fingerprints after winnowing, kept after
    # the max_occ stop-fingerprint gate, candidate pairs entering the
    # min_shared filter, and surviving scored pairs — the four stage
    # volumes that drive its wall time.
    docs = q._tbl(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, k=8, w=4).localCheckpoint(eager=True)
    n_fp = fps.count()
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__occ"))
        .where(F.col("__occ") <= 50)
        .select("fp")
    )
    kept = fps.join(rare, "fp").localCheckpoint(eager=True)
    n_kept = kept.count()
    cand = (
        kept.select(F.col("doc_id").alias("id_a"), "fp")
        .join(kept.select(F.col("doc_id").alias("id_b"), "fp"), "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .count()
    ).localCheckpoint(eager=True)
    n_cand_pairs = cand.count()
    n_final_pairs = cand.where(F.col("count") >= 3).count()
    # cluster_diameter volumes: its wall time is the LSH pipeline
    # (covered by lsh_candidate_pairs/cc_dedup_edges above) plus the
    # size-capped within-cluster all-pairs stage — counters below make
    # that second stage's volume explicit: clusters kept under the
    # 64-member cap and the Σ s(s−1)/2 member pairs actually audited.
    csz = (
        dedup.connected_components(pairs)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("__s"))
        .localCheckpoint(eager=True)
    )
    n_clusters_all = csz.count()
    kept_csz = csz.where(F.col("__s") <= 64)
    n_clusters_kept = kept_csz.count()
    n_diam_pairs = int(
        kept_csz.agg(
            F.coalesce(
                F.sum(F.col("__s") * (F.col("__s") - 1) / F.lit(2)), F.lit(0.0)
            )
        ).collect()[0][0]
    )
    # bm25_topk volumes (VERDICT r10 #2): wall time is driven by the
    # posting rows that survive the query-vocab broadcast semi-join
    # and the candidate docs the per-query top-k window ranks — both
    # functions of query-term document frequency in the (regenerated)
    # corpus, so they move round to round with no code change.
    toks = docs.select(
        "doc_id", F.explode(text.word_tokens(F.col("text"))).alias("term")
    )
    vocab = spark.createDataFrame(
        sorted({t for _, terms in q._BM25_QUERIES for t in terms}),
        "string",
    ).toDF("term")
    postings = toks.join(F.broadcast(vocab), "term").localCheckpoint(eager=True)
    n_postings = postings.count()
    n_bm25_cand_docs = postings.select("doc_id").distinct().count()
    # prefix_jaccard_sample volumes: candidate pairs entering the
    # verify join and output pairs — the same 1-in-5 doc sample the
    # bench entry runs on; built from the operator's own candidate
    # stage so the counter can't drift from the plan.
    sample = docs.where(F.col("doc_id") % 5 == 0)
    _, pj_cand = dedup._prefix_jaccard_candidates(
        sample, "text", "doc_id", 0.95, "[a-z]+"
    )
    n_pj_cand = pj_cand.count()
    n_pj_out = dedup.prefix_jaccard_pairs(sample, threshold=0.95).count()
    # semdedup_k32 volumes: the pair fan-out is Σ|cluster|·(|cluster|−1)/2
    # over the deterministic k-means assignment — the exact candidate
    # count its within-cluster self-join scores.
    sd_sizes = (
        similarity._kmeans_final_assign(emb, 32, 2, "vec_id", "embedding")
        .groupBy("cid")
        .agg(F.count("*").cast("long").alias("__s"))
    )
    sd = sd_sizes.agg(
        F.count("*").alias("nc"),
        F.coalesce(
            F.sum(F.col("__s") * (F.col("__s") - 1) / F.lit(2)), F.lit(0.0)
        ).alias("np"),
    ).collect()[0]
    # char_rep_rate / doc_disposition volumes: both entries' wall time
    # is proportional to their own output aggregates — sampled windows
    # for the char explode, corpus rows for the disposition — so the
    # counters come straight from the operators' outputs.
    crr = q.q_char_rep_rate(spark, sf_dir).agg(
        F.sum("n_grams").alias("g"), F.sum("dup_grams").alias("d")
    ).collect()[0]
    disp = q.q_doc_disposition(spark, sf_dir).agg(
        F.sum("n_docs").alias("n")
    ).collect()[0]
    # ppl_bucket_mix volumes (VERDICT r11 #4): its wall time is the
    # bigram-LM fit (corpus bigram explode + pre-aggregated joins) and
    # the per-group ntile over doc-grain rows — driven by corpus
    # bigram token mass, the LM count-table sizes (bigram types /
    # vocab V), docs scored, and group count. Docs/mass/groups come
    # from the operator's own output; the LM table sizes from the same
    # tokenization the operator uses.
    ppl = q.q_ppl_bucket_mix(spark, sf_dir).agg(
        F.sum("n_docs").alias("nd"),
        F.sum("n_bigrams").alias("nb"),
        F.countDistinct("grp").alias("ng"),
    ).collect()[0]
    lm_words = docs.select(text.word_tokens(F.col("text")).alias("__w"))
    lm = lm_words.select(
        F.explode(
            F.when(
                F.size("__w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, 2)),
                ),
            )
        ).alias("bg")
    ).agg(F.countDistinct("bg").alias("bt")).collect()[0]
    lm_vocab = (
        lm_words.select(F.explode("__w").alias("__t"))
        .agg(F.countDistinct("__t").alias("v"))
        .collect()[0]
    )
    # boilerplate_roi / oov_rate volumes: both entries' wall time is
    # their own explode volume — line instances (and how many are
    # boilerplate) for the line-df join, token occurrences (and how
    # many are OOV) for the vocab probe — readable straight off the
    # operators' per-source outputs.
    roi = q.q_boilerplate_roi(spark, sf_dir).agg(
        F.sum("n_lines").alias("l"), F.sum("bp_lines").alias("b")
    ).collect()[0]
    oov = q.q_oov_rate(spark, sf_dir).agg(
        F.sum("n_tokens").alias("t"), F.sum("oov_tokens").alias("o")
    ).collect()[0]
    # dump_overlap / simhash_radius_sweep volumes (r13): the dump
    # join's cost rides on distinct digests and shared mass; the
    # radius sweep's on candidate pairs surviving the segment join —
    # both readable straight off the operators' outputs.
    dov = q.q_dump_overlap(spark, sf_dir).agg(
        F.sum("n_a").alias("na"), F.sum("shared").alias("sh")
    ).collect()[0]
    srs = q.q_simhash_radius_sweep(spark, sf_dir).agg(
        F.max("cum_pairs").alias("cp")
    ).collect()[0]
    # readability / mattr volumes (late r13): both jobs' wall time
    # rides on corpus token volume; the panel outputs carry it.
    rdb = q.q_readability_scores(spark, sf_dir).agg(
        F.sum("words").alias("w"), F.sum("sentences").alias("s")
    ).collect()[0]
    mtd = q.q_mattr_diversity(spark, sf_dir).agg(
        F.sum("n_segs").alias("g"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    return {
        "readability_words": int(rdb["w"]),
        "readability_sentences": int(rdb["s"]),
        "mattr_segments": int(mtd["g"]),
        "mattr_tokens": int(mtd["t"]),
        "dump_digest_slots": int(dov["na"]),
        "dump_shared_total": int(dov["sh"]),
        "simhash_pairs_within_r5": int(srs["cp"]),
        "boilerplate_lines": int(roi["l"]),
        "boilerplate_bp_lines": int(roi["b"]),
        "oov_token_occurrences": int(oov["t"]),
        "oov_oov_occurrences": int(oov["o"]),
        "char_rep_windows": int(crr["g"]),
        "char_rep_dup_windows": int(crr["d"]),
        "disposition_docs": int(disp["n"]),
        "ppl_docs_scored": int(ppl["nd"]),
        "ppl_bigram_mass": int(ppl["nb"]),
        "ppl_groups": int(ppl["ng"]),
        "ppl_lm_bigram_types": int(lm["bt"]),
        "ppl_lm_vocab": int(lm_vocab["v"]),
        "bm25_posting_rows": int(n_postings),
        "bm25_candidate_docs": int(n_bm25_cand_docs),
        "prefix_jaccard_candidate_pairs": int(n_pj_cand),
        "prefix_jaccard_output_pairs": int(n_pj_out),
        "semdedup_k32_clusters": int(sd["nc"]),
        "semdedup_k32_candidate_pairs": int(sd["np"]),
        "knn_queries": int(n_queries),
        "knn_corpus_vectors": int(n_corpus),
        "knn_scored_rows": int(n_queries * (n_corpus - 1)),
        "knn_merge_rows_max": int(n_queries * 16 * 10),
        "winnow_fingerprints": int(n_fp),
        "winnow_kept_after_max_occ": int(n_kept),
        "winnow_candidate_pairs": int(n_cand_pairs),
        "winnow_pairs_min_shared3": int(n_final_pairs),
        # candidate pairs surviving the est-Jaccard gate (CC input)
        "lsh_candidate_pairs": int(n_cand),
        # deduplicated DIRECTED edge count — the number the 2M
        # union-find gate in connected_components compares against
        "cc_dedup_edges": int(n_edges),
        "cc_local_finish_fired": bool(n_edges <= 2_000_000),
        "diameter_clusters_total": int(n_clusters_all),
        "diameter_clusters_kept": int(n_clusters_kept),
        "diameter_pairs_audited": int(n_diam_pairs),
        "bfs_coactivity_edges": int(n_coact),
        "bfs_cumulative_reach": frontier,
    }


def main():
    spark = (
        configured_builder("kairos_spark-bench", cores=int(CPUS))
        .master(f"local[{CPUS}]")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    # JIT/codegen warm-up: run every headline query once at the smallest
    # scale factor (sf0.001, ~1000× less data) before timing. The first
    # execution of the regex/HOF/hash-heavy paths pays one-time tiered-JIT
    # compilation (measured at ~10-30 s landing arbitrarily on whichever
    # heavy query runs first); warming on tiny data makes the timed pass
    # measure steady-state throughput — what actually predicts cluster
    # performance — instead of JVM cold-start placement.
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name, fn in {**HEADLINE, **PIPELINE}.items():
            try:
                out = fn(spark, warm_dir)
                if hasattr(out, "collect"):
                    out.collect()
            except Exception as e:
                # warm-up must never fail the bench, but breakage should
                # be visible (stderr; stdout stays the one JSON line)
                print(f"warm-up {name} failed: {e}", file=sys.stderr)
    # else: no sf0.001 — skip query warm-up entirely rather than run the
    # full SF twice (that would time a hot-page-cache second pass)

    timings = {}
    for name, fn in HEADLINE.items():
        t0 = time.time()
        out = fn(spark, SF_DIR)
        if hasattr(out, "collect"):
            out.collect()
        timings[name] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)

    pipe_timings = {}
    for name, fn in PIPELINE.items():
        t0 = time.time()
        out = fn(spark, SF_DIR)
        if hasattr(out, "collect"):
            out.collect()
        pipe_timings[name] = round(time.time() - t0, 3)

    try:
        stats = pipeline_stats(spark, SF_DIR)
    except Exception as e:  # stats must never fail the bench
        print(f"pipeline_stats failed: {e}", file=sys.stderr)
        stats = {}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Scalars FIRST, per-query maps after, pipeline_stats LAST: the
    # driver's artifact capture keeps only a bounded tail of stdout
    # (BENCH_r11.json survived as a 2,000-char tail with parsed: null,
    # losing headline_total). json.dumps preserves dict insertion
    # order, and the tail keeps the END of the line — so the totals
    # must lead and the big stats blob must trail for the leading
    # scalars to be reconstructible from either end of a truncation.
    # Belt-and-braces: a compact totals-only echo goes LAST so a
    # tail capture alone always retains both totals.
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "sf": float(sf),
                "pipeline_total": round(sum(pipe_timings.values()), 3),
                "queries": timings,
                "pipeline": pipe_timings,
                "pipeline_stats": stats,
                "totals_echo": {
                    "headline_total": total,
                    "pipeline_total": round(sum(pipe_timings.values()), 3),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
