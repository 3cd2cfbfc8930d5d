"""Focused pins for the r14 optimization-round operator rewrites.

duplicated_spans replaced its gram self-join (rare-filter aggregate +
two broadcast joins, grams evaluated 4x, corpus-sized broadcast) with
ONE groupBy(gram) occurrence-list aggregate + a bounded double explode,
and dropped ``__pb`` from the window shuffle (b_start = a_start - diag
is reconstructed after the aggregate). The rewrite must be INVISIBLE in
output. These tests pin the properties the grouped pair generation must
preserve on inputs where the old join's semantics are subtle:

1. each (a-occurrence, b-occurrence) pair with id_a < id_b generated
   exactly once, including grams occurring MULTIPLE times per doc
   (self-pairs within one doc must NOT appear);
2. b_start reconstruction is exact on spans at different alignments
   (diag != 0, including negative diag);
3. the full output matches a brute-force all-substring reference.

semdedup's final-assignment checkpoint is value-invisible by
construction (materialization of computed rows); its output is pinned
against the uncheckpointed composition here.

The second r14 batch removed duplicated corpus explodes in three
aggregate pipelines (exchange-reuse restructures, guide §2.4):
dsir_weights fused its raw/target bucket aggregates into ONE
conditional-sum aggregation (the pushed-down target filter used to
re-run the gram explode) plus isnotnull/left-join reuse pins;
tfidf_top_terms pinned its dfreq branch onto the tf exchange
(`tf > 0`); ppl_bucket_mix left-joins the group column so
isnotnull(doc_id) stops splitting the bigram-LM subtrees. All three
must be value-invisible: each is pinned against the pre-rewrite
composition, inlined verbatim below, on data that exercises the
subtle paths (zero-target-mass buckets, repeated tokens, per-group
tier boundaries).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kairos_spark.operators import dedup, similarity

pytestmark = pytest.mark.usefixtures("spark")


def _bruteforce_spans(rows, k=16, min_len=40, max_occ=10_000):
    """Reference implementation: literal anti-diagonal islands over
    normalized text, in plain Python."""
    import re

    norm = {i: re.sub(r"\s+", " ", t.lower()) for i, t in rows}
    grams = {}  # g -> list[(id, pos1)]
    for i, n in norm.items():
        for p in range(1, max(len(n) - k + 1, 0) + 1):
            grams.setdefault(n[p - 1 : p - 1 + k], []).append((i, p))
    matches = {}  # (a, b, diag) -> set of pa
    for g, occ in grams.items():
        if len(occ) > max_occ:
            continue
        for ia, pa in occ:
            for ib, pb in occ:
                if ia < ib:
                    matches.setdefault((ia, ib, pa - pb), set()).add(pa)
    out = set()
    for (ia, ib, diag), pas in matches.items():
        run = sorted(pas)
        start = prev = run[0]
        islands = []
        for p in run[1:]:
            if p == prev + 1:
                prev = p
            else:
                islands.append((start, prev))
                start = prev = p
        islands.append((start, prev))
        for s, e in islands:
            span_len = e - s + k
            if span_len >= min_len:
                out.add((ia, ib, s, s - diag, span_len))
    return out


def test_duplicated_spans_matches_bruteforce_multi_occurrence(spark):
    # shared is a 52-char span; doc 1 contains it TWICE (internal repeat
    # -> same gram at two positions in ONE doc: no self-pairs allowed,
    # and doc1-doc2 pairs must appear once per (occurrence, occurrence)
    # alignment); doc 3 embeds it at a shifted offset (negative diag vs
    # doc 1's second occurrence); doc 4 is unrelated filler.
    shared = "one two three four five six seven eight nine ten xyz"
    assert len(shared) >= 40
    rows = [
        (1, "AAAA " + shared + " MIDDLE " + shared + " ZZZZ"),
        (2, shared + " trailing words here"),
        (3, "a much longer unrelated prefix comes first " + shared),
        (4, "completely different content with no overlap at all in it"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.a_start, r.b_start, r.span_len)
        for r in dedup.duplicated_spans(df, k=16, min_len=40, max_occ=50).collect()
    }
    want = _bruteforce_spans(rows, k=16, min_len=40, max_occ=50)
    assert got == want
    # the internal repeat must yield TWO doc1->doc2 spans (one per
    # occurrence alignment) and no (1, 1) self pair
    assert len([t for t in got if t[:2] == (1, 2)]) == 2
    assert not [t for t in got if t[0] == t[1]]
    # negative-diag reconstruction: doc 1 (early occurrence) vs doc 3
    # (late occurrence) has a_start < b_start
    neg = [t for t in got if t[:2] == (1, 3) and t[2] < t[3]]
    assert neg, f"expected a negative-diag (1,3) span in {got}"


def test_duplicated_spans_occ_window_lower_bound(spark):
    # occ == 1 grams must simply vanish (the new occ >= 2 pre-filter
    # is an optimization, not a semantics change): two docs with NO
    # shared 16-gram produce nothing
    rows = [
        (1, "entirely distinct first document text body of some length"),
        (2, "second doc sharing not a single sixteen char window anywhere"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.duplicated_spans(df, k=16, min_len=40).count() == 0


def test_semdedup_checkpoint_invisible(spark):
    # 40 vectors in 3 natural clumps; the checkpointed operator must
    # equal the uncheckpointed composition exactly
    import math

    rows = [
        (i, [math.sin(i % 3 + d) + (i % 7) * 1e-3 for d in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        tuple(r)
        for r in similarity.semdedup(df, k=3, iters=2, threshold=0.9).collect()
    }
    # uncheckpointed reference: rebuild from the shared assignment
    a = similarity._kmeans_final_assign(df, 3, 2, "vec_id", "embedding")
    n = a.select(
        "cid",
        F.col("__id").alias("id"),
        F.col("__v").alias("v"),
        similarity.norm(F.col("__v")).alias("nrm"),
    )
    l, r = n.alias("l"), n.alias("r")
    pairs = (
        l.join(r, (F.col("l.cid") == F.col("r.cid")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.cid").alias("cid"),
            F.col("r.id").alias("id"),
            F.when(
                F.col("l.nrm") * F.col("r.nrm") > 0,
                F.round(
                    similarity.dot(F.col("l.v"), F.col("r.v"))
                    / (F.col("l.nrm") * F.col("r.nrm")),
                    6,
                ),
            )
            .otherwise(F.lit(-1.0))
            .alias("cosine"),
        )
        .where(F.col("cosine") >= 0.9)
    )
    dropped = pairs.select("cid", "id").distinct().groupBy("cid").agg(
        F.count("*").alias("n_dropped")
    )
    sizes = n.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    ref = {
        tuple(r)
        for r in sizes.join(dropped, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .collect()
    }
    assert out == ref


_DOCS = [
    # two langs; doc 4's grams are unique (buckets with zero target
    # mass exercise dsir's absent-target coalesce path); repeated
    # tokens in doc 1 exercise tf > 1; doc 5 has a single word (no
    # bigrams -> NULL-explode drop in the LM path)
    (1, "en", "alpha beta alpha beta gamma alpha"),
    (2, "en", "beta gamma delta beta gamma"),
    (3, "de", "alpha delta epsilon alpha"),
    (4, "de", "zeta eta theta iota kappa"),
    (5, "en", "solo"),
]


def _docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, lang string, text string")


def test_dsir_weights_matches_pre_rewrite_composition(spark):
    from kairos_spark.operators import sampling
    from kairos_spark.operators.text import word_tokens

    def dsir_old(df, target_value="en", buckets=256, k=100):
        words = df.select(
            F.col("doc_id"), F.col("lang").alias("__grp"),
            word_tokens(F.col("text")).alias("__w"),
        )
        grams = words.select(
            F.col("doc_id"), "__grp",
            F.explode(F.concat(
                F.col("__w"),
                F.when(F.size("__w") >= 2, F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, 2)),
                )).otherwise(F.array().cast("array<string>")),
            )).alias("__g"),
        )
        bucketed = grams.select(
            F.col("doc_id"), "__grp",
            (F.conv(F.substring(F.md5(F.col("__g")), 1, 11), 16, 10)
             .cast("long") % buckets).alias("__b"),
        )
        doc_bucket = bucketed.groupBy("doc_id", "__grp", "__b").agg(
            F.count("*").alias("m"))
        raw = doc_bucket.groupBy("__b").agg(F.sum("m").alias("__cr"))
        tgt = (doc_bucket.where(F.col("__grp") == target_value)
               .groupBy("__b").agg(F.sum("m").alias("__ct")))
        raw_tot = raw.agg(F.sum("__cr").alias("__nr"))
        tgt_tot = tgt.agg(F.coalesce(F.sum("__ct"), F.lit(0)).alias("__nt"))
        lam_tbl = (
            raw.join(tgt, "__b", "left")
            .crossJoin(F.broadcast(raw_tot))
            .crossJoin(F.broadcast(tgt_tot))
            .select("__b", F.log(
                ((F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1.0))
                 * (F.col("__nr") + F.lit(buckets)))
                / ((F.col("__cr") + F.lit(1.0))
                   * (F.col("__nt") + F.lit(buckets)))
            ).cast("decimal(28,12)").alias("__lam"))
        )
        scored = (
            doc_bucket.join(F.broadcast(lam_tbl), "__b")
            .groupBy("doc_id", "__grp")
            .agg(
                F.sum("m").cast("long").alias("n_grams"),
                F.round(F.sum(F.col("m").cast("decimal(9,0)") * F.col("__lam")), 6)
                .cast("double").alias("log_weight"),
            )
        )
        return (scored.select(F.col("doc_id"), F.col("__grp").alias("grp"),
                              "n_grams", "log_weight")
                .orderBy(F.col("log_weight").desc(), F.col("doc_id")).limit(k))

    df = _docs_df(spark)
    got = [tuple(r) for r in sampling.dsir_weights(df).collect()]
    ref = [tuple(r) for r in dsir_old(df).collect()]
    assert got == ref  # ordered: same top-k, same ranking
    assert got, "vacuous: no weighted docs produced"


def test_tfidf_matches_pre_rewrite_composition(spark):
    from pyspark.sql.window import Window

    from kairos_spark.operators import text
    from kairos_spark.operators.text import _token_counts

    def tfidf_old(df, k=3, pattern="[a-z]+"):
        tf = _token_counts(df, "text", pattern, ["doc_id"]).withColumnRenamed(
            "n", "tf")
        dfreq = tf.groupBy("token").agg(F.count("*").alias("__df"))
        ndocs = df.groupBy().agg(F.count("*").alias("__n"))
        scored = (tf.join(dfreq, "token").crossJoin(F.broadcast(ndocs))
                  .withColumn("score",
                              F.col("tf") * F.log(F.col("__n") / F.col("__df"))))
        w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
        return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("doc_id", "rank", "token", "tf",
                        F.round("score", 6).alias("score")))

    df = _docs_df(spark)
    got = sorted(tuple(r) for r in text.tfidf_top_terms(df, k=3).collect())
    ref = sorted(tuple(r) for r in tfidf_old(df, k=3).collect())
    assert got == ref
    assert got, "vacuous: no tf-idf rows produced"


def test_ppl_bucket_mix_matches_pre_rewrite_composition(spark):
    from pyspark.sql.window import Window

    from kairos_spark.operators import text
    from kairos_spark.exact import _round6_ratio
    from kairos_spark.operators.text import bigram_lm_score

    def ppl_old(df, buckets=3):
        scored = bigram_lm_score(df, "text", "doc_id").join(
            df.select(F.col("doc_id"), F.col("lang").alias("grp")), "doc_id")
        w = Window.partitionBy("grp").orderBy(
            F.col("lm_score").desc(), F.col("doc_id"))
        tiered = scored.withColumn(
            "bucket", F.ntile(buckets).over(w).cast("long"))
        per = tiered.groupBy("grp", "bucket").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.min("lm_score").alias("score_lo"),
            F.max("lm_score").alias("score_hi"),
        )
        tot = Window.partitionBy("grp")
        return per.select(
            "grp", "bucket", "n_docs", "n_bigrams",
            _round6_ratio(F.col("n_docs"),
                          F.sum("n_docs").over(tot)).alias("doc_share"),
            _round6_ratio(
                F.col("n_bigrams"),
                F.greatest(F.sum("n_bigrams").over(tot), F.lit(1)),
            ).alias("mass_share"),
            "score_lo", "score_hi",
        )

    df = _docs_df(spark)
    got = sorted(tuple(r) for r in text.ppl_bucket_mix(df).collect())
    ref = sorted(tuple(r) for r in ppl_old(df).collect())
    assert got == ref
    assert got, "vacuous: no tier rows produced"


def test_winnow_pairs_matches_pre_rewrite_composition(spark):
    """winnow_near_pairs' grouped occurrence-list pair generation must
    reproduce the old rare-filter + fp self-join exactly, including:
    occ == 1 fingerprints counting toward set sizes (Jaccard
    denominators) while producing no pairs, and the max_occ stop gate
    (exercised with max_occ=2 so the shared 'common' fingerprint
    window is dropped)."""
    from kairos_spark.exact import _round6_ratio
    from kairos_spark.operators.dedup import winnow_fingerprints, winnow_near_pairs

    def winnow_old(df, k=8, w=4, max_occ=50, min_shared=3, min_score=0.0):
        fps = winnow_fingerprints(df, "text", "doc_id", k, w)
        rare = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("__occ"))
            .where(F.col("__occ") <= max_occ)
            .select("fp")
        )
        kept = fps.join(rare, "fp")
        sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
        a = kept.select(F.col("doc_id").alias("id_a"), "fp")
        b = kept.select(F.col("doc_id").alias("id_b"), "fp")
        shared = (
            a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
        )
        sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("__sa"))
        sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("__sb"))
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

    shared_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "en", shared_text + " first trailing tail"),
        (2, "en", shared_text + " second trailing tail"),
        (3, "de", shared_text + " third different tail"),
        (4, "de", "a completely unrelated document body with its own words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for max_occ, min_shared in ((50, 3), (2, 1)):
        got = sorted(
            tuple(r)
            for r in winnow_near_pairs(
                df, max_occ=max_occ, min_shared=min_shared
            ).collect()
        )
        ref = sorted(
            tuple(r)
            for r in winnow_old(df, max_occ=max_occ, min_shared=min_shared).collect()
        )
        assert got == ref, (max_occ, min_shared)
    # non-vacuity: the default config must actually find the near-pairs
    assert winnow_near_pairs(df).count() > 0


def test_coactivity_edges_matches_pre_rewrite_composition(spark):
    """coactivity_edges' grouped cell pair generation must reproduce
    the old stop-bucket + cell self-join exactly, including the
    max_bucket_nodes cap dropping a hot cell (exercised with cap=2)
    and min_shared filtering."""
    from kairos_spark.operators.graph import coactivity_edges

    def coact_old(df, step_sec=3600, min_shared=2, max_bucket_nodes=200):
        cell = F.concat_ws(
            ":",
            F.col("event_type"),
            (F.floor(F.unix_timestamp(F.col("ts")) / step_sec))
            .cast("long").cast("string"),
        )
        occ = df.select(F.col("user_id").alias("__u"), cell.alias("__cell")).distinct()
        small = (
            occ.groupBy("__cell")
            .agg(F.count("*").alias("__n"))
            .where(F.col("__n") <= max_bucket_nodes)
            .select("__cell")
        )
        occ = occ.join(small, "__cell")
        a = occ.select(F.col("__u").alias("a"), "__cell")
        b = occ.select(F.col("__u").alias("b"), "__cell")
        return (
            a.join(b, "__cell")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("__w"))
            .where(F.col("__w") >= min_shared)
            .select("a", "b")
        )

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    # hot cell: users 1..4 share (click, hour 0) — dropped at cap=2;
    # users 1,2 also share (view, hours 1 and 2) — two shared cells
    for u in (1, 2, 3, 4):
        rows.append((u, "click", t0))
    for h in (1, 2):
        for u in (1, 2):
            rows.append((u, "view", t0 + dt.timedelta(hours=h)))
    # duplicate event (distinct() path) and a singleton cell
    rows.append((1, "view", t0 + dt.timedelta(hours=1)))
    rows.append((5, "solo", t0 + dt.timedelta(hours=3)))
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    for cap, ms in ((200, 2), (2, 1)):
        got = sorted(
            tuple(r)
            for r in coactivity_edges(
                df, min_shared=ms, max_bucket_nodes=cap
            ).collect()
        )
        ref = sorted(
            tuple(r)
            for r in coact_old(df, min_shared=ms, max_bucket_nodes=cap).collect()
        )
        assert got == ref, (cap, ms)
    # non-vacuity + the hot-cell drop: at cap=2 the click clique is
    # gone, only (1,2) survives via the two view cells
    assert [tuple(r) for r in coactivity_edges(
        df, min_shared=2, max_bucket_nodes=2).collect()] == [(1, 2)]
