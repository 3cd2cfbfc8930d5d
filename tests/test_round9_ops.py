"""Unit tests for the round-9 training-data pipeline operators:
paragraph-grain exact dedup, cross-doc span-grain dedup (Lee et al.
2022 semantics), CCNet perplexity-bucket mix, tokenizer-compression
drift, eval-suite-grain contamination, keep-best cluster
representatives, and the cross-source duplication matrix — plus the
round-9 engine-mirror hardening (_cents tie rule, quality-rule hash
count)."""

from pyspark.sql import Row, functions as F

from kairos_spark import exact
from kairos_spark.operators import dedup, text

# --- paragraph_dedup_stats ---


def _paras(spark, rows, **kw):
    out = dedup.paragraph_dedup_stats(spark.createDataFrame(rows), **kw)
    return {r.doc_id: r for r in out.collect()}


def test_paragraph_dedup_basic(spark):
    rows = [
        Row(doc_id=1, text="shared para\nunique one"),
        Row(doc_id=2, text="shared para\nunique two"),
        Row(doc_id=3, text="all unique\nhere"),
    ]
    got = _paras(spark, rows)
    assert got[1].n_paras == 2 and got[1].n_dup_paras == 1
    assert got[1].dup_para_frac == 0.5
    assert got[2].n_dup_paras == 1
    assert got[3].n_dup_paras == 0 and got[3].dup_char_frac == 0.0


def test_paragraph_dedup_crlf_matches_lf(spark):
    # a CRLF paragraph must digest like its LF twin (trim strips \r)
    rows = [
        Row(doc_id=1, text="same line\r\nother"),
        Row(doc_id=2, text="same line\nmore"),
    ]
    got = _paras(spark, rows)
    assert got[1].n_dup_paras == 1 and got[2].n_dup_paras == 1


def test_paragraph_dedup_empty_paragraphs_dropped(spark):
    rows = [Row(doc_id=1, text="a\n\n   \nb"), Row(doc_id=2, text="c")]
    got = _paras(spark, rows)
    assert got[1].n_paras == 2  # blank and whitespace-only lines dropped


def test_paragraph_dedup_within_doc_repeat_not_dup(spark):
    # min_docs counts DISTINCT documents: the same paragraph twice in
    # one doc is not a corpus duplicate
    rows = [Row(doc_id=1, text="twice\ntwice"), Row(doc_id=2, text="other")]
    got = _paras(spark, rows)
    assert got[1].n_dup_paras == 0


def test_paragraph_dedup_char_frac(spark):
    # doc 1: dup para 'aaaa' (4 chars) + unique 'bbbbbb' (6) -> 0.4
    rows = [
        Row(doc_id=1, text="aaaa\nbbbbbb"),
        Row(doc_id=2, text="aaaa"),
    ]
    got = _paras(spark, rows)
    assert got[1].dup_char_frac == 0.4


# --- crossdoc_span_stats ---


def _spans(spark, rows, **kw):
    out = dedup.crossdoc_span_stats(spark.createDataFrame(rows), **kw)
    return {r.doc_id: r for r in out.collect()}


def test_crossdoc_spans_shared_run(spark):
    # docs share an exact 6-token run; k=4 -> flagged starts 1..3 in
    # doc 1 merge into ONE span covering all 6 tokens
    shared = "a b c d e f"
    rows = [
        Row(doc_id=1, text=shared),
        Row(doc_id=2, text=shared + " x y z"),
        Row(doc_id=3, text="p q r s t u v w"),
    ]
    got = _spans(spark, rows, k=4)
    assert got[1].n_spans == 1 and got[1].dup_tokens == 6
    assert got[1].dup_token_frac == 1.0
    assert got[2].n_spans == 1 and got[2].dup_tokens == 6
    assert got[3].n_spans == 0 and got[3].dup_tokens == 0


def test_crossdoc_spans_island_split_on_gap(spark):
    # two shared runs far apart in one doc -> two separate spans
    rows = [
        Row(doc_id=1, text="a b c d m1 m2 m3 m4 m5 m6 m7 w x y z"),
        Row(doc_id=2, text="a b c d"),
        Row(doc_id=3, text="w x y z"),
    ]
    got = _spans(spark, rows, k=4)
    assert got[1].n_spans == 2 and got[1].dup_tokens == 8


def test_crossdoc_spans_overlap_counted_once(spark):
    # doc 1 = 'a b c d e': both [a..d] and [b..e] flagged (each shared
    # with another doc) -> ONE merged span of 5 unique tokens, not 8
    rows = [
        Row(doc_id=1, text="a b c d e"),
        Row(doc_id=2, text="a b c d q1 q2 q3 q4 q5"),
        Row(doc_id=3, text="b c d e r1 r2 r3 r4 r5"),
    ]
    got = _spans(spark, rows, k=4)
    assert got[1].n_spans == 1 and got[1].dup_tokens == 5


def test_crossdoc_spans_within_doc_repeat_counts(spark):
    # the suffix-array criterion: a k-gram repeated WITHIN one doc is
    # duplicated (total occurrences >= min_count)
    rows = [
        Row(doc_id=1, text="a b c d x1 x2 x3 a b c d"),
        Row(doc_id=2, text="totally different words here indeed"),
    ]
    got = _spans(spark, rows, k=4)
    assert got[1].dup_tokens == 8 and got[1].n_spans == 2


def test_crossdoc_spans_short_doc_zero(spark):
    rows = [Row(doc_id=1, text="a b"), Row(doc_id=2, text="a b")]
    got = _spans(spark, rows, k=4)
    # < k tokens: no grams, zero spans, but the doc still appears
    assert got[1].n_tokens == 2 and got[1].n_spans == 0


# --- ppl_bucket_mix ---


def test_ppl_bucket_mix_shapes_and_shares(spark):
    rows = [
        Row(doc_id=i, lang="en", text=t)
        for i, t in enumerate(
            [
                "the cat sat on the mat",
                "the cat sat on the hat",
                "the dog ran to the cat",
                "zx qv jk wp mn bv cx",
                "the cat sat on the mat",
                "one two three four five six",
            ]
        )
    ]
    out = text.ppl_bucket_mix(
        spark.createDataFrame(rows), group_col="lang", buckets=3
    ).collect()
    assert {r.bucket for r in out} == {1, 2, 3}
    assert sum(r.n_docs for r in out) == 6
    # equal-count ntile over 6 docs -> 2 per bucket
    assert all(r.n_docs == 2 for r in out)
    # each share is round-6(1/3) = 0.333333 -> the sum is 0.999999
    assert abs(sum(r.doc_share for r in out) - 1.0) < 2e-6
    by_bucket = {r.bucket: r for r in out}
    # bucket 1 holds the HIGHEST scores
    assert by_bucket[1].score_lo >= by_bucket[2].score_hi
    assert by_bucket[2].score_lo >= by_bucket[3].score_hi


def test_ppl_bucket_mix_groups_bucket_independently(spark):
    rows = [
        Row(doc_id=1, lang="en", text="the cat sat on the mat"),
        Row(doc_id=2, lang="en", text="the cat sat on the rug"),
        Row(doc_id=3, lang="de", text="der hund lief zum haus"),
    ]
    out = text.ppl_bucket_mix(
        spark.createDataFrame(rows), group_col="lang", buckets=2
    ).collect()
    de = [r for r in out if r.grp == "de"]
    # one de doc -> one tier, full share
    assert len(de) == 1 and de[0].n_docs == 1 and de[0].doc_share == 1.0


# --- tokenizer_drift ---


def test_tokenizer_drift_values(spark):
    # src a: 'aaaa bbbb' = 2 tokens, 9 chars; src b: 'a b c d' = 4
    # tokens, 7 chars. corpus: 6 tokens, 16 chars.
    rows = [
        Row(doc_id=1, source="a", text="aaaa bbbb"),
        Row(doc_id=2, source="b", text="a b c d"),
    ]
    out = {
        r.grp: r
        for r in text.tokenizer_drift(
            spark.createDataFrame(rows), group_col="source"
        ).collect()
    }
    assert out["a"].tokens == 2 and out["a"].chars == 9
    assert out["a"].chars_per_token == 4.5
    # drift_a = 9/2 - 16/6 = 11/6 ~ 1.833333 (round-half-up 6dp)
    assert out["a"].drift == 1.833333
    # drift_b = 7/4 - 16/6 = -11/12 ~ -0.916667 (half away from zero)
    assert out["b"].drift == -0.916667


def test_tokenizer_drift_single_source_zero_drift(spark):
    rows = [Row(doc_id=1, source="a", text="hello world")]
    out = text.tokenizer_drift(
        spark.createDataFrame(rows), group_col="source"
    ).collect()
    assert out[0].drift == 0.0


# --- contamination_by_benchmark ---


def test_contamination_by_benchmark(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=10, text="alpha beta gamma delta"),
            Row(doc_id=11, text="epsilon zeta eta theta"),
            Row(doc_id=12, text="nothing shared here at all"),
        ]
    )
    bench = spark.createDataFrame(
        [
            Row(benchmark="b0", text="alpha beta gamma"),
            Row(benchmark="b1", text="unseen tokens only"),
        ]
    )
    out = {
        r.benchmark: r
        for r in text.contamination_by_benchmark(docs, bench, n=3).collect()
    }
    assert out["b0"].n_docs_hit == 1
    assert out["b0"].hit_rate == 0.333333
    # zero-hit benchmark still appears with zeros
    assert out["b1"].n_docs_hit == 0 and out["b1"].total_overlap == 0


# --- cluster_representatives ---


def test_cluster_representatives_argmax_and_ties(spark):
    clusters = spark.createDataFrame(
        [
            Row(node=1, cluster_id=1),
            Row(node=2, cluster_id=1),
            Row(node=3, cluster_id=1),
            Row(node=7, cluster_id=7),
            Row(node=9, cluster_id=7),
        ]
    )
    scored = spark.createDataFrame(
        [
            Row(doc_id=1, quality=0.5),
            Row(doc_id=2, quality=0.9),
            Row(doc_id=3, quality=0.9),  # tie with 2 -> lower id wins
            Row(doc_id=7, quality=0.1),
            Row(doc_id=9, quality=0.2),
        ]
    )
    out = {
        r.cluster_id: r
        for r in dedup.cluster_representatives(clusters, scored).collect()
    }
    assert out[1].keep_doc_id == 2 and out[1].n_members == 3
    assert out[1].keep_score == 0.9
    assert out[7].keep_doc_id == 9 and out[7].n_members == 2


# --- cross_source_duplication ---


def test_cross_source_duplication_matrix(spark):
    rows = [
        Row(doc_id=1, source="a", text="shared text"),
        Row(doc_id=2, source="b", text="shared text"),
        Row(doc_id=3, source="a", text="a internal dup"),
        Row(doc_id=4, source="a", text="a internal dup"),
        Row(doc_id=5, source="b", text="b only"),
    ]
    out = {
        (r.src_a, r.src_b): r
        for r in dedup.cross_source_duplication(
            spark.createDataFrame(rows)
        ).collect()
    }
    assert out[("a", "b")].n_shared_digests == 1
    assert out[("a", "b")].n_docs_involved == 2
    assert out[("a", "a")].n_shared_digests == 1
    assert out[("a", "a")].n_docs_involved == 2
    assert ("b", "b") not in out  # no within-b dups
    assert ("b", "a") not in out  # unordered: only a <= b rows


# --- round-9 hardening: _cents tie rule, quality-rule hash count ---


def test_cents_tie_rule_half_away(spark):
    # dyadic 3-decimal values land EXACTLY on half-cents: floor(x+0.5)
    # half-away must give 13/-13 where rint's half-even gave 12/-12
    df = spark.createDataFrame(
        [(0.125,), (-0.125,), (2.625,), (1.0,), (4.56,), (-0.375,)], ["v"]
    )
    got = [
        r.c for r in df.select(exact._cents(F.col("v")).alias("c")).collect()
    ]
    assert got == [13, -13, 263, 100, 456, -38]


def test_quality_rules_hash_counts_in_symbol_ratio(spark):
    # 10 words, one '#': 10*1 > 10 words is false -> boundary passes;
    # two '#' -> 20 > 10 fails (the ADVICE r8 omission, now counted)
    ten_words = "alpha beta gamma delta epsilon zeta eta theta iota"
    one_hash = ten_words + " #tag"
    two_hash = ten_words + " #tag#"
    def r03(txt):
        out = text.quality_rules(
            spark.createDataFrame([Row(doc_id=1, text=txt)])
        )
        return {r.rule: r.n_pass for r in out.collect()}["r03_symbol_ratio"]

    assert r03(one_hash) == 1
    assert r03(two_hash) == 0


# --- dup_cluster_sizes ---


def test_dup_cluster_sizes_spectrum(spark):
    rows = [
        Row(doc_id=1, text="aaaa"),      # triple, len 4
        Row(doc_id=2, text="aaaa"),
        Row(doc_id=3, text="aaaa"),
        Row(doc_id=4, text="bb"),        # pair, len 2
        Row(doc_id=5, text="bb"),
        Row(doc_id=6, text="unique"),
    ]
    out = {
        r.group_size: r
        for r in dedup.dup_cluster_sizes(spark.createDataFrame(rows)).collect()
    }
    assert out[3].n_groups == 1 and out[3].n_docs == 3
    assert out[3].n_docs_removable == 2 and out[3].chars_removable == 8
    assert out[2].n_docs_removable == 1 and out[2].chars_removable == 2
    assert out[1].n_groups == 1 and out[1].n_docs_removable == 0
    assert out[3].doc_share == 0.5
    assert sum(r.n_docs for r in out.values()) == 6


# --- template_prefix_share ---


def test_template_prefix_share(spark):
    tmpl = "terms of service apply to all pages here"  # 8-token prefix
    rows = [
        Row(doc_id=1, source="a", text=tmpl + " one"),
        Row(doc_id=2, source="a", text=tmpl + " two"),
        Row(doc_id=3, source="a", text=tmpl + " three"),
        Row(doc_id=4, source="a", text="organic page content differs here a lot truly"),
        Row(doc_id=5, source="b", text="each doc is different in source b"),
        Row(doc_id=6, source="b", text="no shared template in this feed"),
    ]
    out = {
        r.grp: r
        for r in text.template_prefix_share(
            spark.createDataFrame(rows), group_col="source", k=8
        ).collect()
    }
    assert out["a"].n_docs == 4 and out["a"].top_count == 3
    assert out["a"].top_share == 0.75 and out["a"].n_prefixes == 2
    assert out["b"].top_count == 1 and out["b"].n_prefixes == 2


def test_template_prefix_short_docs(spark):
    # docs shorter than k tokens digest their full token list
    rows = [
        Row(doc_id=1, source="a", text="tiny doc"),
        Row(doc_id=2, source="a", text="tiny doc"),
    ]
    out = text.template_prefix_share(
        spark.createDataFrame(rows), group_col="source", k=8
    ).collect()
    assert out[0].top_count == 2 and out[0].top_share == 1.0


# --- embedding_moments ---


def test_embedding_moments_exact_values(spark):
    from kairos_spark.operators import similarity

    rows = [
        Row(vec_id=1, embedding=[0.5, -0.25]),
        Row(vec_id=2, embedding=[0.5, 0.25]),
        Row(vec_id=3, embedding=[-1.0, 0.25]),
    ]
    out = {
        r.dim: r
        for r in similarity.embedding_moments(
            spark.createDataFrame(rows)
        ).collect()
    }
    # dim 0: mean 0/3 = 0, var_pop = (0.25+0.25+1)/3 - 0 = 0.5
    assert out[0].n == 3
    assert out[0].mean_v == 0.0
    assert out[0].var_v == 0.5
    # dim 1: mean 0.25/3 = 0.083333 (half-up), var = (3*0.1875-0.0625)/9
    assert out[1].mean_v == 0.083333
    assert out[1].var_v == 0.055556


def test_embedding_moments_constant_dim_zero_var(spark):
    from kairos_spark.operators import similarity

    rows = [Row(vec_id=i, embedding=[0.125, float(i)/10]) for i in range(4)]
    out = {
        r.dim: r
        for r in similarity.embedding_moments(
            spark.createDataFrame(rows)
        ).collect()
    }
    assert out[0].var_v == 0.0 and out[0].mean_v == 0.125


def test_embedding_moments_partition_invariant(spark):
    # the exact-decimal route must be bit-identical on any partitioning
    from kairos_spark.operators import similarity

    rows = [
        Row(vec_id=i, embedding=[((i * 37) % 100) / 99.0 - 0.5])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    a = similarity.embedding_moments(df.repartition(1)).collect()
    b = similarity.embedding_moments(df.repartition(13)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_decimal_cast_tie_rule_diverges_and_floor_agrees(spark):
    """Engine fact (r9): Spark's double→DECIMAL(14,12) cast rounds a
    scale-12 midpoint half-AWAY while DuckDB's rounds half-EVEN —
    1/8192·1e12 = 122070312.5 exactly. embedding_moments therefore
    quantizes with sign·floor(|v|·1e12 + 0.5), identical in both
    engines. If the divergence assertion starts failing, an engine
    changed its cast tie rule — re-audit every scale-12 cast site."""
    import duckdb

    x = 1 / 8192
    (sp_cast,) = spark.range(1).select(
        (F.lit(x).cast("decimal(14,12)") * F.lit(1_000_000_000_000))
        .cast("decimal(13,0)")
        .cast("long")
    ).collect()[0]
    con = duckdb.connect()
    (dk_cast,) = con.execute(
        "SELECT CAST(CAST(?::DOUBLE AS DECIMAL(14,12)) * 1000000000000 AS HUGEINT)",
        [x],
    ).fetchone()
    assert sp_cast == 122070313 and dk_cast == 122070312  # the split
    (sp_floor,) = spark.range(1).select(
        F.floor(F.abs(F.lit(x)) * F.lit(1_000_000_000_000.0) + F.lit(0.5)).cast("long")
    ).collect()[0]
    (dk_floor,) = con.execute(
        "SELECT CAST(floor(?::DOUBLE * 1000000000000.0 + 0.5) AS BIGINT)", [x]
    ).fetchone()
    assert sp_floor == dk_floor == 122070313


def test_embedding_moments_tie_components(spark):
    # dyadic-coarse components landing exactly on 1e-12-grid ties must
    # quantize identically regardless of sign
    from kairos_spark.operators import similarity

    rows = [
        Row(vec_id=1, embedding=[1 / 8192, -1 / 8192]),
        Row(vec_id=2, embedding=[3 / 8192, -3 / 8192]),
    ]
    out = {
        r.dim: r
        for r in similarity.embedding_moments(
            spark.createDataFrame(rows)
        ).collect()
    }
    # quanta: 122070313 and 366210938 (half-up) -> mean = half-up of
    # 488281251/(2e12) = 0.000244140625500 -> 0.000244
    assert out[0].mean_v == 0.000244
    assert out[1].mean_v == -0.000244
    assert out[0].var_v == out[1].var_v  # symmetric spread
