"""Text-analysis operators for training-data pipelines.

Everything here is a narrow JVM-side projection (regex/string builtins,
higher-order array functions) — map-only stages with no shuffle, which
is exactly what you want when sweeping 100 TB of documents: the cost is
one pass over the text bytes, Catalyst prunes unused columns, and the
operators compose with any downstream filter/agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kairos_spark.exact import (
    _round6_bridge,
    _round6_ratio,
    _round6_ratio_dec,
    _round6_ratio_dec_signed,
)

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
# Whitespace spelled out ([ \t\n\f\r]) rather than \s: Java regex \s
# includes vertical tab (\x0B), RE2 (DuckDB) \s does not — explicit
# classes keep Spark and every oracle byte-identical on VT input.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0c\r]"

# The ONLY two code points where Java's full-Unicode lower() (what
# Spark executes) disagrees with the one-to-one simple mapping DuckDB's
# utf8proc applies: U+0130 İ expands to "i"+U+0307 under SpecialCasing,
# and Σ maps context-sensitively to final ς. Verified by an EXHAUSTIVE
# sweep over every assigned codepoint (tests/test_agree_lower.py) —
# every other lowercase mapping agrees byte-for-byte except a pinned
# 43-codepoint Unicode-VERSION residue (Vithkuqi/Latin-Ext-D/Glagolitic
# additions the container's DuckDB doesn't know yet; deliberately NOT
# compensated — see KNOWN_VERSION_SKEW in the test). Pre-translating
# the two hazards to their simple-mapped forms makes Spark's lower()
# identical to DuckDB's, so oracles keep plain lower(text).
_LOWER_HAZ_SRC = "İΣ"  # İ Σ
_LOWER_HAZ_DST = "iσ"  # i σ


def agree_lower(col: Column) -> Column:
    """Lowercase that agrees with DuckDB's simple case mapping (the
    canonical lowercase for every tokenizer/normalizer in the repo)."""
    return F.lower(F.translate(col, _LOWER_HAZ_SRC, _LOWER_HAZ_DST))


# Tiny per-language stopword panels for the n-gram/stopword heuristic.
# Deliberately small and fixed so language_id is deterministic and
# SQL-expressible (each panel becomes one regexp count).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans"],
    "es": ["el", "la", "los", "que", "es", "para", "con", "una"],
}


def _word_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def _count_matches(col: Column, pattern: str) -> Column:
    # regexp_count: counts without materializing the match array
    return F.regexp_count(col, F.lit(pattern))


def token_count(text: Column) -> Column:
    """Number of BPE-ish tokens (letter runs / digit runs / punct)."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX))


def word_count(text: Column) -> Column:
    # explicit whitespace class — see TOKEN_REGEX note on Java-vs-RE2 \s
    return F.size(F.split(F.trim(text), "[ \t\n\x0c\r]+"))


# Character classes as literal alphabets for translate()-based counting.
# Counting chars of a class as length(t) - length(translate(t, class, ''))
# is exactly equivalent to regexp_count over the class but runs as a
# single table-lookup pass (no java.util.regex), which matters when the
# same text column feeds many ratio columns.
_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"
# RE2-compatible whitespace (NO \x0b): Java \s includes vertical tab,
# RE2 (the oracle engine) does not — VT must count as punctuation on
# both sides or a VT-bearing document splits the ratio columns
_SPACES = " \t\n\f\r"


def _class_count(t: Column, alphabet: str) -> Column:
    return F.length(t) - F.length(F.translate(t, alphabet, ""))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics: lengths, token/word counts,
    punctuation/digit/whitespace ratios, stopword ratio, mean word
    length. One narrow projection; no shuffle. Char-class ratios use
    translate() counts (identical values to the regex-class versions,
    see _class_count) so the only regex passes left are the tokenizer,
    the word splitter, and the stopword panel."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = word_count(t)
    stop_hits = _count_matches(agree_lower(t), _word_pattern(STOPWORDS["en"]))
    n_letters = _class_count(t, _LETTERS)
    n_digits = _class_count(t, _DIGITS)
    n_spaces = _class_count(t, _SPACES)
    denom = F.greatest(n_chars, F.lit(1))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        words.alias("n_words"),
        token_count(t).alias("n_tokens"),
        # punct = anything that is not letter/digit/\s — same set as
        # the regex class [^A-Za-z0-9\s]. Integer half-up rounding
        # (_round6_ratio): count ratios land on exact 7th-decimal
        # midpoints (4 puncts / 512 chars) where engine round() splits
        _round6_ratio(n_chars - n_letters - n_digits - n_spaces, denom).alias("punct_ratio"),
        _round6_ratio(n_digits, denom).alias("digit_ratio"),
        _round6_ratio(n_spaces, denom).alias("space_ratio"),
        _round6_ratio(stop_hits, F.greatest(words, F.lit(1))).alias("stopword_ratio"),
        _round6_ratio(n_letters, F.greatest(words, F.lit(1))).alias("mean_word_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite 0-1 quality score from the stats (heuristic linear mix:
    penalize extreme punctuation/digit density, reward stopword presence
    and mid-range length)."""
    s = text_stats(df, text_col, id_col)
    length_term = F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_term
        + F.lit(0.3) * F.least(F.col("stopword_ratio") * 3, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(F.col("digit_ratio") * 5, F.lit(1.0)))
    )
    # the mix of 6dp ratios with 1dp coefficients is an EXACT 7-decimal
    # rational; the double sum lands within ~1e-15 of it, so casting to
    # decimal(18,7) recovers the exact value and the final 6dp round
    # happens on identical decimals in every engine — a bare double
    # round(x, 6) straddles the frequent ...5 midpoints differently
    # across engines (observed at sf0.1)
    return s.select(
        F.col(id_col),
        F.round(score.cast("decimal(18,7)"), 6).cast("double").alias("quality"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-panel language heuristic: per language, count panel hits
    per word; predict argmax (ties → lexicographic language order,
    'und' → no hits at all). Deterministic, expressible in ANSI SQL for
    the oracle harness."""
    t = agree_lower(F.col(text_col))
    words = F.greatest(word_count(F.col(text_col)), F.lit(1))
    scores = [
        (lang, _count_matches(t, _word_pattern(panel)) / words)
        for lang, panel in sorted(STOPWORDS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.when(best <= 0, F.lit("und"))
    for lang, s in scores:
        pred = pred.when(s == best, F.lit(lang))
    return df.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        F.round(best, 6).alias("lang_score"),
    )


def _token_counts(
    df: DataFrame, text_col: str, pattern: str, group_cols: list[str]
) -> DataFrame:
    """Shared tokenize → explode → count base: map-side explode, partial
    aggregation before the single shuffle on (groups..., token)."""
    tok = df.select(
        *[F.col(c) for c in group_cols],
        F.explode(
            F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
        ).alias("token"),
    )
    return tok.groupBy(*group_cols, "token").agg(F.count("*").alias("n"))


def top_tokens(
    df: DataFrame, k: int = 20, text_col: str = "text", pattern: str = "[a-z]+"
) -> DataFrame:
    """Corpus-wide top-k tokens: tokenize → explode → count → top-k.
    The classic vocabulary/frequency sweep of a training-data pipeline.

    Scale shape: counts aggregate partially before the shuffle; top-k is
    TakeOrderedAndProject (per-partition heaps merged on the driver),
    never a global sort."""
    return (
        _token_counts(df, text_col, pattern, [])
        .orderBy(F.col("n").desc(), "token")
        .limit(k)
    )


def word_tokens(text: Column) -> Column:
    """Whitespace word tokens over the normalized form (lowercase,
    collapsed whitespace) — the shared base for word-n-gram operators."""
    return F.split(F.trim(normalize_ws(text)), " ")


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams from a token array. Short
    documents (< n words) yield their single partial gram, mirroring the
    char-shingle convention in shingles_of_norm."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Within-document repetition signals (the Gopher-style quality
    filters): fraction of duplicate word n-grams and the share of the
    single most repeated n-gram.

    Scale shape: explode grams → two-stage aggregate ((doc, gram)
    counts, then per-doc stats). Partial aggregation bounds the shuffle
    at distinct (doc, gram) pairs; no windows, no state."""
    grams = df.select(
        F.col(id_col),
        F.explode(word_ngrams(word_tokens(F.col(text_col)), n)).alias("__g"),
    )
    counted = grams.groupBy(id_col, "__g").agg(F.count("*").alias("__c"))
    return counted.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        _round6_ratio(F.sum("__c") - F.count("*"), F.sum("__c")).alias("dup_frac"),
        _round6_ratio(F.max("__c"), F.sum("__c")).alias("top_share"),
    )


def word_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy (bits) of the word distribution — a
    cheap fluency/diversity signal (near-0 = degenerate repetition; high
    = vocabulary-rich). Computed as log2(T) - Σ c·log2(c)/T so a single
    two-stage aggregate suffices (no second pass for totals)."""
    tok = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("__w")
    )
    counted = tok.groupBy(id_col, "__w").agg(F.count("*").alias("__c"))
    return counted.groupBy(id_col).agg(
        F.round(
            F.log2(F.sum("__c")) - F.sum(F.col("__c") * F.log2("__c")) / F.sum("__c"),
            6,
        ).alias("entropy")
    )


def contamination_overlap(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: per document, the number of
    distinct word n-grams shared with a benchmark corpus — the standard
    n-gram-overlap decontamination pass before training.

    Scale shape: the benchmark gram set is tiny relative to the corpus
    and is broadcast, so the probe is a map-side hash join over the
    exploded corpus grams; only matching (doc, gram) pairs reach the
    final per-doc count."""

    def grams(frame):
        return frame.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngrams(word_tokens(F.col(text_col)), n))
            ).alias("__g"),
        )

    bench = grams(bench_df).select("__g").distinct()
    return (
        grams(df)
        .join(F.broadcast(bench), "__g")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )


def top_tokens_by_group(
    df: DataFrame,
    group_col: str = "lang",
    k: int = 5,
    text_col: str = "text",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Per-group top-k tokens (e.g. per-language vocabulary heads).

    Scale shape: the shared (group, token) hash aggregate with map-side
    combine, then a rank window partitioned BY GROUP over the already-
    aggregated counts — the window input is bounded by |groups| ×
    |vocabulary|, never by corpus size."""
    from pyspark.sql.window import Window

    counts = _token_counts(df, text_col, pattern, [group_col])
    w = Window.partitionBy(group_col).orderBy(F.col("n").desc(), "token")
    return counts.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def normalize_ws(text: Column) -> Column:
    """Lowercase + collapse whitespace runs to single spaces — the
    canonical form all shingle operators hash over.

    The whitespace class is spelled out explicitly ([ \\t\\n\\f\\r])
    instead of ``\\s`` because Java regex ``\\s`` includes vertical tab
    (\\x0B) while RE2 (DuckDB's engine, used by every oracle) does not —
    the same divergence fixed in dedup.normalized_text."""
    return F.regexp_replace(agree_lower(text), "[ \t\n\x0c\r]+", " ")


def shingles_of_norm(norm: Column, n: int = 8) -> Column:
    """Array of n-char shingles over an ALREADY-normalized column.

    Callers must materialize ``normalize_ws`` in its own projection
    first: higher-order-function lambdas are interpreted, and an
    expression inlined into the lambda body is re-evaluated per array
    element — an inlined regexp_replace costs O(len) regex work per
    shingle instead of per document (~8× measured on the bench corpus).
    """
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: norm.substr(i, F.lit(n)))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Document fingerprint: minimum md5 over n-char shingles (a 1-hash
    MinHash — stable under small edits far from the minimizing shingle).

    Shape: explode shingles → md5 in whole-stage codegen → groupBy doc
    with a single min() aggregate. Map-side partial aggregation collapses
    each partition to one row per doc before the shuffle, and the md5
    stays out of the interpreted HOF-lambda path (same ~20× trap the
    MinHash operator engineered around — see dedup.minhash_signatures).
    min over duplicates equals min over distinct, so no array_distinct
    pass is needed either.
    """
    normed = df.select(F.col(id_col), normalize_ws(F.col(text_col)).alias("__norm"))
    exploded = normed.select(
        F.col(id_col),
        F.explode(shingles_of_norm(F.col("__norm"), n)).alias("__sh"),
    )
    return exploded.groupBy(id_col).agg(F.min(F.md5(F.col("__sh"))).alias("fingerprint"))


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tf = in-document term count,
    idf = ln(N / df_t) over document frequency; ties break on the token
    so the ranking is deterministic.

    Scale shape: (doc, term) counts partial-aggregate map-side before
    the single term shuffle; document frequency is an aggregate OF that
    aggregate (the pairs are already distinct, so df_t is a plain
    count); corpus size N joins as a broadcast scalar. The top-k window
    partitions by document over already-aggregated rows — bounded by
    distinct terms per document, never corpus volume, and no global
    sort anywhere."""
    from pyspark.sql.window import Window

    tf = _token_counts(df, text_col, pattern, [id_col]).withColumnRenamed("n", "tf")
    # reuse pin (r14 opt, guide §2.4): `tf > 0` always holds (tf is a
    # count over >= 1 rows) but forces the `tf` column into the dfreq
    # branch's subtree — without it, column pruning drops the count
    # from dfreq's (doc, token) pre-aggregate, the two exchanges stop
    # being byte-identical, and the corpus tokenize+explode runs a
    # SECOND time to feed dfreq instead of reusing tf's exchange.
    dfreq = tf.where(F.col("tf") > 0).groupBy("token").agg(
        F.count("*").alias("__df")
    )
    ndocs = df.groupBy().agg(F.count("*").alias("__n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", F.col("tf") * F.log(F.col("__n") / F.col("__df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "token", "tf", F.round("score", 6).alias("score"))
    )


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document bigram language-model score: mean ln p(w2|w1) under
    an add-one-smoothed bigram model fit on the corpus itself — the
    classic perplexity-proxy quality filter (KenLM-style scoring with
    the model reduced to corpus count tables).

    p(w2|w1) = (C(w1 w2) + 1) / (C(w1 ·) + V), V = corpus vocabulary.

    Scale shape: every join side is pre-aggregated — per-doc bigram
    multiplicities join corpus bigram counts on the bigram key and
    context counts on the first word; V broadcasts as a scalar. The
    per-doc sum uses DECIMAL(28,12) so the grand total is associative
    (bit-identical across engines/partitionings) before the final
    round-6 division."""
    words = df.select(F.col(id_col), word_tokens(F.col(text_col)).alias("__w"))
    grams = words.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, 2)),
                ),
            )
        ).alias("bg"),
    )
    per_doc = (
        grams.groupBy(id_col, "bg")
        .agg(F.count("*").alias("m"))
        .withColumn("w1", F.substring_index("bg", " ", 1))
    )
    corpus = per_doc.groupBy("bg").agg(F.sum("m").alias("__cbg"))
    ctx = (
        corpus.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("__cbg").alias("__cw1"))
    )
    vocab = (
        words.select(F.explode("__w").alias("__t"))
        .agg(F.count_distinct("__t").alias("__v"))
    )
    logp = F.log((F.col("__cbg") + 1) / (F.col("__cw1") + F.col("__v")))
    return (
        per_doc.join(corpus, "bg")
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.round(
                (F.sum((F.col("m") * logp).cast("decimal(28,12)")).cast("double"))
                / F.sum("m"),
                6,
            ).alias("lm_score"),
        )
    )


def chunk_words(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 24,
    stride: int = 16,
) -> DataFrame:
    """Split documents into fixed-size word windows with overlap
    (size−stride words shared between neighbors) — the
    context-window packing step of a training pipeline. Output one row
    per (doc, chunk): (doc_id, chunk_idx, n_words, digest) with digest
    = md5 of the space-joined chunk, so downstream chunk-level dedup is
    a plain digest groupBy.

    Chunk count = 1 if the doc fits in one window, else
    ceil((n_words − size)/stride) + 1 — the last window is the only
    short one and always contains the document tail.

    Scale shape: entirely map-side — tokenize, build the chunk index
    array with sequence(), and explode; no shuffle at all (the plan is
    Scan → Project → Generate). Output rows ≈ n_words/stride per doc,
    a ~size/stride× byte amplification the caller pays knowingly."""
    words = word_tokens(F.col(text_col))
    n_words = F.size(words)
    n_chunks = F.when(n_words <= size, F.lit(1)).otherwise(
        F.ceil((n_words - F.lit(size)) / F.lit(float(stride))) + 1
    )
    idx = F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))
    piece = F.slice(F.col("__ws"), F.col("chunk_idx").cast("int") * stride + 1, size)
    return (
        df.select(F.col(id_col), words.alias("__ws"), F.explode(idx).alias("chunk_idx"))
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.size(piece).alias("n_words"),
            F.md5(F.concat_ws(" ", piece)).alias("digest"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
    k: int = 5,
    n_salt: int = 16,
) -> DataFrame:
    """Posting-list heads: for every term with document frequency ≥
    ``min_df``, the exact doc frequency and the first ``k`` doc ids in
    ascending order (comma-joined) — the retrieval-index building
    block, and the exact answer an index probe would serve.

    Scale shape: the naive form (collect_list of ALL postings per term)
    explodes on stop words — a hot term's posting list is the whole
    corpus. Instead the min-k merge is two-phase: stage 1 groups by
    (term, doc_id % n_salt) and keeps only each salt's k smallest ids +
    a partial count (bounded state k per group, map-side combined);
    stage 2 merges n_salt partial lists per term (≤ n_salt·k ids) and
    sums the counts. No task ever materializes an unbounded postings
    array — the same mergeable-summary shape as sketches.py."""
    pairs = df.select(
        F.col(id_col).alias("__d"),
        F.explode(word_tokens(F.col(text_col))).alias("term"),
    ).distinct()
    p1 = pairs.groupBy("term", (F.col("__d") % n_salt).alias("__s")).agg(
        F.slice(F.sort_array(F.collect_list("__d")), 1, k).alias("__part"),
        F.count("*").alias("__c"),
    )
    p2 = p1.groupBy("term").agg(
        F.sum("__c").cast("long").alias("doc_freq"),
        F.slice(F.sort_array(F.flatten(F.collect_list("__part"))), 1, k).alias("__top"),
    )
    return p2.where(F.col("doc_freq") >= min_df).select(
        "term",
        "doc_freq",
        F.concat_ws(
            ",", F.transform(F.col("__top"), lambda x: x.cast("string"))
        ).alias("top_postings"),
    )


def boilerplate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document boilerplate detection at chunk grain (the
    CCNet-style dedup-within-corpus signal): split every doc into
    NON-overlapping ``size``-word chunks, mark each chunk digest that
    appears in >= ``min_docs`` distinct documents as boilerplate
    (headers, footers, license blocks, templated spans), and score
    each doc by its boilerplate fraction. Downstream filters drop
    high-fraction docs or strip the flagged chunks.

    Scale shape: chunking is map-only (see chunk_words); the digest
    -> distinct-doc-count aggregate shuffles only (digest, doc_id)
    pairs; the flagged-digest set (corpus-repeated chunks, tiny
    relative to all chunks) broadcasts back onto the chunk stream; the
    final per-doc score reuses one aggregate. Raw text shuffles
    nowhere."""
    chunks = chunk_words(df, text_col, id_col, size=size, stride=size)
    boiler = (
        chunks.groupBy("digest")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("digest", F.lit(1).alias("__b"))
    )
    marked = chunks.join(F.broadcast(boiler), "digest", "left")
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("long").alias("n_boiler"),
        # integer/integer ratio: the round-6 midpoint class — exact
        # integer half-up, never bare F.round (caught by the r9
        # multi-line round_lint upgrade)
        _round6_ratio(
            F.sum(F.coalesce(F.col("__b"), F.lit(0))), F.count("*")
        ).alias("boiler_frac"),
    )


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_docs: int = 5,
) -> DataFrame:
    """Pointwise mutual information over within-document term
    co-occurrence: for term pairs (a < b) sharing >= ``min_pair_docs``
    documents, pmi = ln(N * df_ab / (df_a * df_b)) with document
    frequencies as the probability estimates. Positive = the pair
    collocates (phrases, topics); ~0 = independent. The standard
    collocation/phrase-mining primitive.

    Scale shape: the quadratic step is the within-doc pair self-join —
    bounded by (distinct terms per doc)^2, so PREFILTER the vocabulary
    (drop ultra-rare terms below min support and stop words above a df
    ceiling) before calling this on a web-scale corpus; the pair
    aggregate then shuffles only (a, b, partial count). Per-term df
    counts are vocabulary-sized and broadcast; N is a 1-row broadcast
    scalar. No unbounded state."""
    pairs_dt = df.select(
        F.col(id_col).alias("__d"),
        F.explode(word_tokens(F.col(text_col))).alias("__t"),
    ).distinct()
    n_docs = df.select(F.count_distinct(id_col).alias("__N"))
    term_df = pairs_dt.groupBy(F.col("__t")).agg(F.count("*").alias("__tdf"))
    a = pairs_dt.select("__d", F.col("__t").alias("ta"))
    b = pairs_dt.select("__d", F.col("__t").alias("tb"))
    co = (
        a.join(b, "__d")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("pair_docs"))
        .where(F.col("pair_docs") >= min_pair_docs)
    )
    dfa = term_df.select(F.col("__t").alias("ta"), F.col("__tdf").alias("__dfa"))
    dfb = term_df.select(F.col("__t").alias("tb"), F.col("__tdf").alias("__dfb"))
    return (
        co.join(F.broadcast(dfa), "ta")
        .join(F.broadcast(dfb), "tb")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "ta",
            "tb",
            "pair_docs",
            F.round(
                F.log(
                    (F.col("pair_docs") * F.col("__N"))
                    / (F.col("__dfa") * F.col("__dfb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def frequency_spectrum(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-of-counts (frequency spectrum): how many distinct tokens
    occur exactly f times in the corpus, with the cumulative share of
    all token mass held at or below each f. The Zipf/Heaps fingerprint
    of a corpus — the curve you compare before/after a dedup or filter
    run to see whether you removed tail vocabulary or just boilerplate
    mass (and the input Good-Turing smoothing needs).

    Scale shape: two chained aggregates (token counts, then spectrum)
    plus one window over the spectrum rows only — |distinct
    frequencies| rows, thousands at most even at corpus scale. Token
    counts partial-aggregate map-side; raw text never shuffles."""
    from pyspark.sql.window import Window

    tok = df.select(F.explode(word_tokens(F.col(text_col))).alias("__t"))
    counts = tok.groupBy("__t").agg(F.count("*").alias("__f"))
    spec = counts.groupBy(F.col("__f").alias("freq")).agg(
        F.count("*").alias("n_tokens")
    )
    w = Window.orderBy("freq").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mass = F.col("freq") * F.col("n_tokens")
    return spec.select(
        "freq",
        "n_tokens",
        # integer/integer ratio of window sums: same midpoint class —
        # exact integer half-up on the cumulative and total token mass
        _round6_ratio(
            F.sum(mass).over(w), F.sum(mass).over(total)
        ).alias("cum_mass_share"),
    )


def source_scorecard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source crawl scorecard: document count, mean length,
    corpus-duplicate fraction (share of the source's docs whose exact
    digest appears more than once ANYWHERE in the corpus), and mean
    heuristic quality. The table a data-acquisition team reads to
    decide which feeds to keep, throttle, or renegotiate — low quality
    + high dup rate = a source paying rent with someone else's
    content.

    Scale shape: digests aggregate globally (short-key shuffle) and
    join back on the digest; quality is the map-only quality_score
    projection joined on the doc id; the scorecard itself is one
    aggregate over |sources| groups. The DECIMAL quality sum keeps the
    mean engine-exact."""
    dg = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__d"),
        F.length(F.col(text_col)).alias("__nc"),
    )
    cnts = dg.groupBy("__d").agg(F.count("*").alias("__c"))
    qual = quality_score(df, text_col, id_col)
    j = dg.join(cnts, "__d").join(qual, id_col)
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        # char/µ-unit sums reach ~1e15/1e16 at corpus scale — the 2e6
        # scaling needs the DECIMAL(38,0) path (ADVICE-r6 class)
        _round6_ratio_dec(
            F.sum("__nc").cast("decimal(38,0)"),
            F.count("*").cast("decimal(38,0)"),
        ).alias("mean_chars"),
        _round6_ratio(
            F.sum((F.col("__c") > 1).cast("long")), F.count("*")
        ).alias("dup_frac"),
        # quality values are exact 6dp — recover integer micro-units
        # (rint is exact for q < 2^32 µ) so the mean is ONE exact
        # integer ratio Σµ/(n·10^6) and rounds engine-identically
        _round6_ratio_dec(
            F.sum(
                F.rint(F.col("quality") * F.lit(1_000_000.0)).cast(
                    "decimal(38,0)"
                )
            ),
            F.count("*").cast("decimal(38,0)") * F.lit(1_000_000),
        ).alias("mean_quality"),
    )


def language_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    truth_col: str = "lang",
) -> DataFrame:
    """Classifier scorecard for the language-id heuristic against
    labeled ground truth: per true language, support, prediction
    count, true positives, precision, recall, F1. The evaluation
    operator that turns "we have a language detector" into a number —
    and the template for scoring ANY categorical labeler the pipeline
    runs (all counts integer, ratios single divisions, engine-exact).

    Shape: one prediction projection (map-only), one confusion
    aggregate (|langs|² rows), then per-language row/column sums
    joined back — everything after the first aggregate is
    metrics-table sized."""
    pred = language_id(df, text_col, id_col).select(
        F.col(id_col), F.col("lang_pred")
    )
    truth = df.select(F.col(id_col), F.col(truth_col).alias("__t"))
    conf = (
        truth.join(pred, id_col)
        .groupBy("__t", "lang_pred")
        .agg(F.count("*").alias("__n"))
    )
    row = conf.groupBy("__t").agg(F.sum("__n").cast("long").alias("n_true"))
    col = conf.groupBy(F.col("lang_pred").alias("__t")).agg(
        F.sum("__n").cast("long").alias("n_pred")
    )
    diag = conf.where(F.col("__t") == F.col("lang_pred")).select(
        "__t", F.col("__n").alias("tp")
    )
    j = (
        row.join(col, "__t", "left")
        .join(diag, "__t", "left")
        .select(
            F.col("__t").alias("lang"),
            "n_true",
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    p = F.when(
        F.col("n_pred") > 0, _round6_ratio(F.col("tp"), F.col("n_pred"))
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_true") > 0, _round6_ratio(F.col("tp"), F.col("n_true"))
    ).otherwise(F.lit(0.0))
    # f1 = 2PR/(P+R) simplifies EXACTLY to 2·tp/(n_pred+n_true) for
    # unrounded P, R (and both sides are 0 when tp = 0), so the
    # harmonic mean rounds as one integer ratio
    return j.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        p.alias("precision"),
        r.alias("recall"),
        _round6_ratio(
            F.lit(2) * F.col("tp"), F.col("n_pred") + F.col("n_true")
        ).alias("f1"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document novelty score: the fraction of the document's
    DISTINCT n-char shingles that appear in no other document —
    the memorization/novelty signal data-mixing pipelines weight by
    (high novelty = unique content; low = the corpus already says
    this). Complements repetition_stats (within-doc redundancy) and
    contamination (overlap vs a benchmark set) with a corpus-wide
    uniqueness measure.

    Shape: distinct (doc, gram) pairs shuffle once partitioned by
    content; gram document-frequencies aggregate on the gram key and
    join straight back to the same partitioning; the per-doc rollup is
    the only other shuffle. No all-pairs anything — cost is linear in
    total distinct grams."""
    norm = df.select(F.col(id_col), normalize_ws(F.col(text_col)).alias("__n"))
    grams = (
        norm.select(
            id_col, F.explode(shingles_of_norm(F.col("__n"), n)).alias("__g")
        )
        .where(F.length("__g") == n)
        .distinct()
    )
    gdf = grams.groupBy("__g").agg(F.count("*").alias("__df"))
    return (
        grams.join(gdf, "__g")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            _round6_ratio(
                F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)), F.count("*")
            ).alias("novelty"),
        )
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    pattern: str = "[a-z]+",
    k: int = 50,
) -> DataFrame:
    """First-iteration byte-pair-encoding merge statistics: the
    adjacent-symbol-pair counts a BPE tokenizer trainer (Sennrich et
    al. 2016) computes before its first merge, over the corpus's word
    frequency table. Returns the top-``k`` candidate merges as
    (pair, n_positions, weight) — n_positions counts the pair's
    occurrence positions across the distinct vocabulary, weight is its
    corpus frequency (occurrences within a word × that word's corpus
    count), deterministic tiebreak by pair text.

    Scale shape: the corpus collapses to its VOCABULARY first (token
    groupBy-count with map-side partial aggregation — the shuffle is one
    row per distinct token), and the quadratic-ish pair explode runs
    over distinct words only, so its cost is bounded by vocabulary size
    × word length, never by corpus size. Top-k is
    TakeOrderedAndProject, never a global sort."""
    vocab = _token_counts(df, text_col, pattern, [])
    idx = F.sequence(F.lit(1), F.length("token") - 1)
    pairs = vocab.where(F.length("token") >= 2).select(
        "n",
        F.explode(
            F.transform(idx, lambda i: F.col("token").substr(i, F.lit(2)))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count("*").cast("long").alias("n_positions"),
            F.sum("n").cast("long").alias("weight"),
        )
        .orderBy(F.col("weight").desc(), "pair")
        .limit(k)
    )


def context_budget(
    df: DataFrame,
    cutoffs: list[int],
    text_col: str = "text",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Context-length truncation audit: for each candidate context
    cutoff (in tokens), how many documents overflow it and what
    fraction of corpus tokens a hard truncation would discard — the
    numbers that pick a training sequence length. Returns one row per
    cutoff: (cutoff, n_docs_over, frac_docs_over, tokens_lost,
    frac_tokens_lost).

    Scale shape: one map-only token count per document, partially
    aggregated per cutoff (the cutoff explode multiplies the per-DOC
    count rows, not the corpus text); totals ride a 1-row broadcast.
    All counts are exact int64; fractions are single divisions round-6."""
    toks = df.select(
        F.size(
            F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
        ).cast("long").alias("__t")
    )
    per_cut = toks.select(
        "__t",
        F.explode(F.array(*[F.lit(int(c)) for c in cutoffs])).alias("cutoff"),
    )
    agg = per_cut.groupBy("cutoff").agg(
        F.sum(F.when(F.col("__t") > F.col("cutoff"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_over"),
        F.sum(F.greatest(F.col("__t") - F.col("cutoff"), F.lit(0)))
        .cast("long")
        .alias("tokens_lost"),
    )
    totals = toks.agg(
        F.count("*").cast("long").alias("__nd"),
        F.sum("__t").cast("long").alias("__nt"),
    )
    return (
        agg.crossJoin(F.broadcast(totals))
        .select(
            F.col("cutoff").cast("long").alias("cutoff"),
            "n_docs_over",
            _round6_ratio(F.col("n_docs_over"), F.col("__nd")).alias("frac_docs_over"),
            "tokens_lost",
            _round6_ratio(F.col("tokens_lost"), F.col("__nt")).alias("frac_tokens_lost"),
        )
    )


def bigram_holdout_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_buckets: int = 10,
    train_cut: int = 8,
) -> DataFrame:
    """Held-out bigram LM evaluation — the honest version of
    bigram_lm_score: the add-one-smoothed bigram model is fit ONLY on
    the deterministic md5 train split (hash bucket < ``train_cut`` of
    ``train_buckets``), then scores the held-out documents it never
    saw. Unseen-in-train bigrams back off to the smoothing floor
    (C=0), and unseen contexts to C(w1·)=0 — both via coalesce, and
    the out-of-vocabulary bigram count is reported per document:
    (doc_id, n_bigrams, oov_bigrams, lm_score).

    p(w2|w1) = (C_train(w1 w2) + 1) / (C_train(w1 ·) + V_train).

    Scale shape: identical to bigram_lm_score (pre-aggregated join
    sides, scalar V broadcast, DECIMAL(28,12) per-doc sums) plus the
    map-only hash-split predicate; train tables join the held-out
    grams with LEFT joins so scoring never drops a document."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 11), 16, 10)
        .cast("long")
        % train_buckets
    )
    train = df.where(bucket < train_cut)
    test = df.where(bucket >= train_cut)

    def grams(frame):
        words = frame.select(F.col(id_col), word_tokens(F.col(text_col)).alias("__w"))
        return words.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("__w") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__w") - 1),
                        lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, 2)),
                    ),
                )
            ).alias("bg"),
        )

    corpus = grams(train).groupBy("bg").agg(F.count("*").alias("__cbg"))
    ctx = corpus.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.sum("__cbg").alias("__cw1")
    )
    vocab = (
        train.select(F.explode(word_tokens(F.col(text_col))).alias("__t"))
        .agg(F.count_distinct("__t").alias("__v"))
    )
    per_doc = (
        grams(test)
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("m"))
        .withColumn("w1", F.substring_index("bg", " ", 1))
    )
    joined = (
        per_doc.join(corpus, "bg", "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("__cbg", F.coalesce("__cbg", F.lit(0)))
        .withColumn("__cw1", F.coalesce("__cw1", F.lit(0)))
    )
    logp = F.log((F.col("__cbg") + 1) / (F.col("__cw1") + F.col("__v")))
    return joined.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("__cbg") == 0, F.col("m")).otherwise(0))
        .cast("long")
        .alias("oov_bigrams"),
        F.round(
            (F.sum((F.col("m") * logp).cast("decimal(28,12)")).cast("double"))
            / F.sum("m"),
            6,
        ).alias("lm_score"),
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    pattern: str = "[a-z]+",
    alpha: float = 1.0,
    k: int = 5,
    min_count: int = 3,
) -> DataFrame:
    """Per-group distinctive vocabulary by Dirichlet-smoothed log-odds
    against the rest of the corpus (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words") — what a domain/source actually talks about,
    where TF-IDF answers the per-document question. delta(w, g) =
    ln[(c_g+α)/(n_g−c_g+α)] − ln[(c_r+α)/(n_r−c_r+α)] with r = corpus
    minus g; top-``k`` terms per group by (delta desc, term), terms
    with fewer than ``min_count`` in-group occurrences excluded (tiny
    counts have huge noisy odds).

    Exactness: all counts are exact int64 (rest-of-corpus counts are
    global − in-group differences, not a second scan); delta is a pure
    double expression over those ints — engine-exact, round-6.

    Scale shape: ONE tokenize-explode pass → per-(group, term) counts
    with map-side combine; global term counts derive from those rows
    (second bounded aggregate), group totals likewise; the rank window
    runs per group over vocabulary-grain rows."""
    from pyspark.sql.window import Window

    cnt = _token_counts(df, text_col, pattern, [group_col])
    gterm = cnt.groupBy("token").agg(F.sum("n").alias("__gn"))
    gtot = cnt.groupBy(group_col).agg(F.sum("n").alias("__ng"))
    tot = cnt.agg(F.sum("n").alias("__N"))
    j = (
        cnt.join(gterm, "token")
        .join(gtot, group_col)
        .crossJoin(F.broadcast(tot))
        .where(F.col("n") >= min_count)
    )
    c_g = F.col("n").cast("double")
    n_g = F.col("__ng").cast("double")
    c_r = (F.col("__gn") - F.col("n")).cast("double")
    n_r = (F.col("__N") - F.col("__ng")).cast("double")
    delta = (
        F.log((c_g + alpha) / (n_g - c_g + alpha))
        - F.log((c_r + alpha) / (n_r - c_r + alpha))
    )
    scored = j.select(
        F.col(group_col),
        "token",
        F.col("n").cast("long").alias("n"),
        F.round(delta, 6).alias("log_odds"),
    )
    w = Window.partitionBy(group_col).orderBy(F.col("log_odds").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct
    vocabulary vs cumulative token volume at ``n_buckets`` checkpoints
    along the corpus in ``id_col`` order. A corpus whose V(N) curve
    flattens early is repetitive (template/boilerplate heavy); one that
    keeps the Heaps power-law slope is still contributing novelty —
    the macro view that complements per-document ``ngram_novelty``.

    The naive formulation (running distinct over an ordered stream) is
    sequential; the distributed one is the FIRST-OCCURRENCE trick: a
    term contributes its +1 to the bucket containing its first
    occurrence, so cum_vocab(b) = sum over buckets <= b of |terms first
    seen in that bucket| — two map-side-combined aggregations, no
    ordered scan. Buckets are equal-width id ranges over [min_id,
    max_id] (deterministic, not ntile — no global sort).

    Output: (bucket, n_docs, bucket_tokens, new_terms, cum_tokens,
    cum_vocab), bucket in 1..n_buckets, cumulative sums via a window
    over bucket-grain rows.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
        ).alias("token"),
    )
    scal = df.agg(
        F.min(id_col).cast("long").alias("__lo"), F.max(id_col).cast("long").alias("__hi")
    )
    # integer `div`, never float-divide-then-cast: Spark's double→long
    # cast truncates while DuckDB's rounds, so only exact integer
    # arithmetic keeps the bucket id engine-portable.
    bucket = F.least(
        F.expr(
            f"((__id - __lo) * {int(n_buckets)}) div greatest(__hi - __lo + 1, 1)"
        )
        + 1,
        F.lit(n_buckets),
    ).cast("long")
    tb = toks.crossJoin(F.broadcast(scal)).select(bucket.alias("bucket"), "token", "__id")
    per_bucket = tb.groupBy("bucket").agg(
        F.countDistinct("__id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("bucket_tokens"),
    )
    first_seen = (
        tb.groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    joined = per_bucket.join(first_seen, "bucket", "left").select(
        "bucket",
        "n_docs",
        "bucket_tokens",
        F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
    )
    w = Window.partitionBy().orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "bucket",
        "n_docs",
        "bucket_tokens",
        "new_terms",
        F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
    )


def burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_docs: int = 5,
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Per-term burstiness: the Fano factor (variance-to-mean ratio of
    the per-document count, zeros included) for the top-``k`` terms by
    document frequency. Function words spread evenly (Fano ≈ 1,
    Poisson-like); topical/template terms clump (Fano >> 1) — the
    dispersion signal behind keyword extraction and boilerplate
    triage, orthogonal to plain frequency (Church & Gale's burstiness
    observation).

    Zeros matter: a term absent from a document is a 0 draw, so with N
    total docs and per-doc counts x_i over the n_docs containing the
    term, mean = sum(x)/N and var uses sum(x²) with N - n_docs zero
    terms — computed from the (term, doc) aggregate alone, never a
    dense N×V matrix.

    Output: (token, n_docs, total_n, fano, rank) — rank by df desc
    (ties lexicographic), sample variance (N-1 denominator, exact
    integer sums), rounded 6.

    Scale shape: one (token, doc) count aggregation, one token-grain
    rollup carrying (sum, sumsq, n_docs) — both map-side combined; the
    corpus size is one broadcast scalar; top-k via a single window
    over token-grain rows (swap for TakeOrderedAndProject via orderBy
    + limit when k is small and ties don't need determinism).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
        ).alias("token"),
    )
    per_doc = toks.groupBy("token", "__id").agg(F.count("*").cast("long").alias("x"))
    per_term = per_doc.groupBy("token").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("total_n"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("__sumsq"),
    )
    ndocs = df.agg(F.count("*").cast("long").alias("__N"))
    w = Window.partitionBy().orderBy(F.col("n_docs").desc(), "token")
    ranked = (
        per_term.where(F.col("n_docs") >= min_docs)
        .crossJoin(F.broadcast(ndocs))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
    mean = F.col("total_n").cast("double") / F.col("__N")
    var = (
        F.col("__sumsq").cast("double") - F.col("__N") * mean * mean
    ) / (F.col("__N") - 1).cast("double")
    return ranked.select(
        "token",
        "n_docs",
        "total_n",
        F.round(var / mean, 6).alias("fano"),
        "rank",
    )


def encoding_audit(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source text-encoding health: rates of the damage signatures
    a crawl picks up — U+FFFD replacement characters (decode
    failures), C0 control characters (binary bleed-through), and the
    classic UTF-8-read-as-Latin-1 mojibake digraphs (U+00C2/U+00C3
    followed by a continuation-range char U+0080-00BF). Corpus
    pipelines gate sources on exactly these before any content-quality
    scoring — a 1% replacement-char rate means the fetcher, not the
    writer, is the problem.

    Output per group: (group, n_docs, pct_repl_docs, pct_ctrl_docs,
    pct_mojibake_docs, repl_per_10k_chars) — document-grain incident
    rates plus a char-grain density, rounded 6.

    Scale shape: map-only char-class counts (regexp inside codegen)
    folded by one group aggregate; no UDF, no second scan.
    """
    t = F.col(text_col)
    repl = "\ufffd"
    n_repl = F.length(t) - F.length(F.regexp_replace(t, repl, ""))
    has_ctrl = t.rlike("[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]")
    has_moji = t.rlike("[\u00c2\u00c3][\u0080-\u00bf]")
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        n_repl.alias("__r"),
        has_ctrl.cast("int").alias("__c"),
        has_moji.cast("int").alias("__m"),
        F.length(t).alias("__len"),
    )
    g = per_doc.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__r") > 0, 1).otherwise(0)).cast("long").alias("__rd"),
        F.sum("__c").cast("long").alias("__cd"),
        F.sum("__m").cast("long").alias("__md"),
        F.sum("__r").cast("long").alias("__rn"),
        F.sum("__len").cast("long").alias("__chars"),
    )
    return g.select(
        F.col("grp").alias(group_col),
        "n_docs",
        _round6_ratio(F.col("__rd"), F.col("n_docs")).alias("pct_repl_docs"),
        _round6_ratio(F.col("__cd"), F.col("n_docs")).alias("pct_ctrl_docs"),
        _round6_ratio(F.col("__md"), F.col("n_docs")).alias("pct_mojibake_docs"),
        # __rn·10^4 can pass the BIGINT·2e6 ceiling at corpus scale —
        # DECIMAL(38,0) ratio (ADVICE-r6 class)
        _round6_ratio_dec(
            F.col("__rn").cast("decimal(38,0)") * F.lit(10000),
            F.greatest(F.col("__chars"), F.lit(1)).cast("decimal(38,0)"),
        ).alias("repl_per_10k_chars"),
    )


def token_fertility(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Tokenizer-fertility audit per language: tokens per whitespace
    word, characters per token, and token volume — the budget number
    multilingual pipelines watch, because a tokenizer with fertility
    2.8 on one language and 1.3 on another silently halves the
    effective context and doubles the cost of the first (the fertility
    metric from the multilingual-tokenizer literature, computed here
    with the engine's regex token model over exact integer counts).

    Output: (lang, n_docs, tokens, words, fertility = tokens/words,
    chars_per_token), rounded 6; one map-side projection + one
    aggregate.
    """
    toks = token_count(F.col(text_col))
    words = word_count(F.col(text_col))
    g = df.select(
        F.col(lang_col).alias("lang"),
        toks.alias("__t"),
        words.alias("__w"),
        F.length(F.col(text_col)).alias("__c"),
    ).groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("tokens"),
        F.sum("__w").cast("long").alias("words"),
        F.sum("__c").cast("long").alias("__chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "tokens",
        "words",
        _round6_ratio(F.col("tokens"), F.col("words")).alias("fertility"),
        _round6_ratio(F.col("__chars"), F.col("tokens")).alias(
            "chars_per_token"
        ),
    )


def hapax_rate(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Per-group lexical richness: vocabulary size, hapax legomena
    (terms occurring exactly once IN THE GROUP), hapax share of the
    vocabulary, and the type-token ratio — the fast screen for
    template spam (TTR collapses when a source repeats itself) and
    OCR noise (hapax share spikes when garbage tokens flood the
    vocabulary). The per-group view of what ``freq_spectrum`` shows
    globally.

    Output: (group, tokens, vocab, hapax, hapax_share = hapax/vocab,
    ttr = vocab/tokens), rounded 6.

    Scale shape: one tokenize-explode → (group, token) count with
    map-side combine, then a group-grain rollup — vocabulary-sized
    intermediates only.
    """
    cnt = _token_counts(df, text_col, pattern, [group_col])
    g = cnt.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum("n").cast("long").alias("tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
    )
    return g.select(
        F.col("grp").alias(group_col),
        "tokens",
        "vocab",
        "hapax",
        _round6_ratio(F.col("hapax"), F.col("vocab")).alias("hapax_share"),
        _round6_ratio(F.col("vocab"), F.col("tokens")).alias("ttr"),
    )


def vocab_drift(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[a-z]+",
    k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Vocabulary drift between the first and second half of the
    corpus (by ``id_col`` range): per-token probability in each half,
    the token's contribution to the Jensen–Shannon divergence, and
    the top-``k`` movers by |Δp| — "which words took over the crawl"
    at corpus grain, the vocabulary analogue of the scalar drift
    family (PSI / KS / chi-square) and of ``distinctive_terms``'
    cross-GROUP comparison. JS (base-e, against the mixture M =
    (P+Q)/2) is symmetric and finite even for tokens private to one
    half — the reason it beats KL here.

    Output: (token, n1, n2, p1, p2, js_term, rank), probabilities and
    terms rounded 6; tokens with fewer than ``min_count`` total
    occurrences are dropped before ranking (noise floor). js_term =
    0.5·(p1·ln(p1/m) [if p1>0] + p2·ln(p2/m) [if p2>0]).

    Scale shape: one tokenize pass with the half tag as a generated
    column → (token) aggregate with conditional half counts
    (map-side combined); totals + ranks ride windows over
    VOCABULARY-grain rows; the id midpoint is a 1-row broadcast.
    """
    from pyspark.sql.window import Window

    scal = df.agg(
        F.floor(
            (F.min(F.col(id_col)).cast("long") + F.max(F.col(id_col)).cast("long")) / 2
        )
        .cast("long")
        .alias("__mid")
    )
    toks = (
        df.crossJoin(F.broadcast(scal))
        .select(
            (F.col(id_col) <= F.col("__mid")).alias("__h1"),
            F.explode(
                F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
            ).alias("token"),
        )
    )
    cnt = toks.groupBy("token").agg(
        F.sum(F.when(F.col("__h1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("__h1"), 0).otherwise(1)).cast("long").alias("n2"),
    )
    w = Window.partitionBy()
    t1 = F.sum("n1").over(w).cast("double")
    t2 = F.sum("n2").over(w).cast("double")
    p1 = F.col("n1") / t1
    p2 = F.col("n2") / t2
    m = (p1 + p2) / 2
    js = 0.5 * (
        F.when(F.col("n1") > 0, p1 * F.log(p1 / m)).otherwise(0.0)
        + F.when(F.col("n2") > 0, p2 * F.log(p2 / m)).otherwise(0.0)
    )
    wr = Window.partitionBy().orderBy(F.abs(p1 - p2).desc(), "token")
    ranked = (
        cnt.where(F.col("n1") + F.col("n2") >= min_count)
        .select(
            "token",
            "n1",
            "n2",
            F.round(p1, 6).alias("p1"),
            F.round(p2, 6).alias("p2"),
            F.round(js, 6).alias("js_term"),
            F.row_number().over(wr).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= k)
    )
    return ranked


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[int, list[str]]],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval (Robertson/Spärck Jones probabilistic weighting,
    the Lucene ``k1``/``b`` parameterization with the +1-smoothed IDF
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` so scores stay positive) of
    the corpus against a literal set of term queries. Returns the top
    ``topk`` docs per query as (query_id, rank, doc_id, score).

    Scale shape: the query vocabulary broadcasts and semi-filters the
    exploded token stream BEFORE any aggregation, so only postings of
    query terms ever shuffle — (doc, term) tf rows, not the corpus
    text. Corpus stats (N, avgdl) ride a 1-row broadcast; df-per-term
    and idf ride a query-vocabulary-sized broadcast. Per-(query, doc)
    scores sum term contributions in DECIMAL(38,12) (associative —
    identical under any partitioning and in the oracle), and the
    per-query top-k window partitions by query_id over candidate docs
    only (docs containing ≥1 query term).

    Doc length is the whitespace token count of the normalized text —
    the same tokenizer every other word-grain operator uses
    (``word_tokens``), so BM25 lengths agree with shingle/LM ops."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).select("doc_id", F.size("__toks").alias("dl"), F.explode("__toks").alias("term"))
    qrows = [(int(qid), t) for qid, terms in queries for t in terms]
    qterms = spark.createDataFrame(qrows, "query_id long, term string")
    vocab = qterms.select("term").distinct()

    stats = df.select(F.size(word_tokens(F.col(text_col))).alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        # integer token counts sum exactly in long; one double division
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("w"),
        )
    )
    scored = (
        contrib.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            # round the exact DECIMAL sum FIRST, cast to double after
            # (CLAUDE.md invariant): rounding the post-cast double
            # reopens the shortest-rendering midpoint split
            F.round(
                F.sum(F.col("w").cast("decimal(38,12)")), 6
            ).cast("double").alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return scored.select(
        "query_id",
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "score",
    ).where(F.col("rank") <= topk)


def vocab_coverage(
    df: DataFrame,
    ks: list[int],
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary head-coverage curve: for each cutoff k, the share of
    ALL corpus token occurrences covered by the k most frequent
    tokens — the number that sizes a tokenizer vocabulary (99% at
    k=30k on one corpus vs k=80k on another is a different model) and
    flags token-mass drift between crawls. Returns (k, vocab_size,
    coverage) with coverage rounded to 6.

    Ranking ties break by token string so both engines pick the same
    head set. Scale shape: tokens collapse to vocabulary-grain counts
    first (one shuffle); the rank window and cumulative sum then run
    over the VOCABULARY (≪ corpus), with total mass as exact integer
    sums — only cutoff rows survive to the output."""
    from pyspark.sql.window import Window

    toks = df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
    cnt = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    w_rank = Window.orderBy(F.col("n").desc(), F.col("token"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy()
    ranked = cnt.select(
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(tot).alias("total"),
        F.count("*").over(tot).cast("long").alias("vocab_size"),
    )
    cuts = ranked.sparkSession.createDataFrame([(int(k),) for k in ks], "k long")
    # k may exceed vocab: clamp to the last rank (coverage 1.0). The
    # cutoff list broadcasts (a handful of rows) against the ranked
    # vocabulary — never the other way around.
    return (
        ranked.join(
            F.broadcast(cuts),
            (F.col("rank") == F.least(F.col("k"), F.col("vocab_size"))),
        )
        .select(
            "k",
            "vocab_size",
            _round6_ratio(F.col("cum"), F.col("total")).alias("coverage"),
        )
    )


def rbo_rankings(
    df: DataFrame,
    k: int = 50,
    p: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS 2010) between two
    token rankings of the same corpus — by total term frequency and
    by document frequency. RBO@k = (1−p)·Σ_{d≤k} p^{d−1}·(|S1_d ∩
    S2_d|/d) weights agreement at the TOP of the lists, exactly what
    "did the head of the vocabulary change?" monitoring needs (plain
    set overlap treats rank 1 and rank k alike). tf-vs-df divergence
    specifically surfaces burstiness: tokens frequent by repetition
    in few documents rank high on tf but low on df.

    ``p`` defaults to 0.5 so every geometric weight is an exact
    dyadic double — bit-identical across engines (p=0.9's powers are
    libm-dependent). Ties in either ranking break by token string.

    Returns ONE row: (k, rbo, overlap_at_k). Scale shape: one
    vocabulary-grain aggregation (tf, df per token), two rank
    windows over the vocabulary, then all depth arithmetic happens on
    ≤ k² tiny rows (the k-row depth spine joined to per-max-rank
    counts)."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col("doc_id"), F.explode(word_tokens(F.col(text_col))).alias("token")
    )
    cnt = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    r1 = F.row_number().over(Window.orderBy(F.col("tf").desc(), F.col("token")))
    r2 = F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("token")))
    ranked = cnt.select(
        "token", r1.cast("long").alias("r1"), r2.cast("long").alias("r2")
    )
    both = ranked.where((F.col("r1") <= k) & (F.col("r2") <= k)).select(
        F.greatest("r1", "r2").alias("mx")
    )
    per_mx = both.groupBy("mx").agg(F.count("*").cast("long").alias("c"))
    spine = df.sparkSession.range(1, k + 1).select(F.col("id").alias("d"))
    overlap = (
        spine.join(F.broadcast(per_mx), F.col("mx") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("ov"))
    )
    term = F.pow(F.lit(float(p)), F.col("d") - 1) * (
        F.col("ov").cast("double") / F.col("d")
    )
    return overlap.agg(
        F.lit(int(k)).cast("long").alias("k"),
        F.round(
            (1.0 - float(p))
            * F.sum(term.cast("decimal(38,12)")).cast("double"),
            6,
        ).alias("rbo"),
        F.max(F.when(F.col("d") == k, F.col("ov"))).cast("long").alias("overlap_at_k"),
    )


def source_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise cosine similarity between per-group TF-IDF term
    profiles — "which crawl sources publish the same kind of text?".
    Each group gets a sparse vector w(g, t) = tf(g,t) ·
    ln(1 + G/df(t)) over its tokens (G = group count, df = groups
    containing t); pairs score dot(w_a, w_b)/(‖w_a‖‖w_b‖). The
    source-clustering / near-mirror-detection signal at the SOURCE
    grain (doc-grain near-mirrors are dedup's job). Returns
    (src_a, src_b, cosine) for a < b.

    Scale shape: one (group, token) aggregation, a token-grain
    equality self-join for the dot products (never cartesian — only
    shared tokens pair), DECIMAL(38,12) sums for dots and norms, one
    final broadcast-sized merge of the group-norm table."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(group_col).alias("g"), F.explode(word_tokens(F.col(text_col))).alias("t")
    )
    tf = toks.groupBy("g", "t").agg(F.count("*").cast("long").alias("tf"))
    # NB: named "n_groups", not "G" — Spark resolves case-insensitively
    # and "G" would collide with the group column "g"
    gcount = tf.agg(F.countDistinct("g").cast("double").alias("n_groups"))
    dfreq = tf.groupBy("t").agg(F.count("*").cast("long").alias("df"))
    w = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(gcount))
        .select(
            "g",
            "t",
            (F.col("tf") * F.log(1.0 + F.col("n_groups") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("g").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(38,12)")).cast("double")).alias(
            "nrm"
        )
    )
    a = w.select(F.col("g").alias("ga"), F.col("t").alias("ta"), F.col("w").alias("wa"))
    b = w.select(F.col("g").alias("gb"), F.col("t").alias("tb"), F.col("w").alias("wb"))
    dots = (
        a.join(b, (F.col("ta") == F.col("tb")) & (F.col("ga") < F.col("gb")))
        .groupBy(F.col("ga").alias("src_a"), F.col("gb").alias("src_b"))
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("g").alias("src_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("g").alias("src_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


def hashing_trick_audit(
    df: DataFrame,
    bits: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: hash the
    vocabulary into 2^bits buckets (md5-derived, seed-free) and
    measure what the dimensionality squeeze costs — the share of
    distinct tokens that share a bucket with another token, and the
    share of total token MASS sitting in collided buckets (mass is
    what actually distorts a hashed bag-of-words model; a rare token
    colliding costs ~nothing, a head token colliding poisons the
    bucket). Run before committing to a hashed feature space size.
    Returns ONE row: (bits, n_tokens, n_buckets_used, collision_rate,
    collided_mass_share).

    Scale shape: one vocabulary-grain aggregation, one bucket-grain
    aggregation; exact integer counts and DECIMAL mass sums."""
    n_buckets = 1 << bits
    toks = df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    bucketed = vocab.select(
        "token",
        "n",
        (
            F.conv(F.substring(F.md5(F.col("token")), 1, 11), 16, 10).cast("long")
            % n_buckets
        ).alias("b"),
    )
    per_bucket = bucketed.groupBy("b").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("mass"),
    )
    return per_bucket.agg(
        F.lit(int(bits)).cast("long").alias("bits"),
        F.sum("k").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_buckets_used"),
        # integer/integer ratios: exact integer half-up (midpoint class)
        _round6_ratio(
            F.sum(F.when(F.col("k") > 1, F.col("k")).otherwise(0)),
            F.sum("k"),
        ).alias("collision_rate"),
        _round6_ratio(
            F.sum(F.when(F.col("k") > 1, F.col("mass")).otherwise(0)),
            F.sum("mass"),
        ).alias("collided_mass_share"),
    )


# Gopher/C4-class heuristic rule pack (rule id -> short description).
# Thresholds follow the published Gopher (Rae et al. 2021, Table A1)
# and C4 (Raffel et al. 2020) filters, adapted to integer-exact
# comparisons so both engines evaluate the identical predicate:
# every rule is of the form  a*x <=> b*y  over exact counts — no
# float ratio is ever materialized, so no rounding contract applies.
QUALITY_RULES = {
    "r01_word_count": "50 <= words <= 100000 (Gopher doc-length band)",
    "r02_mean_word_len": "3 <= non-space chars per word <= 10",
    "r03_symbol_ratio": "(# + ellipsis) / words <= 0.1",
    "r04_bullet_lines": "<= 90% of lines start with a bullet",
    "r05_ellipsis_lines": "<= 30% of lines end with an ellipsis",
    "r06_alpha_words": ">= 80% of words contain a letter",
    "r07_stopword_hits": ">= 2 distinct panel stopwords present",
    "r08_no_boilerplate": "no 'lorem ipsum' and no '{' (C4)",
}

# C4/Gopher stopword-presence panel (Gopher uses this exact 8-word set)
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _rule_flag_exprs(t: Column) -> dict:
    """The QUALITY_RULES predicates as boolean Columns over a text
    column — shared by quality_rules (per-rule pass rates) and
    rule_disagreement (pairwise McNemar matrix) so the two audits can
    never evaluate different rule semantics. Every predicate is an
    integer-exact cross-multiplied comparison (no float ratio is ever
    materialized)."""
    low = agree_lower(t)
    n_chars = F.length(t)
    words = word_count(t)
    n_spaces = _class_count(t, _SPACES)
    nonspace = n_chars - n_spaces
    hash_cnt = _class_count(t, "#")
    # leftmost non-overlapping '...' count == replace-count in both
    # engines; '…' is a single codepoint on both (length = codepoints)
    dots_cnt = (n_chars - F.length(F.replace(t, F.lit("...")))) / F.lit(3)
    uell_cnt = n_chars - F.length(F.replace(t, F.lit("…")))
    symbol_cnt = (dots_cnt + uell_cnt + hash_cnt).cast("long")
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda x: x.rlike(r"^ *[-*•]")))
    ell_end_lines = F.size(
        # \z, not $: Java's $ (no MULTILINE) also matches BEFORE a final
        # line terminator, so a CRLF corpus line "foo...\r" would pass
        # on Spark and fail on RE2 ($ there is end-of-text). \z is
        # end-of-input in both engines.
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…) *\z"))
    )
    word_arr = F.split(F.trim(t), "[ \t\n\x0c\r]+")
    alpha_words = F.size(F.filter(word_arr, lambda x: x.rlike("[A-Za-z]")))
    stop_hits = None
    for s in _GOPHER_STOPS:
        hit = F.when(low.rlike(r"\b" + s + r"\b"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    boiler = low.contains("lorem ipsum") | t.contains("{")
    return {
        "r01_word_count": (words >= 50) & (words <= 100000),
        "r02_mean_word_len": (F.lit(3) * words <= nonspace)
        & (nonspace <= F.lit(10) * words),
        "r03_symbol_ratio": F.lit(10) * symbol_cnt <= words,
        "r04_bullet_lines": F.lit(10) * bullet_lines <= F.lit(9) * n_lines,
        "r05_ellipsis_lines": F.lit(10) * ell_end_lines <= F.lit(3) * n_lines,
        "r06_alpha_words": F.lit(5) * alpha_words >= F.lit(4) * words,
        "r07_stopword_hits": stop_hits >= 2,
        "r08_no_boilerplate": ~boiler,
    }


def quality_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4 heuristic quality-rule audit: corpus pass rate per
    rule, plus the all-rules conjunction — the go/no-go scorecard a
    training-data pipeline reads before tuning filter thresholds
    (composable with quality_score, which mixes these signals into one
    number; this reports each rule separately).

    Returns one row per rule: (rule, n_docs, n_pass, pass_rate).

    Every predicate compares integer counts cross-multiplied by the
    threshold's numerator/denominator (e.g. mean word length in [3,10]
    is ``3*words <= nonspace_chars <= 10*words``), so the booleans are
    exact on both engines; pass_rate is one integer ratio (round-6
    half-up).

    Scale shape: one map-only projection computes all per-doc counts
    (translate()-based char classes, one line split, one word split),
    then a single 1-row aggregate; the rule unpivot explodes 9 rows
    AFTER aggregation. No shuffle wider than the final scalar agg."""
    flags = _rule_flag_exprs(F.col(text_col))
    ints = [F.when(c, 1).otherwise(0).alias(r) for r, c in sorted(flags.items())]
    all_pass = None
    for _, c in sorted(flags.items()):
        all_pass = c if all_pass is None else (all_pass & c)
    per_doc = df.select(
        *ints, F.when(all_pass, 1).otherwise(0).alias("all_rules")
    )
    agg = per_doc.agg(
        F.count("*").cast("long").alias("__nd"),
        *[F.sum(r).cast("long").alias(r) for r in sorted(flags)],
        F.sum("all_rules").cast("long").alias("all_rules"),
    )
    rules = sorted(flags) + ["all_rules"]
    rows = agg.select(
        "__nd",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"), F.col(r).alias("n_pass")
                    )
                    for r in rules
                ]
            )
        ).alias("__s"),
    )
    return rows.select(
        F.col("__s.rule").alias("rule"),
        F.col("__nd").alias("n_docs"),
        F.col("__s.n_pass").alias("n_pass"),
        _round6_ratio(F.col("__s.n_pass"), F.greatest(F.col("__nd"), F.lit(1))).alias(
            "pass_rate"
        ),
    )


def packing_efficiency(
    df: DataFrame,
    context_lens: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Sequence-packing efficiency audit: for each candidate context
    length L, compare concat-and-chunk packing (documents concatenated
    in id order, sliced every L tokens — the GPT-style packing that
    wastes nothing but splits documents across context windows) against
    naive one-doc-per-sequence padding. The numbers that pick a context
    length and a packing strategy: fill rate of each, how many
    documents a chunked packing splits, and how many pad tokens the
    naive layout burns.

    Returns one row per L: (context_len, n_docs, total_tokens,
    packed_contexts, packed_fill_rate, docs_split, total_splits,
    naive_contexts, naive_fill_rate).

    All quantities are exact integers (ceil/floor on integer token
    prefix sums); the two fill rates are single integer ratios.

    Scale shape: the prefix sum runs TWO-PHASE so no global window ever
    sees the corpus — per-doc token counts aggregate into id-range
    buckets (doc_id div 1024), bucket totals prefix-sum on the tiny
    bucket grain and broadcast back as offsets, and the within-bucket
    running sum is a window partitioned BY bucket (each partition ~1024
    scalar rows). The per-L explode multiplies doc-grain scalars, never
    text. This is the scan shape that survives a 10^9-document corpus;
    a single un-partitioned ORDER BY doc_id window would not."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.size(
            F.regexp_extract_all(agree_lower(F.col(text_col)), F.lit(pattern), F.lit(0))
        )
        .cast("long")
        .alias("__t"),
        F.expr(f"{id_col} div 1024").alias("__b"),
    )
    bucket_tot = toks.groupBy("__b").agg(F.sum("__t").alias("__bt"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "__b", F.coalesce(F.sum("__bt").over(wb), F.lit(0)).alias("__off")
    )
    ww = Window.partitionBy("__b").orderBy("__id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ends = (
        toks.join(F.broadcast(offsets), "__b")
        .select(
            "__id",
            "__t",
            (F.col("__off") + F.sum("__t").over(ww)).alias("__end"),
        )
        .withColumn("__start", F.col("__end") - F.col("__t"))
    )
    per_l = ends.select(
        "__t",
        "__start",
        "__end",
        F.explode(F.array(*[F.lit(int(c)) for c in context_lens])).alias("L"),
    ).select(
        "__t",
        "L",
        F.when(
            F.col("__t") > 0,
            F.expr("(__end - 1) div L") - F.expr("__start div L"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__crossed"),
        F.when(F.col("__t") > 0, F.expr("(__t + L - 1) div L"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__naive"),
    )
    agg = per_l.groupBy("L").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("__crossed") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("docs_split"),
        F.sum("__crossed").cast("long").alias("total_splits"),
        F.sum("__naive").cast("long").alias("naive_contexts"),
    )
    return agg.select(
        F.col("L").cast("long").alias("context_len"),
        "n_docs",
        "total_tokens",
        F.expr("(total_tokens + L - 1) div L").cast("long").alias("packed_contexts"),
        _round6_ratio(
            F.col("total_tokens"),
            F.greatest(F.expr("((total_tokens + L - 1) div L) * L"), F.lit(1)),
        ).alias("packed_fill_rate"),
        "docs_split",
        "total_splits",
        "naive_contexts",
        _round6_ratio(
            F.col("total_tokens"),
            F.greatest(F.col("naive_contexts") * F.col("L"), F.lit(1)),
        ).alias("naive_fill_rate"),
    )


def ppl_bucket_mix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity-bucket mix audit (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data"): score every document with the corpus-fit bigram LM
    (``bigram_lm_score`` — the perplexity proxy), split each group
    into ``buckets`` equal-count tiers by score (CCNet's head/middle/
    tail terciles, per language), and report the mix — the table that
    decides which tail tiers to drop and whether a source's "head" is
    actually mid-quality by corpus standards.

    Returns per (group, bucket): (grp, bucket, n_docs, n_bigrams,
    doc_share, mass_share, score_lo, score_hi). bucket 1 = highest
    scores (head). Bucketing is NTILE over the ROUNDED 6dp score with
    id tiebreak, so tier boundaries are engine-exact; shares are exact
    integer ratios.

    Scale shape: scoring is the bigram_lm_score plan (pre-aggregated
    joins, broadcast vocab scalar); the ntile window partitions BY
    GROUP over doc-grain rows (one row per document, never corpus
    token volume); the final aggregate is |groups|·|buckets| rows."""
    from pyspark.sql.window import Window

    # LEFT join for the group column (r14 opt, guide §2.4): an inner
    # join pushes isnotnull(id_col) into the scored side only, which
    # makes the per-doc and corpus-count scan subtrees inside
    # bigram_lm_score non-identical and re-runs the corpus bigram
    # explode (3 Generate nodes); the left join pushes nothing into
    # the preserved side, exchange reuse fires, and the explode runs
    # once. Values are identical: every scored id comes FROM df, so
    # every row matches and left == inner. The one divergence window
    # is an out-of-contract NULL id_col (inner drops it, left keeps it
    # with grp NULL); doc ids are non-null keys in every dataset this
    # runs on, and the adversarial gate re-verified the parity.
    scored = bigram_lm_score(df, text_col, id_col).join(
        df.select(F.col(id_col), F.col(group_col).alias("grp")), id_col, "left"
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("lm_score").desc(), F.col(id_col)
    )
    tiered = scored.withColumn(
        "bucket", F.ntile(buckets).over(w).cast("long")
    )
    per = tiered.groupBy("grp", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.min("lm_score").alias("score_lo"),
        F.max("lm_score").alias("score_hi"),
    )
    tot = Window.partitionBy("grp")
    return per.select(
        "grp",
        "bucket",
        "n_docs",
        "n_bigrams",
        _round6_ratio(F.col("n_docs"), F.sum("n_docs").over(tot)).alias(
            "doc_share"
        ),
        _round6_ratio(
            F.col("n_bigrams"), F.greatest(F.sum("n_bigrams").over(tot), F.lit(1))
        ).alias("mass_share"),
        "score_lo",
        "score_hi",
    )


def tokenizer_drift(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer-compression drift between sources: per group, the
    chars-per-token compression of the engine's BPE-ish token model,
    and its signed deviation from the corpus-wide baseline — the
    number that catches a feed whose content tokenizes 1.5x worse
    than the rest of the corpus (code, mojibake, exotic scripts)
    before it silently eats the token budget. The per-source sibling
    of ``token_fertility`` (which is per language, vs its own words).

    drift = chars_g/tokens_g − chars_all/tokens_all as ONE exact
    signed integer ratio (chars_g·tokens_all − chars_all·tokens_g) /
    (tokens_g·tokens_all) — the restructure-to-one-ratio rule; the
    count·count products pass the BIGINT·2e6 ceiling at corpus scale,
    hence the DECIMAL route.

    Returns (grp, n_docs, tokens, chars, chars_per_token, drift).

    Scale shape: one map-only projection (regexp token count + length)
    → one group-grain aggregate; the corpus totals broadcast back as a
    1-row scalar. No text shuffles."""
    per = (
        df.select(
            F.col(group_col).alias("grp"),
            token_count(F.col(text_col)).alias("__t"),
            F.length(F.col(text_col)).alias("__c"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("tokens"),
            F.sum("__c").cast("long").alias("chars"),
        )
    )
    tot = per.agg(
        F.sum("tokens").cast("long").alias("__ta"),
        F.sum("chars").cast("long").alias("__ca"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "grp",
        "n_docs",
        "tokens",
        "chars",
        _round6_ratio(F.col("chars"), F.greatest(F.col("tokens"), F.lit(1))).alias(
            "chars_per_token"
        ),
        # the count·count cross products are formed in DECIMAL(38,0):
        # under ANSI a long*long product hard-errors past ~9.2e18, and
        # chars_g·tokens_all crosses that exactly at the corpus scale
        # this operator exists for (ADVICE r9) — the oracle's HUGEINT
        # products never errored, so the overflow would be one-sided.
        _round6_ratio_dec_signed(
            F.col("chars").cast("decimal(38,0)") * F.col("__ta").cast("decimal(38,0)")
            - F.col("__ca").cast("decimal(38,0)") * F.col("tokens").cast("decimal(38,0)"),
            F.greatest(
                F.col("tokens").cast("decimal(38,0)") * F.col("__ta").cast("decimal(38,0)"),
                F.lit(1).cast("decimal(38,0)"),
            ),
        ).alias("drift"),
    )


def contamination_by_benchmark(
    df: DataFrame,
    bench_df: DataFrame,
    bench_col: str = "benchmark",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination at EVAL-SUITE grain: the per-benchmark
    breakdown of ``contamination_overlap`` (which reports per document
    against one pooled set). For each benchmark in ``bench_df``:
    how many corpus documents share at least one distinct word n-gram
    with it, the hit rate, and the total (doc, gram) overlap volume —
    the per-suite scorecard that says WHICH eval is compromised, not
    just that something is (the GPT-3/PaLM appendix-style
    per-benchmark contamination table).

    Returns (benchmark, n_bench_grams, n_docs_hit, hit_rate,
    total_overlap); hit_rate = docs hit / corpus docs, exact integer
    ratio. Benchmarks with zero hits still appear (left join against
    the benchmark gram table's grain).

    Scale shape: benchmark gram sets are tiny vs the corpus and
    BROADCAST; the probe is a map-side hash join over exploded
    distinct corpus grams, so only matching (benchmark, doc, gram)
    rows reach the aggregates. Corpus text never shuffles."""

    def grams(frame, keep):
        return frame.select(
            *keep,
            F.explode(
                F.array_distinct(word_ngrams(word_tokens(F.col(text_col)), n))
            ).alias("__g"),
        )

    bench = (
        grams(bench_df, [F.col(bench_col).alias("benchmark")])
        .distinct()
    )
    bench_sizes = bench.groupBy("benchmark").agg(
        F.count("*").cast("long").alias("n_bench_grams")
    )
    ndocs = df.agg(F.count("*").alias("__nd"))
    hits = (
        grams(df, [F.col(id_col)])
        .join(F.broadcast(bench), "__g")
        .groupBy("benchmark")
        .agg(
            F.count_distinct(id_col).cast("long").alias("n_docs_hit"),
            F.count("*").cast("long").alias("total_overlap"),
        )
    )
    return (
        bench_sizes.join(hits, "benchmark", "left")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "benchmark",
            "n_bench_grams",
            F.coalesce(F.col("n_docs_hit"), F.lit(0)).cast("long").alias("n_docs_hit"),
            _round6_ratio(
                F.coalesce(F.col("n_docs_hit"), F.lit(0)),
                F.greatest(F.col("__nd"), F.lit(1)),
            ).alias("hit_rate"),
            F.coalesce(F.col("total_overlap"), F.lit(0))
            .cast("long")
            .alias("total_overlap"),
        )
    )


def template_prefix_share(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 8,
) -> DataFrame:
    """Templated-prefix detection per source: digest the first ``k``
    word tokens of every document and report each source's most common
    prefix — a source whose docs overwhelmingly open with the same k
    tokens is shipping templated pages (navigation headers, legal
    banners, mirror frontmatter), the boilerplate that survives
    doc-grain exact dedup because the tails differ. Pairs with
    ``boilerplate_chunks`` (which finds repeated chunks anywhere);
    this is the cheap source-grain tripwire.

    Returns (grp, n_docs, n_prefixes, top_count, top_share):
    top = the (count desc, digest) argmax so the pick is
    engine-deterministic; shares are exact integer ratios.

    Scale shape: the prefix digest is map-only (slice + md5); one
    (source, prefix) count with map-side combine; the argmax window
    runs over source-grain aggregated rows (bounded by distinct
    prefixes, never corpus volume)."""
    from pyspark.sql.window import Window

    pref = df.select(
        F.col(group_col).alias("grp"),
        F.md5(
            F.concat_ws(" ", F.slice(word_tokens(F.col(text_col)), 1, k))
        ).alias("__pf"),
    )
    counts = pref.groupBy("grp", "__pf").agg(F.count("*").alias("__c"))
    w = Window.partitionBy("grp").orderBy(F.col("__c").desc(), F.col("__pf"))
    per = counts.withColumn("__rn", F.row_number().over(w))
    agg = counts.groupBy("grp").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_prefixes"),
    )
    top = per.where(F.col("__rn") == 1).select(
        "grp", F.col("__c").cast("long").alias("top_count")
    )
    return agg.join(top, "grp").select(
        "grp",
        "n_docs",
        "n_prefixes",
        "top_count",
        _round6_ratio(F.col("top_count"), F.col("n_docs")).alias("top_share"),
    )


def dup_line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document duplicate-LINE statistics — the Gopher
    repetition rules at LINE grain (Rae et al. 2021 Table A1:
    "duplicate line fraction" and "duplicate line character
    fraction"), the complement of ``repetition_stats`` (word n-gram
    grain) and ``paragraph_dedup_stats`` (cross-doc paragraph grain).
    A doc whose lines repeat internally (scraped menus, chat logs,
    SEO keyword walls) passes word-level filters while being mostly
    redundant; these two fractions are the standard gate.

    Per document over its non-empty lines (split on \\n, a line with
    only spaces is empty): n_lines, n_distinct_lines,
    dup_line_frac = (n_lines − n_distinct)/n_lines (occurrences
    beyond each line's first), and dup_char_frac = chars in those
    repeat occurrences / chars in all lines. Zero-line docs report
    0-sentinels, never NULL. Both fractions are exact integer count
    ratios (the midpoint-class rule).

    Scale shape: lines hash to (doc, md5, len) BEFORE the per-(doc,
    line) aggregate, so raw line text never shuffles; two bounded
    aggregates (doc×distinct-line, then doc). No joins, no windows."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("__l"),
    ).where(F.length(F.trim(F.col("__l"))) > 0)
    hashed = lines.select(
        F.col(id_col),
        F.md5(F.col("__l")).alias("__h"),
        F.length("__l").alias("__len"),
    )
    per_line = hashed.groupBy(id_col, "__h").agg(
        F.count("*").alias("__c"), F.first("__len").alias("__len")
    )
    agg = per_line.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_lines"),
        F.count("*").cast("long").alias("n_distinct_lines"),
        F.sum(F.col("__c") * F.col("__len")).cast("long").alias("__chars"),
        F.sum((F.col("__c") - 1) * F.col("__len")).cast("long").alias("__dup_chars"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce(F.col("n_distinct_lines"), F.lit(0))
            .cast("long")
            .alias("n_distinct_lines"),
            _round6_ratio(
                F.coalesce(F.col("n_lines") - F.col("n_distinct_lines"), F.lit(0)),
                F.greatest(F.coalesce(F.col("n_lines"), F.lit(0)), F.lit(1)),
            ).alias("dup_line_frac"),
            _round6_ratio(
                F.coalesce(F.col("__dup_chars"), F.lit(0)),
                F.greatest(F.coalesce(F.col("__chars"), F.lit(0)), F.lit(1)),
            ).alias("dup_char_frac"),
        )
    )


def quality_threshold_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    steps: int = 9,
) -> DataFrame:
    """Quality-filter threshold sweep: for each candidate cutoff
    t ∈ {1/10 … steps/10}, how many documents and how many tokens the
    filter ``quality >= t`` keeps, and the kept shares — the one table
    read before committing a quality threshold for a corpus build
    (the C4/Gopher "where do we draw the line" calibration; pairs
    with ``quality_rule_pack``, which audits FIXED rules).

    Both engines compare the identical 6dp-rounded quality double to
    the identical i/10.0 double (IEEE division is exact-rounded, so
    the literals agree bit-for-bit). Shares are exact integer count
    ratios; the token share takes the DECIMAL route (a corpus token
    total crosses the BIGINT·2e6 ceiling at 100 TB).

    Scale shape: quality_score is map-only over the corpus; the
    sweep is ONE aggregate over doc-grain rows with `steps`
    conditional sums (no crossJoin amplification of the corpus), then
    an explode of the `steps`-row result."""
    scored = quality_score(df, text_col, id_col)
    toks = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("__t")
    )
    base = scored.join(toks, id_col)
    aggs = []
    for i in range(1, steps + 1):
        t = F.lit(i) / F.lit(10.0)
        keep = F.col("quality") >= t
        aggs.append(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(f"__n{i}")
        )
        aggs.append(
            F.sum(F.when(keep, F.col("__t")).otherwise(0))
            .cast("long")
            .alias(f"__tk{i}")
        )
    tot = base.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__t").cast("long").alias("__tk"),
        *aggs,
    )
    rows = tot.select(
        F.col("__n"),
        F.col("__tk"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.lit(i) / F.lit(10.0)).alias("threshold"),
                        F.col(f"__n{i}").alias("n_docs_kept"),
                        F.col(f"__tk{i}").alias("tokens_kept"),
                    )
                    for i in range(1, steps + 1)
                ]
            )
        ).alias("__s"),
    )
    return rows.select(
        F.col("__s.threshold").alias("threshold"),
        F.col("__s.n_docs_kept").alias("n_docs_kept"),
        F.col("__s.tokens_kept").alias("tokens_kept"),
        _round6_ratio(
            F.col("__s.n_docs_kept"), F.greatest(F.col("__n"), F.lit(1))
        ).alias("doc_share"),
        _round6_ratio_dec(
            F.col("__s.tokens_kept"), F.greatest(F.col("__tk"), F.lit(1))
        ).alias("token_share"),
    )


# C4-style boilerplate/blocklist phrases (Raffel et al. 2020 §2.2's
# spirit: "lorem ipsum", the curly brace code signal, policy/nav
# boilerplate). ASCII literals only, so Java and RE2 match
# identically after the shared agree_lower/lower normalization.
BLOCKLIST_PHRASES = (
    "lorem ipsum",
    "terms of use",
    "privacy policy",
    "all rights reserved",
    "click here",
    "cookie",
    "{",
)


def blocklist_audit(
    df: DataFrame,
    phrases: tuple = BLOCKLIST_PHRASES,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Boilerplate-blocklist audit per source: for each blocklist
    phrase, how many of the source's documents contain it, the hit
    rate, and the total occurrence count — the C4-style pre-filter
    scorecard (which feeds a drop-the-page rule) at the grain a crawl
    owner acts on. Every (source, phrase) pair is reported, zeros
    included, so a clean source is visible as a row of zeros rather
    than absent.

    Occurrences count non-overlapping literal matches over the
    lowercased text (regexp_count with the escaped literal — plain
    ASCII literals match identically under Java and RE2).

    Scale shape: one map-only projection computes all |phrases|
    counts per doc (no corpus amplification), one aggregate per
    (source, phrase) after a bounded |phrases|-wide explode of the
    per-doc count vector."""
    import re as _re

    low = agree_lower(F.col(text_col))
    per_doc = df.select(
        F.col(source_col).alias("source"),
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("phrase"),
                    F.regexp_count(low, F.lit(_re.escape(p))).alias("occ"),
                )
                for p in phrases
            ]
        ).alias("__v"),
    ).select("source", F.explode("__v").alias("__s"))
    flat = per_doc.select(
        "source",
        F.col("__s.phrase").alias("phrase"),
        F.col("__s.occ").cast("long").alias("__occ"),
    )
    return flat.groupBy("source", "phrase").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__occ") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_hit"),
        F.sum("__occ").cast("long").alias("n_occurrences"),
        _round6_ratio(
            F.sum(F.when(F.col("__occ") > 0, 1).otherwise(0)),
            F.greatest(F.count("*"), F.lit(1)),
        ).alias("hit_rate"),
    )


def bigram_entropy_rate(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source entropy rate of the word stream: unigram entropy
    H1, bigram entropy H2, and the conditional entropy rate
    H2 − H1 = H(w₂|w₁) in bits/word — the corpus-redundancy signal
    (a template farm has low H(w₂|w₁) long before its unigram
    distribution looks degenerate; natural prose sits several bits
    higher). The per-source corpus-grain sibling of ``word_entropy``
    (per-doc unigram).

    Engine note: entropies are log2 sums — the documented bounded
    transcendental class (word_entropy precedent): Java and libm
    disagree at the last ulp on a few percent of log2 inputs, a
    ~1e-11-scale diffuse risk far below the round-6 grid, accepted
    rather than "fixed". Counts and totals are exact integers.

    Scale shape: tokens/bigrams explode map-side; two (group, term)
    aggregates with map-side combine bound the shuffle at distinct
    term counts; the final row set is |sources|."""
    toks = df.select(
        F.col(group_col).alias("grp"), word_tokens(F.col(text_col)).alias("__w")
    )
    uni = (
        toks.select("grp", F.explode("__w").alias("__t"))
        .groupBy("grp", "__t")
        .agg(F.count("*").alias("__c"))
    )
    bi = (
        toks.select("grp", F.explode(word_ngrams(F.col("__w"), 2)).alias("__t"))
        .where(F.size(F.split(F.col("__t"), " ")) == 2)
        .groupBy("grp", "__t")
        .agg(F.count("*").alias("__c"))
    )

    def _h(counted):
        return counted.groupBy("grp").agg(
            F.sum("__c").cast("long").alias("__n"),
            (
                F.log2(F.sum("__c"))
                - F.sum(F.col("__c") * F.log2("__c")) / F.sum("__c")
            ).alias("__h"),
        )

    h1 = _h(uni).select("grp", F.col("__n").alias("n_tokens"), F.col("__h").alias("__h1"))
    h2 = _h(bi).select("grp", F.col("__h").alias("__h2"))
    return h1.join(h2, "grp").select(
        "grp",
        "n_tokens",
        F.round(F.col("__h1"), 6).alias("h_unigram"),
        F.round(F.col("__h2"), 6).alias("h_bigram"),
        F.round(F.col("__h2") - F.col("__h1"), 6).alias("h_rate"),
    )


# Unicode script/class composition: codepoint ranges expressed with
# \x{...} escapes, the syntax Java regex and DuckDB's RE2 share
# (engine-probed: counts identical on Latin/Cyrillic/Greek/CJK/Arabic/
# digit text, astral-plane emoji, and every whitespace control — the
# explicit [ \t\n\r\f] class sidesteps the documented Java-vs-RE2 \s
# vertical-tab divergence). Classes are pairwise disjoint so "other"
# is an exact subtraction from the codepoint total.
SCRIPT_CLASSES = [
    ("latin", "[A-Za-z]"),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\\x{0370}-\\x{03FF}]"),
    ("cjk", "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]"),
    ("arabic", "[\\x{0600}-\\x{06FF}]"),
    ("digit", "[0-9]"),
    ("whitespace", "[ \\t\\n\\r\\f]"),
]


def script_mix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Unicode script/class composition of the codepoint
    stream: fractions of Latin letters, Cyrillic, Greek, CJK
    (Han + Kana + Hangul), Arabic, ASCII digits, whitespace, and the
    "other" remainder — the script-grain complement to ``lang_id``
    (which classifies whole documents). A feed whose declared language
    is stable while its script mix drifts (digits exploding, CJK
    bleeding into a Latin source) is the classic silent-scraper-break
    signal, and digit/other-heavy sources are the first candidates for
    a tokenizer-fertility audit (``token_fertility``).

    Determinism: every class count and the codepoint total are exact
    BIGINTs (Spark's length() and DuckDB's length() both count
    codepoints, astral planes included — engine-probed); each fraction
    is ONE exact integer ratio Σclass/Σlen routed through
    :func:`_round6_ratio_dec` (corpus codepoint totals exceed the
    BIGINT product ceiling long before 100 TB). All-empty groups
    sentinel every fraction to 0.0 on both engines.

    Scale shape: the counts are a map-only regexp projection; the ONLY
    shuffle carries |groups| × 10 combiner rows. No joins, no windows,
    no explode — raw text never shuffles."""
    cnt = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"__{name}")
        for name, pat in SCRIPT_CLASSES
    ]
    per = df.select(
        F.col(group_col).alias("grp"),
        F.length(F.col(text_col)).cast("long").alias("__len"),
        *cnt,
    )
    sums = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__len").cast("long").alias("n_chars"),
        *[F.sum(f"__{name}").cast("long").alias(f"__s_{name}") for name, _ in SCRIPT_CLASSES],
    )
    other = F.col("n_chars") - sum(
        (F.col(f"__s_{name}") for name, _ in SCRIPT_CLASSES), F.lit(0).cast("long")
    )

    def frac(num):
        return F.when(
            F.col("n_chars") > 0, _round6_ratio_dec(num, F.col("n_chars"))
        ).otherwise(F.lit(0.0))

    return sums.select(
        "grp",
        "n_docs",
        "n_chars",
        *[
            frac(F.col(f"__s_{name}")).alias(f"frac_{name}")
            for name, _ in SCRIPT_CLASSES
        ],
        frac(other).alias("frac_other"),
    )


def byte_entropy(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Shannon entropy of the BYTE distribution (bits/byte) —
    the compression-ratio proxy and binary-garbage tripwire that runs
    before any tokenizer sees the feed: clean English sits ~4.1–4.6
    bits/byte, tight templates lower, encrypted/compressed/binary
    junk pushes toward 8.0 while still being valid UTF-8 escapes in a
    text column. The byte-grain sibling of ``word_entropy`` (per-doc
    words) and ``bigram_entropy_rate`` (per-source word stream);
    ``encoding_audit`` finds malformed sequences, THIS finds
    well-formed noise. Also reports the ASCII-printable byte fraction
    (0x20–0x7E) as one exact integer ratio.

    Byte grain is denominated on the UTF-8 payload (octet_length /
    hex-pair slicing — the r7 byte-vs-codepoint lesson), and bytes are
    read as hex pairs from the payload's uppercase hex rendering, the
    engine-shared representation (frame_dup_rate precedent). Entropy
    is the documented bounded transcendental class (word_entropy
    precedent); counts and the printable ratio are exact integers.

    Scale shape: the byte explode is map-side (Generate); the ONLY
    shuffle carries (group, byte-value) combiner rows — ≤ 256·|groups|
    after map-side combine, independent of corpus size; the final row
    set is |groups|."""
    h = F.hex(F.encode(F.col(text_col), "utf-8"))
    per = df.select(
        F.col(group_col).alias("grp"),
        h.alias("__h"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    (F.length(h) / F.lit(2)).cast("long") - 1, F.lit(0)
                ),
            )
        ).alias("__i"),
    ).where(F.length("__h") > 0)
    bytes_ = per.select(
        "grp", F.substring(F.col("__h"), F.col("__i") * 2 + 1, 2).alias("__b")
    )
    counted = bytes_.groupBy("grp", "__b").agg(F.count("*").alias("__c"))
    printable = (F.col("__b") >= "20") & (F.col("__b") <= "7E")
    return counted.groupBy("grp").agg(
        F.sum("__c").cast("long").alias("n_bytes"),
        F.countDistinct("__b").cast("long").alias("n_distinct_bytes"),
        F.round(
            F.log2(F.sum("__c"))
            - F.sum(F.col("__c") * F.log2("__c")) / F.sum("__c"),
            6,
        ).alias("h_byte"),
        _round6_ratio_dec(
            F.sum(F.when(printable, F.col("__c")).otherwise(0)),
            F.sum("__c"),
        ).alias("printable_frac"),
    )


def rule_disagreement(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pairwise filter-redundancy matrix over the QUALITY_RULES pack:
    for every rule pair (a < b), the doc counts that disagree in each
    direction, the disagreement rate, and McNemar's statistic
    (b−c)²/(b+c) on the discordant counts — the audit that decides
    which of two correlated filters to DROP before a 100-TB pass
    (near-zero disagreement = the rules are aliases, keep the cheap
    one; a large one-sided b vs c = one rule strictly dominates; a
    small symmetric disagreement with low McNemar = genuine but
    unbiased noise). Uses the SAME predicate expressions as
    ``quality_rules`` via the shared flag helper, so the matrix can
    never drift from the scorecard.

    Exactness: flags are integer-exact predicates; all pair counts
    derive from Σa, Σb, Σ(a·b) in one combiner row (b_ab = Σa − Σab);
    McNemar's (b−c)² can reach n² so its ratio routes through
    DECIMAL(38,0); zero-discordance pairs sentinel the statistic to
    0.0 on both engines.

    Scale shape: ONE map-only projection (all 8 flags per doc), ONE
    global combiner aggregate (1 + 8 + 28 longs), then a 28-row
    explode AFTER aggregation. No joins, no second pass."""
    flags = _rule_flag_exprs(F.col(text_col))
    names = sorted(flags)
    per = df.select(
        *[F.when(flags[r], 1).otherwise(0).alias(r) for r in names]
    )
    aggs = [F.count("*").cast("long").alias("__n")]
    aggs += [F.sum(r).cast("long").alias(f"s_{r}") for r in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b)).cast("long").alias(f"p_{a}__{b}")
            )
    g = per.agg(*aggs)
    structs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            both = F.col(f"p_{a}__{b}")
            structs.append(
                F.struct(
                    F.lit(a).alias("ra"),
                    F.lit(b).alias("rb"),
                    (F.col(f"s_{a}") - both).alias("bb"),
                    (F.col(f"s_{b}") - both).alias("cc"),
                )
            )
    rows = g.select("__n", F.explode(F.array(*structs)).alias("__s"))
    b, c = F.col("__s.bb"), F.col("__s.cc")
    disc = (b + c).cast("long")
    return rows.select(
        F.col("__s.ra").alias("rule_a"),
        F.col("__s.rb").alias("rule_b"),
        F.col("__n").alias("n_docs"),
        b.cast("long").alias("a_only"),
        c.cast("long").alias("b_only"),
        _round6_ratio(disc, F.greatest(F.col("__n"), F.lit(1))).alias(
            "disagree_rate"
        ),
        F.when(
            disc > 0,
            _round6_ratio_dec((b - c).cast("decimal(38,0)") * (b - c).cast("decimal(38,0)"), disc),
        )
        .otherwise(F.lit(0.0))
        .alias("mcnemar_chi2"),
    )


def source_kl(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source KL divergence (bits) of the unigram word distribution
    from the corpus mixture: D(P_s ‖ P_corpus) — the one scalar that
    ranks how far each feed's vocabulary sits from the blend it feeds
    (the mix-health dashboard number behind DSIR-style importance
    weighting: a near-zero source is redundant with the mixture, a
    high-KL source is what diversity-weighted sampling upsamples).
    Term grain lives in ``distinctive_terms``; this is the scalar.

    Decomposition keeps it one pass: D = (Σ_t c·log2(c/C_t))/N_s
    + log2(N) − log2(N_s) — the term sum needs only the source's own
    counts joined to corpus term totals; the corpus scalar N rides a
    1-row broadcast. Counts are exact integers; the log2 sums are the
    documented bounded transcendental class (word_entropy precedent).
    P_s is absolutely continuous w.r.t. the corpus by construction
    (every source term IS a corpus term), so no smoothing and no
    log-of-zero exists.

    Scale shape: two-stage (group, term) aggregate with map-side
    combine; term totals re-aggregate from those combiner rows and
    join back on the term key (correctly NOT broadcast — corpus
    vocabularies are large); final row set is |sources|."""
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(word_tokens(F.col(text_col))).alias("__t"),
        )
        .where(F.col("__t") != "")
        .groupBy("grp", "__t")
        .agg(F.count("*").alias("__c"))
    )
    tot_t = counts.groupBy("__t").agg(F.sum("__c").alias("__ct"))
    per = (
        counts.join(tot_t, "__t")
        .groupBy("grp")
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_terms"),
            F.sum(
                F.col("__c") * (F.log2("__c") - F.log2("__ct"))
            ).alias("__s"),
        )
    )
    n_all = per.agg(F.sum("n_tokens").alias("__n"))
    return per.crossJoin(F.broadcast(n_all)).select(
        "grp",
        "n_tokens",
        "n_terms",
        F.round(
            F.col("__s") / F.col("n_tokens")
            + F.log2("__n")
            - F.log2("n_tokens"),
            6,
        ).alias("kl_bits"),
    )


def doc_gini(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source Gini coefficient of TOKEN MASS across documents — is
    a source's budget a broad base or three giant docs? The doc-grain
    sibling of ``gini_concentration`` (per-key event counts): sampling
    plans that draw documents uniformly implicitly assume low Gini;
    a high-Gini source needs token-weighted draws (``weighted_sample``)
    or length capping before its mix share means anything.

    Same sorted-rank identity as gini_concentration —
    G = 2·Σ(i·t_i)/(n·Σt) − (n+1)/n with token counts ascending, ties
    broken by doc id — every sum exact int64 (DECIMAL-routed products:
    rank·tokens sums pass the BIGINT comfort zone at corpus scale),
    final G one double expression over exact integers, bridge-rounded
    (|G| < 1). Zero-token sources sentinel to 0.0.

    Scale shape: one map-only token count, a per-source rank window
    over DOC-grain rows (docs ≪ tokens), one combiner aggregate."""
    from pyspark.sql.window import Window

    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("__id"),
        F.size(
            F.filter(word_tokens(F.col(text_col)), lambda x: x != "")
        ).cast("long").alias("__t"),
    )
    w = Window.partitionBy("grp").orderBy(F.col("__t").asc(), F.col("__id").asc())
    ranked = per_doc.withColumn("__i", F.row_number().over(w).cast("long"))
    s = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("n_tokens"),
        F.sum(F.col("__i").cast("decimal(38,0)") * F.col("__t").cast("decimal(38,0)"))
        .alias("__sit"),
    )
    gini = (
        F.lit(2.0) * F.col("__sit").cast("double")
        / (F.col("n_docs").cast("decimal(38,0)") * F.col("n_tokens").cast("decimal(38,0)")).cast("double")
        - (F.col("n_docs") + 1).cast("double") / F.col("n_docs").cast("double")
    )
    return s.select(
        "grp",
        "n_docs",
        "n_tokens",
        F.when(F.col("n_tokens") > 0, _round6_bridge(gini))
        .otherwise(F.lit(0.0))
        .alias("gini_tokens"),
    )


def source_effect_size(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cohen's d of TOKEN LENGTH per source vs the rest of the corpus
    — the standardized mean difference (Cohen 1988) that turns "source
    A's docs are longer" into a unit-free magnitude comparable across
    metrics and corpus sizes (|d| ≥ 0.8 = the source is structurally
    different material, not a sampling wobble; |d| < 0.2 = ignore).
    The length-mix companion to ``source_kl`` (vocabulary) and
    ``doc_gini`` (concentration): together they answer whether a feed
    can be blended at its raw mix share or needs length-aware caps.

    d = (μ_s − μ_rest) / s_pooled with the unbiased pooled variance
    s² = (Q − T_s²/n_s − T_r²/n_r) / (N − 2) from EXACT integer moment
    sums (T = Στ as int64, Q = Στ² as DECIMAL(38,0) — past 2^53 both
    engines' decimal→double casts round-to-nearest identically). All
    double arithmetic after the casts is the same IEEE expression on
    both engines (±, ×, / correctly rounded; sqrt bit-exact), then
    ``_round6_bridge`` — |d| is clamped to ±1000 on BOTH sides first
    (degenerate near-constant corpora can blow d past the bridge's
    ~4.5e3 agreement bound; a clamped audit value is still "off the
    chart" to the reader). Undefined cases (singleton rest, N < 3,
    zero pooled variance) sentinel to 0.0 on both sides.

    Scale shape: one map-only token count, one per-source combiner
    aggregate, corpus totals re-aggregated from the |sources| rows and
    re-joined via a 1-row broadcast. Raw text never shuffles."""
    per = df.select(
        F.col(group_col).alias("grp"),
        F.size(
            F.filter(word_tokens(F.col(text_col)), lambda x: x != "")
        ).cast("long").alias("__t"),
    )
    s = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("__ts"),
        F.sum(F.col("__t").cast("decimal(38,0)") * F.col("__t").cast("decimal(38,0)"))
        .alias("__qs"),
    )
    tot = s.agg(
        F.sum("n_docs").cast("long").alias("__nn"),
        F.sum("__ts").cast("long").alias("__tt"),
        F.sum("__qs").alias("__qq"),
    )
    j = s.crossJoin(F.broadcast(tot))
    ns_d = F.col("n_docs").cast("double")
    nr = F.col("__nn") - F.col("n_docs")
    nr_d = nr.cast("double")
    ts_d = F.col("__ts").cast("double")
    tr_d = (F.col("__tt") - F.col("__ts")).cast("double")
    # ANSI: double division raises on /0 and optimizer predicate order
    # is not contractual — sentinel var_p BEFORE it appears in any
    # condition so nr = 0 (single-source corpus) can never divide
    ok0 = (nr >= 1) & (F.col("__nn") >= 3)
    var_p = F.when(
        ok0,
        (
            F.col("__qq").cast("double") - ts_d * ts_d / ns_d - tr_d * tr_d / nr_d
        ) / (F.col("__nn") - 2).cast("double"),
    ).otherwise(F.lit(0.0))
    d = F.when(
        ok0 & (var_p > 0), (ts_d / ns_d - tr_d / nr_d) / F.sqrt(var_p)
    ).otherwise(F.lit(0.0))
    return j.select(
        "grp",
        "n_docs",
        _round6_ratio(F.col("__ts"), F.col("n_docs")).alias("mean_tokens"),
        _round6_bridge(
            F.greatest(F.least(d, F.lit(1000.0)), F.lit(-1000.0))
        ).alias("cohens_d"),
    )


def code_detect(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source code-likeness audit — the structural heuristics a
    code/prose router runs before tokenizer and mix decisions (the
    public The Stack / StarCoder-style preprocessing gate: prose
    tokenizers and quality rules misfire on code, so a corpus feed
    needs its code share measured before blending). A doc scores one
    point per structural signal and is flagged code at >= 3 of 5:

    - >= 15% of lines indented (4 spaces or a tab),
    - >= 20% of lines ending in ';' '{' '}' ')' (after space rtrim),
    - >= 5% of characters in the ASCII code-symbol class [](){};=<>,
    - >= 2 distinct code keywords present, and >= 4 for the 5th point
      ('def ', 'return', 'import ', '#include', 'function', 'public ',
      'void ', '=>', '==' — case-sensitive, so no casing hazards).

    Every signal is an INTEGER cross-multiplied threshold (100·k >=
    p·n) — no division, no floats, no ANSI hazards; line splitting is
    a literal '\\n' after '\\r' removal (CRLF-safe) and the symbol
    class is a pure-ASCII regex (codepoint-counted on both engines).
    Output ratios are exact count ratios via ``_round6_ratio``.

    Scale shape: one map-only projection (all signals per doc in one
    pass over the text), one per-source combiner aggregate. Raw text
    never shuffles; no joins, no windows."""
    body = F.regexp_replace(F.col(text_col), "\r", "")
    lines = F.split(body, "\n")
    n_lines = F.size(lines).cast("long")
    indent = F.size(
        F.filter(lines, lambda x: x.startswith("    ") | x.startswith("\t"))
    ).cast("long")
    punct = F.size(
        F.filter(
            lines,
            lambda x: F.substring(F.rtrim(x), -1, 1).isin(";", "{", "}", ")"),
        )
    ).cast("long")
    chars = F.length(body).cast("long")
    syms = (
        chars - F.length(F.regexp_replace(body, "[\\[\\]{}();=<>]", ""))
    ).cast("long")
    kws = [
        "def ", "return", "import ", "#include", "function",
        "public ", "void ", "=>", "==",
    ]
    kw_hits = sum(
        F.when(F.instr(body, kw) > 0, 1).otherwise(0) for kw in kws
    ).cast("long")
    score = (
        (100 * indent >= 15 * n_lines).cast("long")
        + (100 * punct >= 20 * n_lines).cast("long")
        + ((chars > 0) & (100 * syms >= 5 * chars)).cast("long")
        + (kw_hits >= 2).cast("long")
        + (kw_hits >= 4).cast("long")
    )
    per = df.select(
        F.col(group_col).alias("grp"),
        score.alias("__s"),
        (score >= 3).cast("long").alias("__c"),
    )
    g = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__c").cast("long").alias("code_docs"),
        F.sum("__s").cast("long").alias("__ss"),
    )
    return g.select(
        "grp",
        "n_docs",
        "code_docs",
        _round6_ratio(F.col("code_docs"), F.col("n_docs")).alias("code_frac"),
        _round6_ratio(F.col("__ss"), F.col("n_docs")).alias("mean_score"),
    )


def link_density(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source link/domain audit — the RefinedWeb-style signal that
    separates prose from link farms and navigation boilerplate before
    mix decisions: URL count, linking-doc share, distinct domains, and
    links per kilochar. Extraction regex ``https?://[A-Za-z0-9.-]+``
    stays inside the engine-agreed Java/RE2 subset (pure ASCII class,
    no \\s, no anchors); domains lowercase via plain lower() — safe
    because the match class excludes every SpecialCasing hazard.

    All outputs exact integer counts / count ratios. Scale shape: one
    map-only extract per doc, one per-source combiner aggregate plus a
    (source, domain)-grain distinct for the domain count. Raw text
    never shuffles."""
    urls = F.regexp_extract_all(
        F.col(text_col), F.lit("https?://[A-Za-z0-9.-]+"), 0
    )
    per = df.select(
        F.col(group_col).alias("grp"),
        F.size(urls).cast("long").alias("__l"),
        F.length(F.col(text_col)).cast("long").alias("__c"),
        urls.alias("__u"),
    )
    g = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("__l") > 0).cast("long")).cast("long").alias("link_docs"),
        F.sum("__l").cast("long").alias("n_links"),
        F.sum("__c").cast("long").alias("__chars"),
    )
    doms = (
        per.select(
            "grp",
            F.explode("__u").alias("__url"),
        )
        .select(
            "grp",
            F.lower(
                F.regexp_replace(F.col("__url"), "^https?://", "")
            ).alias("__d"),
        )
        .distinct()
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("n_domains"))
    )
    return (
        g.join(doms, "grp", "left")
        .select(
            "grp",
            "n_docs",
            "link_docs",
            "n_links",
            F.coalesce(F.col("n_domains"), F.lit(0)).cast("long").alias("n_domains"),
            _round6_ratio(F.col("link_docs"), F.col("n_docs")).alias("link_doc_frac"),
            _round6_ratio(
                F.lit(1000) * F.col("n_links"),
                F.greatest(F.col("__chars"), F.lit(1)),
            ).alias("links_per_kchar"),
        )
    )


def markup_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source markdown/markup structure audit — the router signal
    that decides whether a feed needs markup STRIPPING before quality
    scoring (headings, list bullets, tables and blockquotes wreck
    punctuation/stopword heuristics tuned for prose, and fenced code
    blocks should route to the code pipeline instead): counts of
    heading / list / table / blockquote lines, fenced-code-block
    pairs, and the share of docs carrying any markup.

    Every signal is a literal-prefix or anchored-ASCII-regex line
    test over the '\\r'-stripped '\\n' split (CRLF-safe; `^[0-9]+[.] `
    behaves identically in Java and RE2 — no \\s, no $). All outputs
    exact integer counts and count ratios.

    Scale shape: one map-only per-doc projection, one per-source
    combiner aggregate. No joins, no windows; text never shuffles."""
    body = F.regexp_replace(F.col(text_col), "\r", "")
    lines = F.split(body, "\n")
    n_lines = F.size(lines).cast("long")

    def nlines(pred):
        return F.size(F.filter(lines, pred)).cast("long")

    heads = nlines(lambda x: x.startswith("#"))
    lists = nlines(
        lambda x: x.startswith("- ")
        | x.startswith("* ")
        | x.rlike("^[0-9]+[.] ")
    )
    tables = nlines(lambda x: x.startswith("|"))
    quotes = nlines(lambda x: x.startswith("> "))
    fences = (
        (F.length(body) - F.length(F.regexp_replace(body, "```", "")))
        / F.lit(3)
    ).cast("long")
    fence_pairs = F.floor(fences / F.lit(2)).cast("long")
    per = df.select(
        F.col(group_col).alias("grp"),
        n_lines.alias("__n"),
        heads.alias("__h"),
        lists.alias("__l"),
        tables.alias("__t"),
        quotes.alias("__q"),
        fence_pairs.alias("__f"),
        ((heads + lists + tables + quotes > 0) | (fences >= 2))
        .cast("long")
        .alias("__any"),
    )
    g = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__any").cast("long").alias("markup_docs"),
        F.sum("__h").cast("long").alias("heading_lines"),
        F.sum("__l").cast("long").alias("list_lines"),
        F.sum("__t").cast("long").alias("table_lines"),
        F.sum("__q").cast("long").alias("quote_lines"),
        F.sum("__f").cast("long").alias("code_fences"),
        F.sum("__n").cast("long").alias("__lines"),
    )
    return g.select(
        "grp",
        "n_docs",
        "markup_docs",
        "heading_lines",
        "list_lines",
        "table_lines",
        "quote_lines",
        "code_fences",
        _round6_ratio(F.col("markup_docs"), F.col("n_docs")).alias("markup_frac"),
        _round6_ratio(
            F.col("heading_lines") + F.col("list_lines") + F.col("table_lines")
            + F.col("quote_lines"),
            F.greatest(F.col("__lines"), F.lit(1)),
        ).alias("markup_line_frac"),
    )


def language_mix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_words: int = 5,
) -> DataFrame:
    """Mixed-language document detector — the segment-grain
    disagreement audit behind every "docs are 98% en" claim: a crawl
    page with an English banner over German body text gets ONE
    doc-grain label, and the wrong half silently poisons a
    monolingual corpus. Runs the repo's stopword-panel heuristic
    (``language_id``, same panels, same tie rule) on every LINE with
    at least ``min_words`` words and reports, per source: docs with
    ≥2 eligible segments, docs whose segments disagree on a non-'und'
    language, and the mixed-doc fraction.

    Exactness: panel hit counts and word counts are exact integers;
    the per-segment argmax compares exact-integer-derived doubles
    with the lexicographic tie rule mirrored; all outputs are counts
    and exact count ratios.

    Scale shape: one map-only line explode + per-line scoring (no
    regex leaves codegen), a (doc)-grain combiner aggregate, a
    source-grain rollup left-joined back to the full doc count (docs
    with no eligible segment stay in the denominator)."""
    body = F.regexp_replace(F.col(text_col), "\r", "")
    segs = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("__id"),
        F.explode(F.split(body, "\n")).alias("__p"),
    ).where(word_count(F.col("__p")) >= min_words)
    t = agree_lower(F.col("__p"))
    words = F.greatest(word_count(F.col("__p")), F.lit(1))
    scores = [
        (lang, _count_matches(t, _word_pattern(panel)) / words)
        for lang, panel in sorted(STOPWORDS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.when(best <= 0, F.lit("und"))
    for lang, s in scores:
        pred = pred.when(s == best, F.lit(lang))
    per_doc = segs.select("grp", "__id", pred.alias("__pred")).groupBy(
        "grp", "__id"
    ).agg(
        F.count("*").cast("long").alias("__nseg"),
        F.countDistinct(
            F.when(F.col("__pred") != "und", F.col("__pred"))
        ).cast("long").alias("__nlang"),
    )
    rolled = per_doc.groupBy("grp").agg(
        F.sum((F.col("__nseg") >= 2).cast("long")).cast("long").alias("multi_seg_docs"),
        F.sum((F.col("__nlang") >= 2).cast("long")).cast("long").alias("mixed_docs"),
    )
    alldocs = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return alldocs.join(rolled, "grp", "left").select(
        "grp",
        "n_docs",
        F.coalesce(F.col("multi_seg_docs"), F.lit(0)).cast("long").alias("multi_seg_docs"),
        F.coalesce(F.col("mixed_docs"), F.lit(0)).cast("long").alias("mixed_docs"),
        _round6_ratio(
            F.coalesce(F.col("mixed_docs"), F.lit(0)), F.col("n_docs")
        ).alias("mixed_frac"),
    )


def char_rep_rate(
    df: DataFrame,
    k: int = 10,
    stride: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Gopher-style repeated-substring rate at CHARACTER grain (Rae et
    al. 2021, arXiv:2112.11446 §A1.1 "fraction of characters in
    duplicate n-grams", the dup-10-gram rule): per group, the fraction
    of sampled k-char windows whose k-gram occurs ≥ 2 times WITHIN its
    document — the repetition signal that catches looping generations,
    boilerplate stutter and scraper echo that WORD-gram repetition
    (``repetition_stats``) misses when the repeat crosses token
    boundaries (e.g. digit runs, markup). Suffix-automaton-free: the
    strided window sample is the published rule's practical form.

    ``stride`` is the scale knob: positions 1, 1+stride, … — stride=1
    is the exact Gopher statistic at a k× char blowup, stride=k is
    non-overlapping coverage at ~1× (what a 100 TB run uses; the
    default 4 keeps the sample dense at 2.5× for the audit grain this
    runs at). Both engines window by CODE POINTS (Spark substring and
    DuckDB substr are both codepoint-addressed — the byte-vs-codepoint
    hazard only bites byte-denominated oracles, r7 lesson).

    Output per group: n_docs (docs with ≥ 1 window, i.e. length ≥ k),
    n_grams (sampled windows), dup_grams (windows whose gram repeats
    in-doc), rep_rate = dup_grams/n_grams (exact integer ratio;
    -1.0 sentinel for groups with no eligible doc — never NULL).

    Scale shape: the window explode is map-side (Generate, ~len/stride
    rows per doc); the first shuffle groups (doc, gram) with map-side
    combine, the second is |groups|-sized. No joins over raw text; the
    all-groups spine join is a broadcast."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("grp"),
        F.col(text_col).alias("__t"),
    )
    pos = (
        base.where(F.length("__t") >= k)
        .select(
            "__id",
            "grp",
            "__t",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("__t") - F.lit(k - 1), F.lit(stride)
                )
            ).alias("__p"),
        )
        .select("__id", "grp", F.expr(f"substring(__t, __p, {k})").alias("__g"))
    )
    pg = pos.groupBy("__id", "grp", "__g").agg(
        F.count("*").cast("long").alias("__c")
    )
    per = pg.groupBy("grp").agg(
        F.count_distinct(F.col("__id")).cast("long").alias("__nd"),
        F.sum("__c").cast("long").alias("__np"),
        F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("__dup"),
    )
    allg = df.select(F.col(group_col).alias("grp")).distinct()
    return allg.join(F.broadcast(per), "grp", "left").select(
        "grp",
        F.coalesce(F.col("__nd"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("__np"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("dup_grams"),
        F.when(
            F.col("__np").isNotNull(),
            _round6_ratio(F.coalesce(F.col("__dup"), F.lit(0)), F.col("__np")),
        )
        .otherwise(F.lit(-1.0))
        .alias("rep_rate"),
    )


def boilerplate_roi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_docs: int = 3,
) -> DataFrame:
    """Boilerplate-line removal ROI per source — the CCNet/RefinedWeb
    line-grain dedup simulation (Wenzek et al. 2020 strip lines seen
    in many documents; Penedo et al. 2023 §3.2 line-wise filters).
    A line is boilerplate when it appears in >= ``min_docs`` DISTINCT
    documents (cookie banners, nav menus, license footers); this
    reports, per source, how many line instances and characters a
    strip pass would remove and how many documents it would touch —
    the table that decides whether line-dedup is worth a pipeline
    stage for a given feed, BEFORE running it. Line grain complements
    ``dup_line_stats`` (within-doc runs) and ``paragraph_dedup_stats``
    (paragraph grain).

    Lines split on \\n; a line of only spaces is empty and ignored
    (the dup_line_stats convention). Output per source: (grp, n_lines,
    bp_lines, line_share, n_chars, bp_chars, char_share,
    docs_affected); sources with no non-empty lines report 0
    sentinels. Shares are exact integer count ratios.

    Scale shape: lines hash to (doc, digest, len) map-side so raw line
    text never shuffles; document frequency is one digest-key
    aggregate; the boilerplate set joins back by digest (hash join on
    a 32-byte key). No windows, no quadratics; the ROI table is
    |sources| rows."""
    lines = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("__l"),
    ).where(F.length(F.trim(F.col("__l"))) > 0)
    hashed = lines.select(
        "grp",
        F.col(id_col),
        F.md5(F.col("__l")).alias("__h"),
        F.length("__l").alias("__len"),
    )
    bp = (
        hashed.select(F.col(id_col), "__h")
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__nd"))
        .where(F.col("__nd") >= int(min_docs))
        .select("__h", F.lit(True).alias("__bp"))
    )
    marked = hashed.join(bp, "__h", "left").withColumn(
        "__isbp", F.coalesce(F.col("__bp"), F.lit(False))
    )
    agg = marked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("__isbp"), 1).otherwise(0)).cast("long").alias("bp_lines"),
        F.sum("__len").cast("long").alias("n_chars"),
        F.sum(F.when(F.col("__isbp"), F.col("__len")).otherwise(0))
        .cast("long")
        .alias("bp_chars"),
        F.count_distinct(F.when(F.col("__isbp"), F.col(id_col)))
        .cast("long")
        .alias("docs_affected"),
    )
    srcs = df.select(F.col(group_col).alias("grp")).distinct()
    return srcs.join(agg, "grp", "left").select(
        "grp",
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.col("bp_lines"), F.lit(0)).cast("long").alias("bp_lines"),
        _round6_ratio(
            F.coalesce(F.col("bp_lines"), F.lit(0)),
            F.greatest(F.coalesce(F.col("n_lines"), F.lit(0)), F.lit(1)),
        ).alias("line_share"),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.col("bp_chars"), F.lit(0)).cast("long").alias("bp_chars"),
        _round6_ratio(
            F.coalesce(F.col("bp_chars"), F.lit(0)),
            F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1)),
        ).alias("char_share"),
        F.coalesce(F.col("docs_affected"), F.lit(0))
        .cast("long")
        .alias("docs_affected"),
    )


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    vocab_size: int = 256,
) -> DataFrame:
    """Per-source OOV / byte-fallback rate under a FIXED top-V vocab —
    the SentencePiece/BPE coverage audit (Kudo & Richardson 2018's
    character-coverage knob, measured instead of assumed): fit the
    vocabulary as the corpus's ``vocab_size`` most frequent tokens
    (the engine's BPE-ish token model), then per source report how
    many token occurrences fall outside it and what byte-fallback
    encoding (every OOV token re-emitted as its UTF-8 bytes, one
    token per byte — the Llama/GPT-NeoX fallback rule) does to the
    source's token budget. A source with 2x inflation is exotic
    script/code/mojibake that will silently eat the context window —
    the per-source sibling of ``token_fertility`` (per language, vs
    words) and ``tokenizer_drift`` (chars/token, vocab-free).

    Vocabulary ties at the cut rank break on (count DESC, md5(token)).
    md5 hex order is engine-identical UNCONDITIONALLY; raw-string
    order also agrees today (engine-probed r12: Spark's default
    UTF8_BINARY collation compares UTF-8 BYTES, same as DuckDB —
    NOT Java's UTF-16 code-unit order, which would flip
    supplementary-plane tokens against U+E000..U+FFFF ones;
    tests/test_string_order_probe.py pins the fact), but md5 keeps
    the tie-break independent of any future collation default.

    Output per source: (grp, n_tokens, oov_tokens, oov_rate,
    fallback_tokens, inflation); fallback_tokens = in-vocab
    occurrences + UTF-8 bytes of OOV occurrences; rates are exact
    integer ratios with 0.0 sentinels for token-free sources.

    Scale shape: tokenization is map-only; token counts aggregate
    with map-side combine; the vocab rank window runs at VOCAB grain
    (distinct tokens, never corpus volume — the vocab_coverage
    precedent) and the resulting V-row vocab BROADCASTS into the
    per-source probe join. Only (source, token-digest) aggregates
    shuffle."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.regexp_extract_all(
                agree_lower(F.col(text_col)), F.lit(TOKEN_REGEX), F.lit(0)
            )
        ).alias("__t"),
    )
    counts = toks.groupBy("__t").agg(F.count("*").alias("__n"))
    w = Window.orderBy(F.col("__n").desc(), F.md5(F.col("__t")))
    vocab = (
        counts.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= int(vocab_size))
        .select("__t", F.lit(True).alias("__inv"))
    )
    probed = toks.join(F.broadcast(vocab), "__t", "left").select(
        "grp",
        F.coalesce(F.col("__inv"), F.lit(False)).alias("__inv"),
        F.octet_length("__t").alias("__bytes"),
    )
    agg = probed.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__inv"), 0).otherwise(1)).cast("long").alias("oov_tokens"),
        F.sum(F.when(F.col("__inv"), F.lit(1)).otherwise(F.col("__bytes")))
        .cast("long")
        .alias("fallback_tokens"),
    )
    srcs = df.select(F.col(group_col).alias("grp")).distinct()
    return srcs.join(agg, "grp", "left").select(
        "grp",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("oov_tokens"), F.lit(0)).cast("long").alias("oov_tokens"),
        _round6_ratio(
            F.coalesce(F.col("oov_tokens"), F.lit(0)),
            F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)), F.lit(1)),
        ).alias("oov_rate"),
        F.coalesce(F.col("fallback_tokens"), F.lit(0))
        .cast("long")
        .alias("fallback_tokens"),
        _round6_ratio(
            F.coalesce(F.col("fallback_tokens"), F.lit(0)),
            F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)), F.lit(1)),
        ).alias("inflation"),
    )


def contamination_matrix(
    df: DataFrame,
    bench_df: DataFrame,
    bench_col: str = "benchmark",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark-PAIR contamination overlap matrix — which eval suites
    share contaminated training documents. ``contamination_by_
    benchmark`` says each suite's hit count; this says whether two
    suites' hits are the SAME documents (one shared crawl of an eval
    hub — fix the source) or disjoint sets (independent leaks — fix
    each). The pairwise composition of the GPT-3/PaLM per-benchmark
    contamination tables.

    For every unordered benchmark pair: the two per-suite contaminated
    doc counts, the count contaminated by BOTH, and the Jaccard of the
    two doc sets. Zero-overlap pairs still appear (0 / 0.0 sentinels;
    jaccard is 0.0 when both sets are empty — the union denominator
    sentinel rule).

    Scale shape: benchmark gram sets broadcast (tiny vs corpus); the
    probe is the contamination_by_benchmark map-side hash join; after
    it only (benchmark, doc_id) DISTINCT hit rows exist — |suites|·
    |hit docs| grain — and the pair overlap is a self-join on doc_id
    over that hit table. Corpus text never shuffles."""

    def grams(frame, keep):
        return frame.select(
            *keep,
            F.explode(
                F.array_distinct(word_ngrams(word_tokens(F.col(text_col)), n))
            ).alias("__g"),
        )

    bench = grams(bench_df, [F.col(bench_col).alias("__b")]).distinct()
    hits = (
        grams(df, [F.col(id_col)])
        .join(F.broadcast(bench), "__g")
        .select("__b", F.col(id_col))
        .distinct()
    )
    sizes = hits.groupBy("__b").agg(F.count("*").cast("long").alias("__sz"))
    universe = bench_df.select(F.col(bench_col).alias("__b")).distinct()
    ua = universe.select(F.col("__b").alias("bench_a"))
    ub = universe.select(F.col("__b").alias("bench_b"))
    pairs = ua.join(ub, F.col("bench_a") < F.col("bench_b"))
    both = (
        hits.select(F.col("__b").alias("bench_a"), F.col(id_col))
        .join(hits.select(F.col("__b").alias("bench_b"), F.col(id_col)), id_col)
        .where(F.col("bench_a") < F.col("bench_b"))
        .groupBy("bench_a", "bench_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    za = sizes.select(F.col("__b").alias("bench_a"), F.col("__sz").alias("n_a"))
    zb = sizes.select(F.col("__b").alias("bench_b"), F.col("__sz").alias("n_b"))
    out = (
        pairs.join(both, ["bench_a", "bench_b"], "left")
        .join(za, "bench_a", "left")
        .join(zb, "bench_b", "left")
        .select(
            "bench_a",
            "bench_b",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
            F.coalesce(F.col("n_both"), F.lit(0)).cast("long").alias("n_both"),
        )
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return out.withColumn(
        "jaccard",
        F.when(uni > 0, _round6_ratio(F.col("n_both"), uni)).otherwise(F.lit(0.0)),
    )


def instruction_detect(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source instruction/chat-format detection — ``code_detect``'s
    sibling for the other special modality a pretraining mix must
    route: docs already shaped as instruction/dialogue data (forum
    Q&A dumps, leaked chat templates, self-instruct artifacts) skew
    instruction-following evals if they leak into the base mix
    unlabeled, and are exactly what a curation pass wants to FIND for
    the SFT mix. A doc scores one point per structural signal and is
    flagged at >= 3 of 5:

    - >= 2 distinct template markers present, and >= 4 for the 2nd
      point ('### Instruction', '### Response', 'User:', 'Assistant:',
      'Human:', 'Q:', 'A:', '[INST]', '<|im_start|>' — case-sensitive
      literals, no casing hazards),
    - >= 4 turn lines (lines starting with a role prefix 'Q:' 'A:'
      'User:' 'Assistant:' 'Human:'),
    - turn lines >= 15% of lines,
    - '?' density >= 1% of characters.

    Every signal is an integer cross-multiplied threshold (no
    division, no floats); lines split on literal \\n after \\r
    removal (CRLF-safe, the code_detect convention); '?' counts via
    translate() (single table-lookup pass). Output ratios are exact
    count ratios via ``_round6_ratio``.

    Scale shape: one map-only projection (all signals per doc in one
    pass), one per-source combiner aggregate. Raw text never
    shuffles; no joins, no windows."""
    body = F.regexp_replace(F.col(text_col), "\r", "")
    lines = F.split(body, "\n")
    n_lines = F.size(lines).cast("long")
    markers = [
        "### Instruction", "### Response", "User:", "Assistant:",
        "Human:", "Q:", "A:", "[INST]", "<|im_start|>",
    ]
    kw_hits = sum(
        F.when(F.instr(body, kw) > 0, 1).otherwise(0) for kw in markers
    ).cast("long")
    role_prefixes = ("Q:", "A:", "User:", "Assistant:", "Human:")
    is_turn = lambda x: (  # noqa: E731
        x.startswith("Q:")
        | x.startswith("A:")
        | x.startswith("User:")
        | x.startswith("Assistant:")
        | x.startswith("Human:")
    )
    turns = F.size(F.filter(lines, is_turn)).cast("long")
    chars = F.length(body).cast("long")
    qmarks = (chars - F.length(F.translate(body, "?", ""))).cast("long")
    score = (
        (kw_hits >= 2).cast("long")
        + (kw_hits >= 4).cast("long")
        + (turns >= 4).cast("long")
        + ((n_lines > 0) & (100 * turns >= 15 * n_lines)).cast("long")
        + ((chars > 0) & (100 * qmarks >= chars)).cast("long")
    )
    per = df.select(
        F.col(group_col).alias("grp"),
        score.alias("__s"),
        (score >= 3).cast("long").alias("__c"),
    )
    g = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__c").cast("long").alias("inst_docs"),
        F.sum("__s").cast("long").alias("__ss"),
    )
    return g.select(
        "grp",
        "n_docs",
        "inst_docs",
        _round6_ratio(F.col("inst_docs"), F.col("n_docs")).alias("inst_frac"),
        _round6_ratio(F.col("__ss"), F.col("n_docs")).alias("mean_score"),
    )


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """First-iteration BPE merge candidates — the tokenizer-TRAINING
    side of the token-model family (everything else here APPLIES a
    token model; this is step 1 of fitting one): the corpus's most
    frequent adjacent character pairs inside words, weighted by word
    frequency — exactly the pair counts the first BPE merge ranks
    (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    with Subword Units", alg. 1). Read it to see what the first
    merges WOULD be — a corpus whose top pairs are digit-digit or
    mojibake byte pairs is telling you its token model will waste
    merges on noise.

    Returns the top ``k``: (rank, pair, pair_count). Ranking ties
    break on the raw pair string — safe across engines (UTF8_BINARY
    == DuckDB byte order, pinned in tests/test_string_order_probe.py).

    Scale shape: word counts aggregate map-side; pairs explode from
    DISTINCT words only (vocab grain, not corpus volume) with the
    count as multiplicity weight; the final top-k is one
    TakeOrdered over pair-grain aggregates. Raw text never shuffles."""
    words = df.select(
        F.explode(word_tokens(F.col(text_col))).alias("__w")
    ).where(F.length("__w") > 0)
    wcounts = words.groupBy("__w").agg(F.count("*").alias("__n"))
    pairs = wcounts.select(
        "__n",
        F.explode(
            F.when(
                F.length("__w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("__w") - 1),
                    lambda i: F.col("__w").substr(i, F.lit(2)),
                ),
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("__n").cast("long").alias("pair_count")
    )
    top = agg.orderBy(F.col("pair_count").desc(), F.col("pair")).limit(int(k))
    from pyspark.sql.window import Window

    # rank over the k-row top slice only (bounded window, never corpus)
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "pair",
        "pair_count",
    )


def _facility_gram_table(df, text_col, id_col, n, sample_docs):
    """Bounded (doc, gram-digest) table for the greedy coverage loop:
    ``sample_docs`` lowest ids via one top-k, distinct word n-grams
    per doc, digest grain (raw grams never shuffle past this map)."""
    capped = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(id_col)
        .limit(int(sample_docs))
    )
    grams = capped.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(word_tokens(F.col(text_col)), n))
        ).alias("__g"),
    ).select(F.col(id_col), F.md5(F.col("__g")).alias("__g"))
    return capped, grams


def _facility_step(capped, grams, selected, covered, id_col) -> DataFrame:
    """One greedy argmax step as a 1-row DataFrame (uncollected):
    anti-join away covered grams, count gains per unselected doc,
    re-add zero-gain docs via the doc spine, take the (gain desc,
    id asc) top-1. Exposed un-looped so plan_audit can audit the
    actual per-step plan (ADVICE r12 — the looped query's output is a
    LocalTableScan by construction)."""
    cand = grams
    if selected:
        cand = cand.where(~F.col(id_col).isin(selected))
    if covered is not None:
        cand = cand.join(covered, "__g", "left_anti")
    gains = cand.groupBy(id_col).agg(F.count("*").alias("__gain"))
    # zero-gain docs drop out of `gains`; re-add unselected docs so
    # the trace always has min(k, n_docs) rows
    spine = capped.select(F.col(id_col)).where(
        ~F.col(id_col).isin(selected) if selected else F.lit(True)
    )
    return (
        spine.join(gains, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__gain"), F.lit(0)).alias("__gain"),
        )
        .orderBy(F.col("__gain").desc(), F.col(id_col))
        .limit(1)
    )


def facility_first_step(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    sample_docs: int = 64,
) -> DataFrame:
    """The FIRST greedy step of :func:`facility_select` as an
    uncollected 1-row DataFrame — the plan-audit surface: later steps
    run the same shape plus a bounded left-anti join on covered
    digests, so this plan is the one that must stay cartesian-free."""
    capped, grams = _facility_gram_table(df, text_col, id_col, n, sample_docs)
    return _facility_step(capped, grams, [], None, id_col)


def facility_select(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    sample_docs: int = 64,
) -> DataFrame:
    """Greedy max-coverage document selection — the facility-location
    subset-selection audit (Nemhauser et al. 1978 greedy, the
    submodular-coreset recipe of data-selection literature): from a
    bounded doc sample, pick ``k`` documents one at a time, each
    maximizing the count of corpus word n-grams not yet covered by
    the picks so far. The output trace (pick order, marginal gain,
    cumulative coverage) is the diminishing-returns curve that says
    how much lexical diversity a k-doc subset can hold — flat early
    gains mean the sample is redundant; the 1−1/e guarantee makes the
    greedy trace the standard reference curve.

    Ties break on min doc_id; zero-gain steps still pick, so the
    trace stays min(k, n_docs) rows (k when the sample has at least k
    docs; one row per doc otherwise — deterministic on any input).
    Returns (step, doc_id, gain, covered) with covered = cumulative
    distinct grams.

    Scale shape: a bounded audit (the minhash_scurve id-cap pattern):
    ``sample_docs`` lowest ids via one top-k, gram sets at (doc,
    gram-digest) grain, then ``k`` driver steps, each one anti-join +
    argmax over the bounded gram table (collecting ONE scalar row per
    step — the bfs_reach single-scalar precedent, never data-scale
    collect)."""
    capped, grams = _facility_gram_table(df, text_col, id_col, n, sample_docs)
    grams = grams.localCheckpoint(eager=True)
    selected: list = []
    covered = None  # DataFrame of covered gram digests
    rows = []
    total = 0
    for step in range(1, int(k) + 1):
        pick = _facility_step(capped, grams, selected, covered, id_col).collect()
        if not pick:  # fewer than k docs in the sample
            break
        doc, gain = int(pick[0][0]), int(pick[0][1])
        selected.append(doc)
        total += gain
        rows.append((step, doc, gain, total))
        newly = grams.where(F.col(id_col) == doc).select("__g")
        covered = (
            newly if covered is None else covered.union(newly).distinct()
        ).localCheckpoint(eager=True)
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "step long, doc_id long, gain long, covered long"
    )


def vocab_size_sweep(
    df: DataFrame,
    text_col: str = "text",
    sizes=(4, 12, 24),
) -> DataFrame:
    """Corpus-level OOV / byte-fallback curve across NESTED top-V
    vocabulary cuts — the tokenizer vocab-size sizing audit
    (Kudo & Richardson 2018's coverage knob swept instead of fixed;
    the V axis of :func:`oov_rate` the way ``sig_size_sweep`` is the
    signature-size axis of ``minhash_calibration``): one token
    frequency pass fits every vocabulary at once (a top-V cut is a
    rank filter, so V₁ < V₂ ⇒ vocab(V₁) ⊂ vocab(V₂)), then each cut
    reports what byte-fallback encoding of its OOV mass does to the
    corpus token budget. Read the curve to pick V: the knee where
    inflation stops falling is the vocab size the corpus actually
    needs.

    Vocabulary ties at each cut rank break on (count DESC,
    md5(token)) — identical to ``oov_rate`` (md5 keeps the tie-break
    collation-proof).

    Output per V (one row per size, ascending): (vocab_size,
    vocab_types, n_tokens, oov_tokens, oov_rate, fallback_tokens,
    inflation); vocab_types = min(V, distinct tokens);
    fallback_tokens = in-vocab occurrences + UTF-8 bytes of OOV
    occurrences; rates are exact integer ratios with 1-denominators
    guarding the empty corpus.

    Scale shape: tokenization is map-only; instance counts aggregate
    with map-side combine to TOKEN grain (distinct tokens, never
    corpus volume), carrying (n_instances, bytes_per_instance); the
    rank window and the |sizes|-way fan-out both run at that vocab
    grain, so the sweep costs ONE corpus pass regardless of how many
    sizes it reports."""
    from pyspark.sql.window import Window

    sizes = sorted(int(v) for v in sizes)
    toks = df.select(
        F.explode(
            F.regexp_extract_all(
                agree_lower(F.col(text_col)), F.lit(TOKEN_REGEX), F.lit(0)
            )
        ).alias("__t")
    )
    counts = toks.groupBy("__t").agg(F.count("*").alias("__n"))
    w = Window.orderBy(F.col("__n").desc(), F.md5(F.col("__t")))
    ranked = counts.select(
        F.row_number().over(w).alias("__rk"),
        "__n",
        F.octet_length("__t").alias("__bytes"),
    )
    fanned = ranked.select(
        F.explode(F.array(*[F.lit(v) for v in sizes])).alias("vocab_size"),
        "__rk",
        "__n",
        "__bytes",
    )
    agg = fanned.groupBy("vocab_size").agg(
        F.sum(F.when(F.col("__rk") <= F.col("vocab_size"), 1).otherwise(0))
        .cast("long")
        .alias("vocab_types"),
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum(
            F.when(F.col("__rk") <= F.col("vocab_size"), 0).otherwise(F.col("__n"))
        )
        .cast("long")
        .alias("oov_tokens"),
        F.sum(
            F.when(F.col("__rk") <= F.col("vocab_size"), F.col("__n")).otherwise(
                F.col("__n") * F.col("__bytes")
            )
        )
        .cast("long")
        .alias("fallback_tokens"),
    )
    # |sizes|-row spine: a token-free corpus still yields one row per
    # size (all-zero counters), never an empty / NULL-bearing frame
    spine = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in sizes])).alias("vocab_size")
    )
    return (
        spine.join(agg, "vocab_size", "left")
        .select(
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.coalesce(F.col("vocab_types"), F.lit(0)).cast("long").alias("vocab_types"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("oov_tokens"), F.lit(0)).cast("long").alias("oov_tokens"),
            _round6_ratio(
                F.coalesce(F.col("oov_tokens"), F.lit(0)),
                F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)), F.lit(1)),
            ).alias("oov_rate"),
            F.coalesce(F.col("fallback_tokens"), F.lit(0))
            .cast("long")
            .alias("fallback_tokens"),
            _round6_ratio(
                F.coalesce(F.col("fallback_tokens"), F.lit(0)),
                F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)), F.lit(1)),
            ).alias("inflation"),
        )
        .orderBy("vocab_size")
    )


def license_audit(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source license / opt-out signal panel — The Stack's
    license-filter measurement (Kocetkov et al. 2022 filtered by
    detected license; the BigCode/StarCoder opt-out mechanism made
    "did the author say no" a first-class pipeline column): detect,
    per doc, (a) an SPDX-License-Identifier tag, (b) a copyright
    notice, (c) permissive-license phrases (MIT/Apache/BSD/CC/public
    domain), (d) restrictive phrases (all rights reserved /
    proprietary / confidential), (e) AI-training opt-out phrases
    (do not train / noai). Per source: doc counts carrying each
    signal + shares. The restrictive/opt-out shares are the mass a
    compliance-filtered training set loses per source; a source with
    high copyright but zero SPDX is licensed-but-unparseable.

    Detection is LOWERCASED SUBSTRING ONLY (agree_lower on the Spark
    side; plain lower in oracles) — no regex, so there is no
    Java-vs-RE2 dialect surface at all.

    Output per source: (grp, n_docs, n_spdx, n_copyright,
    n_permissive, n_restrictive, n_optout, restrictive_share,
    optout_share) with exact integer ratios.

    Scale shape: one map-only panel projection per doc, one
    per-source combiner aggregate (code_detect's shape) — no joins,
    no windows; text never shuffles."""
    low = agree_lower(F.col(text_col))

    def has(*needles):
        cond = F.lit(False)
        for n in needles:
            cond = cond | F.contains(low, F.lit(n))
        return F.when(cond, 1).otherwise(0)

    panel = df.select(
        F.col(group_col).alias("grp"),
        has("spdx-license-identifier:").alias("__spdx"),
        has("copyright", "©").alias("__cr"),
        has(
            "mit license",
            "apache license",
            "bsd license",
            "creative commons",
            "public domain",
        ).alias("__perm"),
        has("all rights reserved", "proprietary", "confidential").alias(
            "__restr"
        ),
        has("do not train", "noai").alias("__opt"),
    )
    agg = panel.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__spdx").cast("long").alias("n_spdx"),
        F.sum("__cr").cast("long").alias("n_copyright"),
        F.sum("__perm").cast("long").alias("n_permissive"),
        F.sum("__restr").cast("long").alias("n_restrictive"),
        F.sum("__opt").cast("long").alias("n_optout"),
    )
    return agg.select(
        "grp",
        "n_docs",
        "n_spdx",
        "n_copyright",
        "n_permissive",
        "n_restrictive",
        "n_optout",
        _round6_ratio(F.col("n_restrictive"), F.col("n_docs")).alias(
            "restrictive_share"
        ),
        _round6_ratio(F.col("n_optout"), F.col("n_docs")).alias(
            "optout_share"
        ),
    )


def bpe_merge_chain(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 3,
) -> DataFrame:
    """Chained BPE merge iterations — the actual tokenizer-trainer
    loop (Sennrich et al. 2016 alg. 1, run ``iters`` rounds):
    ``bpe_merge_candidates`` ranks what the FIRST merge would be;
    this one APPLIES the winning merge to the vocabulary, re-counts
    adjacent symbol pairs (which now include the merged symbol), and
    repeats. The output trace (step, left_sym, right_sym, merged,
    pair_count) is the head of the merge table a BPE tokenizer ships;
    reading it tells you whether early merges spend on real morphemes
    or on noise (digit runs, mojibake) — per step, not just at t=0.

    Symbol representation: each word is encoded as
    ``\\x01 sym \\x02`` wrapped symbols concatenated (control chars
    stripped from words first, so symbol boundaries are unambiguous);
    applying merge (a, b) is then ONE literal string replace of
    ``\\x01a\\x02\\x01b\\x02`` with ``\\x01ab\\x02``. Because wrappers
    are disjoint, left-to-right non-overlapping replace gives the BPE
    convention exactly: "aaaa" under merge (a,a) → [aa][aa],
    "aaa" → [aa][a] — and replace() semantics are engine-identical
    (probed, incl. astral code points through the (.) encoder — see
    tests/test_round13_ops.py).

    Argmax ties break on (count DESC, left_sym, right_sym) — raw-
    string byte order, engine-agreed (test_string_order_probe).

    Scale shape: word counts aggregate map-side ONCE; every iteration
    runs at VOCAB grain (distinct words), with pair counts weighted
    by word frequency; each step collects ONE argmax row (the
    facility_select driver-step precedent) and re-encodes via a
    map-only replace over the checkpointed vocab table. Raw text
    never shuffles; corpus volume is touched exactly once."""
    S1, S2 = "\x01", "\x02"
    words = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("__w"))
        .select(F.translate(F.col("__w"), S1 + S2, "").alias("__w"))
        .where(F.length("__w") > 0)
    )
    wc = words.groupBy("__w").agg(F.count("*").alias("__n"))
    enc = wc.select(
        F.regexp_replace(F.col("__w"), "(.)", S1 + "$1" + S2).alias("__e"),
        "__n",
    ).localCheckpoint(eager=True)
    rows = []
    for step in range(1, int(iters) + 1):
        syms = F.transform(
            F.filter(F.split(F.col("__e"), S2), lambda x: x != ""),
            lambda x: F.replace(x, F.lit(S1), F.lit("")),
        )
        framed = enc.select(syms.alias("__s"), "__n")
        pairs = framed.select(
            "__n",
            F.explode(
                F.when(
                    F.size("__s") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__s") - 1),
                        lambda i: F.struct(
                            F.element_at("__s", i).alias("a"),
                            F.element_at("__s", i + 1).alias("b"),
                        ),
                    ),
                )
            ).alias("__p"),
        )
        agg = pairs.groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b")).agg(
            F.sum("__n").cast("long").alias("__c")
        )
        best = (
            agg.orderBy(F.col("__c").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary fully merged / single-symbol words only
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["__c"])
        rows.append((step, a, b, a + b, c))
        enc = enc.select(
            F.replace(
                F.col("__e"),
                F.lit(S1 + a + S2 + S1 + b + S2),
                F.lit(S1 + a + b + S2),
            ).alias("__e"),
            "__n",
        ).localCheckpoint(eager=True)
    spark = df.sparkSession
    return spark.createDataFrame(
        rows,
        "step long, left_sym string, right_sym string, merged string, pair_count long",
    )


def bpe_chain_first_pairs(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The FIRST iteration's pair-count frame of
    :func:`bpe_merge_chain`, uncollected — the plan-audit surface
    (the facility_first_step precedent: the looped query's output is
    a LocalTableScan by construction; later iterations run this same
    shape on the re-encoded vocab)."""
    S1, S2 = "\x01", "\x02"
    words = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("__w"))
        .select(F.translate(F.col("__w"), S1 + S2, "").alias("__w"))
        .where(F.length("__w") > 0)
    )
    wc = words.groupBy("__w").agg(F.count("*").alias("__n"))
    enc = wc.select(
        F.regexp_replace(F.col("__w"), "(.)", S1 + "$1" + S2).alias("__e"),
        "__n",
    )
    syms = F.transform(
        F.filter(F.split(F.col("__e"), S2), lambda x: x != ""),
        lambda x: F.replace(x, F.lit(S1), F.lit("")),
    )
    pairs = enc.select(syms.alias("__s"), "__n").select(
        "__n",
        F.explode(
            F.when(
                F.size("__s") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__s") - 1),
                    lambda i: F.struct(
                        F.element_at("__s", i).alias("a"),
                        F.element_at("__s", i + 1).alias("b"),
                    ),
                ),
            )
        ).alias("__p"),
    )
    return (
        pairs.groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.sum("__n").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("a"), F.col("b"))
        .limit(1)
    )


def contamination_ngram_sweep(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple = (2, 3, 4),
) -> DataFrame:
    """Decontamination n-gram-length sweep — the n axis of
    :func:`contamination_overlap` (GPT-3 appendix C used 13-gram
    collisions, The Pile 13, PaLM 8; every report tabulates how the
    flagged share moves with n before picking the cut): per n, how
    many docs share >= 1 distinct word n-gram with the benchmark and
    how much gram mass overlaps. Short n over-flags (common phrases);
    long n under-flags (only verbatim copies); the knee is the
    defensible cut for THIS corpus.

    Output one row per n: (ngram_n, n_docs, contaminated_docs,
    contaminated_share, overlap_grams) — exact integer ratio, zeros
    kept when an n flags nothing.

    Scale shape: per n, one benchmark gram set broadcast into a
    map-side probe of the exploded corpus grams (the
    contamination_overlap shape), then a 1-row rollup; the |ns|-row
    spine unions literals. Gram sets differ per n so the sweep costs
    |ns| corpus passes — each pass the proven broadcast-probe shape,
    never a shuffle join."""
    total = df.agg(F.count("*").alias("n_docs"))
    frames = []
    for n in ns:
        n = int(n)
        ov = contamination_overlap(
            df, bench_df, text_col=text_col, id_col=id_col, n=n
        )
        roll = ov.agg(
            F.count("*").cast("long").alias("contaminated_docs"),
            F.coalesce(F.sum("n_overlap"), F.lit(0))
            .cast("long")
            .alias("overlap_grams"),
        )
        frames.append(
            total.crossJoin(F.broadcast(roll)).select(
                F.lit(n).cast("long").alias("ngram_n"),
                F.col("n_docs").cast("long").alias("n_docs"),
                "contaminated_docs",
                _round6_ratio(
                    F.col("contaminated_docs"),
                    F.greatest(F.col("n_docs"), F.lit(1)),
                ).alias("contaminated_share"),
                "overlap_grams",
            )
        )
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group readability panel — Flesch Reading Ease and
    Flesch-Kincaid grade (Kincaid et al. 1975, the classic
    surface-form quality signals corpus filters bucket on) plus the
    Automated Readability Index (Senter & Smith 1967, the
    syllable-free variant). Counts per document over the canonical
    normalized form: words (whitespace tokens), sentence runs
    ([.!?]+, clamped to ≥ 1 — a terminator-free doc is one sentence),
    syllable proxy (vowel-run count [aeiouy]+ — digit-only words
    contribute 0, the standard orthographic heuristic), alnum chars.
    Zero-word documents are dropped on both engines (a readability
    score of nothing is undefined); n_docs counts what was scored.

    Each score is ONE exact signed integer rational per group over
    the SUMMED counts (never a mean of per-doc floats — that would be
    the midpoint class): with W words, S sentences, Y vowel runs, C
    alnum chars,
        flesch_re = (206835·S·W − 1015·W² − 84600·S·Y) / (1000·S·W)
        fk_grade  = (39·W² + 1180·S·Y − 1559·S·W)       / (100·S·W)
        ari       = (471·C·S + 50·W² − 2143·W·S)        / (100·W·S)
    routed through the signed DECIMAL(38,0) ratio (count products
    like 206835·S·W pass the BIGINT ceiling at corpus scale).

    Output: (group, n_docs, words, sentences, syll_runs, alnum_chars,
    wps, spw, flesch_re, fk_grade, ari) — wps/spw are the exact
    round-6 length ratios the scores are built from.

    Scale shape: map-only per-doc counting (regexp over each doc
    once), then one partial+final hash aggregate on the group key —
    no joins, no windows; the 100 TB plan is a single shuffle of
    5-long-column partial sums at group grain."""
    norm = F.trim(normalize_ws(F.col(text_col)))
    per_doc = df.select(
        F.col(group_col).alias("group"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("__w"),
        F.greatest(F.regexp_count(norm, F.lit(r"[.!?]+")), F.lit(1))
        .cast("long")
        .alias("__s"),
        F.regexp_count(norm, F.lit("[aeiouy]+")).cast("long").alias("__y"),
        F.length(F.regexp_replace(norm, "[^a-z0-9]", "")).cast("long").alias("__c"),
    ).where(F.col("__w") >= 1)
    agg = per_doc.groupBy("group").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__w").cast("long").alias("words"),
        F.sum("__s").cast("long").alias("sentences"),
        F.sum("__y").cast("long").alias("syll_runs"),
        F.sum("__c").cast("long").alias("alnum_chars"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    W, S, Y, C = (
        d(F.col("words")),
        d(F.col("sentences")),
        d(F.col("syll_runs")),
        d(F.col("alnum_chars")),
    )
    return agg.select(
        "group",
        "n_docs",
        "words",
        "sentences",
        "syll_runs",
        "alnum_chars",
        _round6_ratio(F.col("words"), F.col("sentences")).alias("wps"),
        _round6_ratio(F.col("syll_runs"), F.col("words")).alias("spw"),
        _round6_ratio_dec_signed(
            F.lit(206835) * S * W - F.lit(1015) * W * W - F.lit(84600) * S * Y,
            F.lit(1000) * S * W,
        ).alias("flesch_re"),
        _round6_ratio_dec_signed(
            F.lit(39) * W * W + F.lit(1180) * S * Y - F.lit(1559) * S * W,
            F.lit(100) * S * W,
        ).alias("fk_grade"),
        _round6_ratio_dec_signed(
            F.lit(471) * C * S + F.lit(50) * W * W - F.lit(2143) * W * S,
            F.lit(100) * W * S,
        ).alias("ari"),
    ).orderBy("group")


def mattr_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    seg_len: int = 25,
) -> DataFrame:
    """Mean Segmental Type-Token Ratio per group — the
    length-controlled lexical-diversity measure (MSTTR, Johnson 1944;
    the fixed-window ancestor of Covington & McFall 2010's MATTR):
    raw corpus TTR shrinks mechanically as token volume grows (Heaps'
    law), so cross-source TTR comparisons confound diversity with
    size. MSTTR restores comparability by scoring only COMPLETE
    ``seg_len``-token segments per document (the ragged tail is
    dropped, the MSTTR convention) and averaging distinct-counts over
    them. Emitted next to the raw per-source TTR, the gap IS the
    size confound: a source whose ttr ≪ msttr is big, not repetitive.

    msttr = Σ_segments distinct(seg) / (n_segs·seg_len) — ONE exact
    integer ratio (never a mean of per-segment floats); ttr =
    types/tokens likewise. Documents shorter than ``seg_len`` tokens
    contribute volume to ttr but no segments; groups with zero
    complete segments are dropped on both engines (an MSTTR of
    nothing is undefined). Empty/whitespace-only docs contribute
    nothing anywhere.

    Output: (group, n_docs, n_tokens, n_types, ttr, n_segs,
    seg_distinct_sum, msttr).

    Scale shape: segmenting is map-only (slice the per-doc token
    array; no shuffle sees raw text); the distinct-type count
    aggregates at (group, token) grain with map-side combine; the
    segment sum is a 2-long-column partial aggregate. One corpus
    pass, two group-grain shuffles, no joins wider than |groups|."""
    if int(seg_len) < 1:
        raise ValueError(f"seg_len must be >= 1, got {seg_len}")
    L = int(seg_len)
    norm = F.trim(normalize_ws(F.col(text_col)))
    toks = df.select(
        F.col(group_col).alias("group"), norm.alias("__n")
    ).where(F.col("__n") != "").select(
        "group", F.split(F.col("__n"), " ").alias("__tk")
    )
    n_full = F.expr(f"size(__tk) div {L}").cast("long")
    segs = toks.select(
        "group",
        F.explode(
            F.when(
                n_full >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_full),
                    lambda i: F.size(
                        F.array_distinct(
                            F.slice(F.col("__tk"), (i - F.lit(1)) * F.lit(L) + F.lit(1), F.lit(L))
                        )
                    ),
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__d"),
    )
    seg_agg = segs.groupBy("group").agg(
        F.count("*").cast("long").alias("n_segs"),
        F.sum("__d").cast("long").alias("seg_distinct_sum"),
    )
    tok_counts = toks.select("group", F.explode("__tk").alias("__t"))
    vol = toks.groupBy("group").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("__tk")).cast("long").alias("n_tokens"),
    )
    types = (
        tok_counts.distinct()
        .groupBy("group")
        .agg(F.count("*").cast("long").alias("n_types"))
    )
    return (
        vol.join(types, "group")
        .join(seg_agg, "group")
        .select(
            "group",
            "n_docs",
            "n_tokens",
            "n_types",
            _round6_ratio(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
            "n_segs",
            "seg_distinct_sum",
            _round6_ratio(
                F.col("seg_distinct_sum"), F.col("n_segs") * F.lit(L)
            ).alias("msttr"),
        )
        .orderBy("group")
    )


def good_turing_mass(
    df: DataFrame,
    text_col: str = "text",
    gram_n: int = 3,
    max_r: int = 5,
) -> DataFrame:
    """Good-Turing frequency-of-frequencies panel (Good 1953,
    Biometrika 40; the smoothing table of Katz backoff and the
    unseen-species estimate of Gale & Sampson 1995's SGT), computed
    at word ``gram_n``-gram grain — the grain Katz backoff actually
    discounts at, and the one where a bounded-vocabulary corpus still
    has a live low-r tail (at unigram grain a 31-type synthetic vocab
    has NO rare strata and the table is vacuous — probed): over the
    corpus gram counts, for each observed frequency r ≤ ``max_r``
    emit n_r (types seen exactly r times), that stratum's share of
    token mass r·n_r/N, and the GT adjusted count
    r* = (r+1)·n_{r+1}/n_r — how much probability mass the estimator
    moves DOWN from each stratum. The r = 0 row carries THE
    Good-Turing number: p0 = n_1/N, the total probability of tokens
    never seen in this corpus — the principled answer to "how much of
    the next shard's vocabulary will be new", which raw counts put at
    an impossible 0. A heavy low-r table says the vocabulary is still
    growing (expect OOV downstream); r* ≪ r at r = 1-2 flags
    undertrained token statistics.

    Exactness: every emitted number is ONE exact integer ratio
    (r·n_r, (r+1)·n_{r+1}, n_1 over N or n_r — the count-ratio
    helpers); missing n_{r+1} strata contribute r* via n_{r+1} = 0
    (the estimator's own "discount to nothing" answer), and rows
    appear only for strata with n_r ≥ 1 — identically on both
    engines. Empty corpora emit nothing.

    Output: (r, n_r, mass_share, r_star); r = 0 is the unseen row
    (n_r = 0, mass_share = p0, r_star = 0.0).

    Scale shape: token counting aggregates at token grain with
    map-side combine; the freq-of-freq table is ≤ |distinct counts|
    rows — everything after the first aggregate is broadcast-size.
    One corpus pass."""
    norm = F.trim(normalize_ws(F.col(text_col)))
    toks = (
        df.select(norm.alias("__n"))
        .where(F.col("__n") != "")
        .select(F.split(F.col("__n"), " ").alias("__tk"))
        .select(
            # ALL gram instances (no per-doc distinct): GT smooths
            # instance counts; short docs yield their single partial
            # gram (the word_ngrams convention)
            F.explode(word_ngrams(F.col("__tk"), int(gram_n))).alias("__t")
        )
    )
    counts = toks.groupBy("__t").agg(F.count("*").alias("__c"))
    ff = counts.groupBy("__c").agg(F.count("*").cast("long").alias("__nr"))
    tot = counts.agg(
        F.sum("__c").cast("long").alias("__N"),
        F.count("*").cast("long").alias("__V"),
    )
    nxt = ff.select(
        (F.col("__c") - F.lit(1)).alias("__c"), F.col("__nr").alias("__nnext")
    )
    body = (
        ff.where(F.col("__c") <= int(max_r))
        .join(nxt, "__c", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("__c").cast("long").alias("r"),
            F.col("__nr").alias("n_r"),
            _round6_ratio(F.col("__c") * F.col("__nr"), F.col("__N")).alias(
                "mass_share"
            ),
            _round6_ratio(
                (F.col("__c") + F.lit(1))
                * F.coalesce(F.col("__nnext"), F.lit(0)),
                F.col("__nr"),
            ).alias("r_star"),
        )
    )
    # 1-row aggregate (not a filter): a hapax-free corpus must still
    # emit the unseen row with p0 = 0, not lose it to an empty join
    n1 = ff.agg(
        F.coalesce(
            F.sum(F.when(F.col("__c") == 1, F.col("__nr"))), F.lit(0)
        ).alias("__n1")
    )
    unseen = (
        tot.where(F.col("__N") >= 1)
        .crossJoin(F.broadcast(n1))
        .select(
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("n_r"),
            _round6_ratio(F.col("__n1"), F.col("__N")).alias("mass_share"),
            F.lit(0.0).alias("r_star"),
        )
    )
    return unseen.unionByName(body).orderBy("r")
