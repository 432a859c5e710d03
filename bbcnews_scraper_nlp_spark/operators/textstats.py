"""Text-analysis operators for large-scale corpus curation.

- language ID: stopword-hit-ratio heuristic over per-language marker
  lists (the classic n-gram/common-word method), pure expressions.
- quality scoring: length / punctuation-ratio / stopword-ratio /
  mean-word-length features -> composite score.
- token counting: whitespace + BPE-ish regex (functions/tokenize.py).
- document fingerprinting: polynomial rolling hash over the token
  stream (order-sensitive, unlike bag-of-words hashes).

All narrow, codegen'd, shuffle-free — linear at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Small high-frequency marker-word lists per language (public common
# word lists). Enough signal for corpus bucketing; a real fastText
# model would slot in as a pandas_udf with identical plumbing.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "pour", "dans", "une"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "für"),
    "es": ("el", "la", "los", "las", "de", "que", "es", "para", "con", "una"),
}


def lang_hit_ratio(tokens: Column, lang: str) -> Column:
    markers = F.lit(list(LANG_MARKERS[lang]))
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(markers, t)))
    return hits.cast("double") / F.greatest(F.size(tokens), F.lit(1))


LANG_MIN_RATIO = 0.01  # marker-hit ratio a language must clear


def detect_language(tokens: Column) -> Column:
    """argmax language by marker-hit ratio; 'und' if nothing clears
    LANG_MIN_RATIO. Deterministic tie-break: declaration order in
    LANG_MARKERS (forward fold with strict >).

    Built as ONE F.aggregate fold over an array of (ratio, lang)
    structs so each ratio subexpression appears exactly once in the
    plan. The obvious Python when-chain duplicates the running
    `best` into both branches of every step — expression size grows
    exponentially in language count (measured ~30 ratio evaluations
    per row for 4 languages; interpreted HOFs get no common-
    subexpression elimination) and the monster predicate then rides
    every filter pushdown copy of lang_detected."""
    entries = F.array(
        *[
            F.struct(
                lang_hit_ratio(tokens, lang).alias("r"), F.lit(lang).alias("l")
            )
            for lang in LANG_MARKERS
        ]
    )
    best = F.aggregate(
        entries,
        F.struct(
            F.lit(float(LANG_MIN_RATIO)).cast("double").alias("r"),
            F.lit("und").alias("l"),
        ),
        lambda acc, e: F.when(e["r"] > acc["r"], e).otherwise(acc),
    )
    return best["l"]


# Explicit ASCII punctuation chars — identical bytes in Java regex
# (Spark) and RE2 (DuckDB oracle); \p{Punct} means different sets in
# the two engines.
ASCII_PUNCT_CHARS = r"""!"#$%&'()*+,\-./:;<=>?@\[\]^_`{|}~"""
ASCII_PUNCT_CLASS = f"[{ASCII_PUNCT_CHARS}]"
NON_PUNCT_CLASS = f"[^{ASCII_PUNCT_CHARS}]"


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, NON_PUNCT_CLASS, "")
    return F.length(stripped).cast("double") / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(tokens: Column, stopwords: list[str]) -> Column:
    sw = F.lit(stopwords)
    return F.size(F.filter(tokens, lambda t: F.array_contains(sw, t))).cast(
        "double"
    ) / F.greatest(F.size(tokens), F.lit(1))


def mean_word_length(tokens: Column) -> Column:
    total = F.aggregate(
        F.transform(tokens, F.length), F.lit(0), lambda a, x: a + x
    )
    return total.cast("double") / F.greatest(F.size(tokens), F.lit(1))


QUALITY_MIN_WORDS, QUALITY_MAX_WORDS = 20, 10_000  # in-range length


def quality_score(col: Column, stopwords: list[str]) -> Column:
    """Composite [0,1] quality heuristic (Gopher/C4-style rules):
    in-range length, some stopwords (fluency proxy), sane mean word
    length, low symbol ratio. Weighted sum of four indicator-ish
    terms — transparent and cheap."""
    tokens = F.split(col, " ")
    n = F.size(tokens)
    len_ok = F.when(
        (n >= QUALITY_MIN_WORDS) & (n <= QUALITY_MAX_WORDS), 1.0
    ).otherwise(0.0)
    sw = stopword_ratio(tokens, stopwords)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), 1.0).otherwise(0.0)
    mwl = mean_word_length(tokens)
    mwl_ok = F.when((mwl >= 2.5) & (mwl <= 10.0), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) <= 0.2, 1.0).otherwise(0.0)
    return F.round(0.3 * len_ok + 0.3 * sw_ok + 0.2 * mwl_ok + 0.2 * punct_ok, 2)


def repetition_stats(text: Column) -> tuple[Column, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1) as two
    columns: ``top_word_share`` (most frequent word's fraction of all
    words) and ``dup_bigram_frac`` (1 − distinct/total word bigrams).

    Both are *narrow* higher-order-function pipelines — per-row
    compute, no explode, no shuffle — which is the 100 TB-preferred
    shape for per-document stats (the explode+groupBy formulation
    shuffles the whole token stream). top_word_share is O(distinct ×
    len) per doc; for pathological single-doc lengths cap upstream
    with a length filter.

    Counts are exact integers; each ratio is one fp division —
    cross-engine deterministic without rounding."""
    from ..functions.tokenize import word_shingles

    words = F.split(text, " ")
    total = F.size(words)
    # max word frequency == longest equal-run in the sorted array:
    # one O(n log n) sort + one O(n) aggregate scan per doc. (The
    # obvious distinct x filter formulation is O(distinct * len) of
    # INTERPRETED lambda evals per doc — HOFs never enter codegen —
    # and measured ~4s of the corpus-pipeline wall at sf0.1; this
    # form computes the identical integer ~50x cheaper.)
    top = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_share = F.when(
        total > 0, top.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
    bigrams = word_shingles(words, 2)
    n_bi = F.size(bigrams)
    dup_frac = F.when(
        n_bi > 0,
        1.0 - F.size(F.array_distinct(bigrams)).cast("double") / n_bi.cast("double"),
    ).otherwise(F.lit(0.0))
    return top_share, dup_frac


def perplexity_quality(df, id_col: str, text_col: str):
    """CCNet-style perplexity quality filtering (Wenzek et al. 2020):
    score each document by its cross-entropy under a bigram language
    model trained on the corpus itself, then bucket into
    head / middle / tail terciles — the canonical
    "keep the most-corpus-typical text" signal for LLM pretraining
    data curation.

    Model: add-one-smoothed bigram LM,
    P(b|a) = (c_ab + 1) / (c_a + V), fit on THIS corpus (so there is
    no OOV; a held-out reference LM slots in by swapping the count
    tables). Per-bigram negative-log-likelihoods are quantized to
    integer MILLINATS before aggregation, which (a) makes the per-doc
    mean exact integer arithmetic — order-independent, and (b)
    absorbs the ~1-ulp disagreement between Java's and libm's ln on
    identical doubles (measured: 3% of the count-ratio domain differs
    by 1 ulp ≈ 1e-15; a millinat boundary hit needs the true value
    within ~1e-12 of a .5 — negligible over any real vocab).

    Tercile cutpoints come from ONE exact percentile aggregate
    broadcast back over the scores (never a global ntile window,
    which would single-partition all docs at 100 TB); `percentile`
    interpolates identically to DuckDB's `quantile_cont`, so the
    bucket edges are cross-engine exact.

    Plan: posexplode -> unigram agg (shuffle on word) -> LEAD window
    (shuffle on doc) -> bigram agg (shuffle on pair) -> score join ->
    per-doc re-agg. Five shuffles, all on uniform keys (word / pair /
    doc) — the inherent LM-scoring shape; no driver-side state beyond
    the two 1-row aggregates (V, cutpoints).

    Docs with fewer than 2 tokens have no bigram and are excluded
    (documented; they carry no LM signal).
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    tok = df.select(F.col(id_col).alias("__id"), F.posexplode(toks).alias("idx", "word"))
    uni = tok.groupBy("word").agg(F.count("*").alias("c_a"))
    v = tok.agg(F.count_distinct("word").alias("__v"))

    w = Window.partitionBy("__id").orderBy("idx")
    big = tok.select(
        "__id",
        F.col("word").alias("a"),
        F.lead("word", 1).over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    bi = big.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    scored = (
        bi.join(uni.withColumnRenamed("word", "a"), "a")
        .crossJoin(F.broadcast(v))
        .select(
            "a",
            "b",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") + F.lit(1.0))
                    / (F.col("c_a").cast("double") + F.col("__v").cast("double"))
                )
                * F.lit(1000.0)
            )
            .cast("long")
            .alias("mn"),
        )
    )
    doc = (
        big.join(scored, ["a", "b"])
        .groupBy("__id")
        .agg(F.sum("mn").alias("sm"), F.count("*").alias("m"))
        .select(
            F.col("__id"),
            F.col("m").alias("n_bigrams"),
            # negate: mn are log-probs (negative); cross-entropy >= 0
            (-F.col("sm") / (F.col("m") * F.lit(1000.0))).alias("cross_entropy"),
        )
    )
    cut = doc.agg(
        F.percentile("cross_entropy", F.lit(1.0) / F.lit(3.0)).alias("q1"),
        F.percentile("cross_entropy", F.lit(2.0) / F.lit(3.0)).alias("q2"),
    )
    return doc.crossJoin(F.broadcast(cut)).select(
        F.col("__id").alias(id_col),
        "n_bigrams",
        "cross_entropy",
        F.when(F.col("cross_entropy") <= F.col("q1"), F.lit("head"))
        .when(F.col("cross_entropy") <= F.col("q2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def build_inverted_index(
    docs,
    text_col: str,
    id_col: str,
    block_size: int = 2000,
):
    """Blocked inverted index: term -> sorted posting blocks of
    "doc:pos" entries plus exact per-term df/tf — the text-retrieval
    layout (Lucene-style posting blocks) as a pure Catalyst plan.

    Scale shape: positions come from ONE posexplode projection; the
    only wide exchanges are the term-keyed window (block numbering)
    and the (term, block) agg — a hot term (corpus stopword) lands in
    MANY bounded blocks instead of one giant postings row, so no
    single task materializes an unbounded array and block rows
    parallelize across executors. Term stats are a separate skinny
    agg joined back (broadcast at small vocab; term-keyed AQE join at
    web vocab). Entries format as "doc:pos" strings so the index is
    engine-portable and oracle-checkable.

    Returns (term, block, df, tf, postings: array<string>).
    """
    from pyspark.sql import DataFrame, Window

    if not isinstance(docs, DataFrame):
        raise TypeError(
            f"build_inverted_index needs a DataFrame, got {type(docs).__name__}"
        )
    tok = docs.select(
        F.col(id_col).alias("__d"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__p", "term"),
    ).filter(F.col("term") != "")
    w = Window.partitionBy("term").orderBy("__d", "__p")
    blocked = (
        tok.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "block",
            ((F.col("__rn") - 1) / F.lit(block_size)).cast("int"),
        )
        .groupBy("term", "block")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.format_string("%d:%d", F.col("__d"), F.col("__p"))
                )
            ).alias("postings")
        )
    )
    stats = tok.groupBy("term").agg(
        F.countDistinct("__d").alias("df"),
        F.count("*").alias("tf"),
    )
    return blocked.join(stats, "term").select(
        "term", "block", "df", "tf", "postings"
    )


# engine-owned toy logreg weights (intercept, n_tokens/100,
# mean_word_len, stopword_ratio*1000) — a trained model drops in as
# the same four numbers (or a broadcast 1-row table)
LOGREG_WEIGHTS = (-1.5, 0.8, 0.3, 0.002)


def logreg_quality_score(col: Column, stopwords: list[str]) -> Column:
    """Logistic-regression quality score in [0, 1000] milli-units:
    sigmoid over engineered features as ONE codegen projection (the
    map-only model-serving shape — no shuffle, no Python). Same
    kernel as the oracled ``quality_logreg_score`` query."""
    toks = F.split(col, " ")
    n_tok = F.size(toks)
    mwl = F.length(F.regexp_replace(col, " ", "")).cast("double") / F.greatest(
        n_tok, F.lit(1)
    )
    sw = F.array(*[F.lit(s) for s in stopwords])
    swr = (
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("double")
        * 1000
        / F.greatest(n_tok, F.lit(1))
    )
    w0, w1, w2, w3 = LOGREG_WEIGHTS
    z = F.lit(w0) + F.lit(w1) * (n_tok / F.lit(100.0)) + F.lit(w2) * mwl + F.lit(w3) * swr
    return F.lit(1000.0) / (F.lit(1.0) + F.exp(-z))


# The 8 stopword indicators of Rae et al. 2021 Table A1 (shared by
# the batch gopher_quality_flags oracle pair and the streaming gate).
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_stats_columns(text_col: Column) -> list[Column]:
    """The published Gopher word-level quality stats (Rae et al. 2021
    Table A1) as PURE per-row HOF expressions — numerically identical
    to the batch query's explode+groupBy formulation (same integer
    truncating divisions), but stateless and 1:1 per document, which
    is what lets the streaming gate drain in append mode with no
    watermark and hash-match the batch oracle regardless of
    micro-batch splits. Returns [n_words, mwl_milli, sym_ppm,
    alpha_ppm, stop_hits, keep]."""
    toks = F.filter(
        F.split(F.coalesce(text_col, F.lit("")), " "), lambda x: x != ""
    )
    n_words = F.size(toks).cast("long")
    tot_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    n_sym = F.size(
        F.filter(toks, lambda w: w.contains("#") | w.contains("..."))
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("long")
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    stop_hits = F.size(
        F.array_distinct(F.filter(toks, lambda w: F.array_contains(sw, w)))
    ).cast("long")
    den = F.greatest(n_words, F.lit(1))

    def idiv(num):
        # integer truncating division (all operands nonnegative, so
        # the floor form equals Spark's `div` / DuckDB's `//`)
        return ((num - F.pmod(num, den)) / den).cast("long")

    mwl_milli = idiv(F.lit(1000) * tot_len)
    sym_ppm = idiv(F.lit(1000000) * n_sym)
    alpha_ppm = idiv(F.lit(1000000) * n_alpha)
    keep = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mwl_milli >= 3000)
        & (mwl_milli <= 10000)
        & (sym_ppm <= 100000)
        & (alpha_ppm >= 800000)
        & (stop_hits >= 2)
    )
    return [
        n_words.alias("n_words"),
        mwl_milli.alias("mwl_milli"),
        sym_ppm.alias("sym_ppm"),
        alpha_ppm.alias("alpha_ppm"),
        stop_hits.alias("stop_hits"),
        keep.cast("int").alias("keep"),
    ]
