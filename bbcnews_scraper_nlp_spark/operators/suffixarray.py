"""Distributed suffix ranking by prefix doubling, and exact-substring
duplicated-span extraction built on it (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better", §4.1
ExactSubstr — the suffix-array half whose n-gram approximation lives
in ``dedup.remove_dup_spans``).

Reference intent: the URL-level dedup in the reference pipeline
(``BBCNews-scraper-nlp/news_scraping/pipelines.py:33-44``) done to the
published training-data standard: find every maximal span of >=
``SPAN_LEN`` tokens whose text occurs more than once in the corpus,
exactly — not by hashed n-gram approximation.

Why prefix doubling and not the n-gram join: materializing one
``SPAN_LEN``-token string per position multiplies corpus bytes by
``SPAN_LEN`` (a 50-token threshold = 50x write amplification at
100 TB). Prefix doubling keeps every intermediate row at fixed width
(two integer ranks), reaching window ``2^k`` after k rounds — the
classic distributed suffix-array construction (log-rounds of
sort/join, cf. pDC3 / Flick-Aluru), truncated at the first window
>= ``SPAN_LEN`` because equal-window detection at the threshold
length is all ExactSubstr needs (a "bounded-window" suffix ranking).

Determinism: every global rank here is a TWO-LEVEL rank — range-
bucket the integral bucket key by broadcast min/max integer
arithmetic (never RangePartitioner sampling, never a partition-id),
per-bucket ``row_number`` over a unique key, plus the exclusive
bucket-count prefix as base offset. The only unpartitioned window
scans the ``RANK_BUCKETS``-row totals table, a constant. Rank VALUES are
therefore a pure function of the data — recomputation of any branch
agrees, so no checkpoint is needed for consistency (iteration frames
are still eager-checkpointed to stop the 2x-per-round analysis-tree
growth, the connected-components contract).

Alphabet order: round-0 token ranks order by (xxhash64-bucket, token)
— a deterministic permutation of the alphabet. A suffix array under a
permuted alphabet has identical equal-window and LCP structure, which
is the only thing span extraction reads; the permutation avoids
funnelling the vocabulary through collation-ordered range sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import SPAN_MIN_COUNT, remove_covered, token_frame

SPAN_LEN = 16  # the duplicated-span threshold, in tokens (a power of two)
SPAN_LOG2 = SPAN_LEN.bit_length() - 1  # doubling rounds to reach SPAN_LEN
SEED_LOG2 = 2  # ranks start from 2^SEED_LOG2-token grams
RANK_BUCKETS = 64  # range buckets of every two-level rank


def _two_level_rank_fixed(
    df: DataFrame,
    bucket_src: Column,
    lo: int,
    hi: int,
    order_cols: list[str],
) -> tuple[DataFrame, int]:
    """Two-level rank with STATICALLY KNOWN ``[lo, hi]`` bounds on
    ``bucket_src`` — the suffix-doubling fast path. The adaptive form
    (``relational.two_level_rank``) derives bucket width and base
    offsets from two aggregates over its own input, and both ride in
    as broadcasts; exchange reuse never crosses a broadcast boundary,
    so the input's lineage (a shuffle-derived distinct here) executes
    THREE times per rank.
    With the bounds known up front the width is a literal, the
    (unique-keyed) input materializes once (eager localCheckpoint),
    the ≤``RANK_BUCKETS`` per-bucket counts collect to the driver
    (bounded: one row per bucket), and the base offsets attach as a
    literal array lookup — no aggregate broadcasts, no extra joins,
    one execution of the input.

    Rank VALUES differ from the adaptive form (bucket boundaries
    differ), but remain a pure deterministic function of the data;
    suffix construction only consumes rank equality and order, both
    of which any two-level bucketing preserves. Returns
    ``(ranked_df, n_rows)`` — the row count is free from the totals
    pass and feeds the next round's ``hi``."""
    width = ((hi - lo) // RANK_BUCKETS) + 1
    b = (
        df.withColumn("__bsrc", bucket_src.cast("long"))
        .withColumn("__bucket", F.expr(f"(__bsrc - {lo}) div {width}"))
        .localCheckpoint(eager=True)
    )
    counts = dict(
        (r["__bucket"], r["__t"])
        for r in b.groupBy("__bucket").agg(F.count("*").alias("__t")).collect()
    )
    bases, running = [], 0
    for i in range(RANK_BUCKETS):
        bases.append(running)
        running += counts.get(i, 0)
    wi = Window.partitionBy("__bucket").orderBy(*order_cols)
    ranked = (
        b.withColumn(
            "rank",
            (
                F.element_at(F.lit(bases), F.col("__bucket").cast("int") + 1)
                + F.row_number().over(wi)
            ).cast("long"),
        )
        .drop("__bucket", "__bsrc")
    )
    return ranked, running


def suffix_window_ranks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_log2: int = 4,
) -> DataFrame:
    """Bounded-window suffix ranking by prefix doubling: returns
    (id, n_toks, pos, v) where ``v`` is the global rank of the
    ``2^window_log2``-token window starting at ``pos`` — equal v iff
    equal window content, and v order = lexicographic order of the
    windows under a deterministically permuted seed alphabet. Windows
    truncated by the document end stay exact: the seed gram IS the
    (shorter) remaining text — tokens are space-free, so the joined
    string is injective on token sequences — and missing right
    halves in later rounds compare via a sentinel (-1, below every
    real rank): end-of-string suffix semantics, so v is a genuine
    (truncated) suffix ranking.

    Seeding: ranks start at window ``2^SEED_LOG2`` grams directly
    (DC3 seeds with length-3 substrings for the same reason) — the
    small fixed seed amplification buys ``SEED_LOG2`` fewer rounds of
    shuffle+materialize; doubling then runs rounds
    ``SEED_LOG2+1..window_log2`` on fixed-width two-integer rows. Per
    round: one shift self-join on (id, pos+2^(k-1)) keys, one
    distinct-pair shuffle, the constant-size two-level rank, and one
    map-back join — each keyed, none global. Each round's frame is
    eager-checkpointed (the analysis-tree contract: every round
    references the previous frame twice); rank values are
    deterministic, so the checkpoints are a compile-time
    optimization only. Raises ValueError for ``window_log2 <
    SEED_LOG2``."""
    if window_log2 < SEED_LOG2:
        raise ValueError(
            f"window_log2 must be >= SEED_LOG2 ({SEED_LOG2}), got {window_log2}"
        )
    seed = 1 << SEED_LOG2
    base = token_frame(df, id_col, text_col)
    g = base.select(
        "__id",
        F.size("__toks").alias("n_toks"),
        F.explode(
            # guard: Spark's sequence(0, -1) infers step -1 (it does
            # NOT return empty), so an empty document must shortcut
            F.when(
                F.size("__toks") > 0,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - F.lit(1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(
                            F.slice("__toks", i + F.lit(1), F.lit(seed)), " "
                        ).alias("gram"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:int,gram:string>>")
            )
        ).alias("__g"),
    ).select(
        "__id",
        "n_toks",
        F.col("__g.pos").alias("pos"),
        F.col("__g.gram").alias("gram"),
    )
    # unsigned-shift the hash into [0, 2^63) so the bucket arithmetic
    # cannot wrap int64 — and the hash DOMAIN is therefore statically
    # known, so the seed rank takes the fixed-bounds fast path (no
    # min/max broadcast). The hash only BUCKETS the seed vocabulary
    # (identity stays the gram string), so a collision merely
    # co-buckets two grams — never conflates them.
    r, n_prev = _two_level_rank_fixed(
        g.select("gram").distinct(),
        F.shiftrightunsigned(F.xxhash64("gram"), 1),
        0,
        (1 << 63) - 1,
        ["gram"],
    )
    cur = (
        g.join(r, "gram")
        .select("__id", "n_toks", "pos", F.col("rank").alias("v"))
        .localCheckpoint(eager=True)
    )
    for k in range(SEED_LOG2, window_log2):
        half = 1 << k
        shifted = cur.select(
            "__id",
            (F.col("pos") - F.lit(half)).alias("pos"),
            F.col("v").alias("__v2"),
        )
        pairs = cur.join(shifted, ["__id", "pos"], "left").select(
            "__id",
            "n_toks",
            "pos",
            F.col("v").alias("__v1"),
            F.coalesce("__v2", F.lit(-1)).alias("__v2"),
        )
        # __v1 is a dense 1-based rank from the previous round, so its
        # bounds [1, n_prev] are known without touching the data —
        # fixed-bounds fast path again, and the next round's bound is
        # this round's (free) distinct-pair count
        m, n_prev = _two_level_rank_fixed(
            pairs.select("__v1", "__v2").distinct(),
            F.col("__v1"),
            1,
            max(n_prev, 1),
            ["__v1", "__v2"],
        )
        cur = (
            pairs.join(m, ["__v1", "__v2"])
            .select("__id", "n_toks", "pos", F.col("rank").alias("v"))
            .localCheckpoint(eager=True)
        )
    return cur


def duplicated_spans(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Maximal exactly-duplicated spans of >= ``SPAN_LEN`` tokens
    (ExactSubstr): every position whose ``SPAN_LEN``-token window
    occurs >= ``SPAN_MIN_COUNT`` times corpus-wide (within-document
    repeats count) starts a duplicated window; overlapping/adjacent
    windows merge into maximal [span_start, span_end) token
    intervals per document.

    Returns (id, span_start, span_end, span_len, n_dup_starts),
    integer-exact. Plan: the doubling rounds above, ONE rank-count
    shuffle, a semi-join, and one doc-keyed gaps-and-islands window —
    duplicated-gram skew fans out one row per instance (linear,
    never pairwise)."""
    ranked = suffix_window_ranks(df, id_col, text_col, window_log2=SPAN_LOG2)
    full = ranked.filter(F.col("pos") <= F.col("n_toks") - SPAN_LEN)
    dup = (
        full.groupBy("v")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= SPAN_MIN_COUNT)
        .select("v")
    )
    starts = full.join(dup, "v", "left_semi").select("__id", "pos")
    return merge_start_islands(starts, id_col)


def merge_start_islands(starts: DataFrame, id_col: str) -> DataFrame:
    """Merge (__id, pos) window starts into maximal
    [span_start, span_end) token intervals per document
    (gaps-and-islands on one doc-keyed window: a new island opens
    when the gap to the previous start exceeds the window length,
    since all intervals share that fixed length)."""
    w = Window.partitionBy("__id").orderBy("pos")
    isl = starts.withColumn(
        "__brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > SPAN_LEN, 1
        ).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy("__id", "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SPAN_LEN)).alias("span_end"),
            F.count("*").alias("n_dup_starts"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            (F.col("span_end") - F.col("span_start"))
            .cast("long")
            .alias("span_len"),
            F.col("n_dup_starts").cast("long"),
        )
    )


def remove_duplicated_spans(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The second half of the Lee et al. 2022 ExactSubstr pipeline:
    REMOVE the maximal duplicated spans ``duplicated_spans`` finds
    and reassemble each document from its surviving tokens (the
    n-gram sibling is ``dedup.remove_dup_spans``; this is the exact
    suffix-array version). Coverage comes from the merged island
    intervals — one row per covered TOKEN (linear fanout; islands
    are disjoint per document by construction, so no distinct is
    needed) — and ``dedup.remove_covered`` drops covered tokens and
    reassembles the survivors in order (the n-gram sibling's own
    reassembly).

    Returns (id, clean_text, n_removed) for EVERY input document
    (clean_text = original text's tokens when nothing was removed).
    """
    spans = duplicated_spans(df, id_col, text_col)
    cov = spans.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("idx"),
    )
    return remove_covered(token_frame(df, id_col, text_col), cov, id_col)


def contaminated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench_col: str,
) -> DataFrame:
    """Exact-substring benchmark contamination (the decontamination
    pass of Lee et al. 2022 / the GPT-3 appendix done exactly): every
    maximal span of >= ``SPAN_LEN`` tokens in a TRAINING document
    whose text occurs verbatim anywhere in the BENCHMARK partition
    (``bench_col`` boolean). One suffix ranking over the UNION corpus
    (ranks are corpus-global, so train and bench windows land in the
    same rank groups by construction); a rank group contaminates when
    it contains >= 1 bench position, and every train position in such
    a group starts a contaminated window. Returns the span rows of
    ``duplicated_spans`` for train documents only."""
    tagged = df.select(
        F.col(id_col).alias("__oid"),
        F.col(text_col).alias("__text"),
        F.col(bench_col).cast("boolean").alias("__bench"),
    )
    ranked = suffix_window_ranks(tagged, "__oid", "__text", window_log2=SPAN_LOG2)
    full = ranked.filter(F.col("pos") <= F.col("n_toks") - SPAN_LEN).join(
        tagged.select(F.col("__oid").alias("__id"), "__bench"), "__id"
    )
    benched = (
        full.groupBy("v")
        .agg(F.max(F.col("__bench").cast("int")).alias("__has_bench"))
        .filter(F.col("__has_bench") == 1)
        .select("v")
    )
    starts = (
        full.filter(~F.col("__bench"))
        .join(benched, "v", "left_semi")
        .select("__id", "pos")
    )
    return merge_start_islands(starts, id_col)
