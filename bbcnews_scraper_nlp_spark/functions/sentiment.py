"""Sentiment scoring (reference M6/M7: TextBlob polarity/subjectivity).

TextBlob's PatternAnalyzer is a lexicon lookup averaged over matched
words with negation/intensifier modifiers
(sentiment_analysis.ipynb:262-263, cell 7). The engine provides the
same surface four ways, fastest first:

1. ``polarity_expr``/``subjectivity_expr`` — pure Catalyst column
   expressions over a small lexicon (map literal in the plan). The
   100 TB default: whole-stage codegen, zero Python, no shuffle.
2. ``score_with_lexicon_join`` — explode tokens + broadcast-join a
   milli-unit lexicon DataFrame (``full_lexicon_df``) + re-aggregate
   with an exact integer sum. For large lexicons that don't belong
   in a plan literal. One shuffle (the re-agg by doc key), map-side
   combined.
3. ``pattern_scores`` — the PatternAnalyzer chunk rules (negation and
   intensifier windows) as one relational plan: one broadcast join
   of the same full lexicon, windows over each doc's tokens.
4. ``make_sentiment_pandas_udf`` — Arrow-vectorized escape hatch with
   the negation rule (TextBlob-style "not X" -> -0.5 * polarity(X)),
   for semantics the pure-DF forms can't express.

No TextBlob/NLTK dependency: the default lexicon is a deterministic
engine-owned word list.
"""

from __future__ import annotations

from itertools import chain

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic engine lexicon: word -> (polarity, subjectivity).
# Stands in for en-sentiment.xml. The polarity/subjectivity
# expressions and the pandas scorer read it directly; the large
# lexicon joins through ``score_with_lexicon_join`` instead.
DEFAULT_LEXICON: dict[str, tuple[float, float]] = {
    "good": (0.7, 0.6),
    "great": (0.8, 0.75),
    "best": (1.0, 0.3),
    "fast": (0.2, 0.6),
    "small": (-0.25, 0.4),
    "slow": (-0.3, 0.4),
    "bad": (-0.7, 0.667),
    "worst": (-1.0, 1.0),
    "error": (-0.4, 0.4),
    "new": (0.14, 0.45),
    "old": (0.1, 0.2),
    "big": (0.0, 0.1),
}


def _lexicon_map(which: int) -> Column:
    pairs = list(
        chain.from_iterable(
            (F.lit(w), F.lit(float(v[which]))) for w, v in DEFAULT_LEXICON.items()
        )
    )
    return F.create_map(*pairs)


def _avg_score(tokens: Column, lex_map: Column) -> Column:
    hits = F.filter(tokens, lambda t: F.map_contains_key(lex_map, t))
    scores = F.transform(hits, lambda t: F.element_at(lex_map, t))
    n = F.size(scores)
    # TextBlob returns 0.0 when no lexicon word matches.
    return F.when(n > 0, F.aggregate(scores, F.lit(0.0), lambda a, x: a + x) / n).otherwise(
        F.lit(0.0)
    )


def polarity_expr(tokens: Column) -> Column:
    """Mean lexicon polarity over matched tokens, 0.0 if none (M6)."""
    return _avg_score(tokens, _lexicon_map(0))


def subjectivity_expr(tokens: Column) -> Column:
    """Mean lexicon subjectivity over matched tokens, 0.0 if none (M7)."""
    return _avg_score(tokens, _lexicon_map(1))


def score_with_lexicon_join(
    df: DataFrame,
    tokens: Column | str,
    key_cols: list[str],
    lexicon_df: DataFrame,
) -> DataFrame:
    """Large-lexicon path: explode ``tokens`` -> broadcast left join
    the (word, p_milli, s_milli) lexicon (``full_lexicon_df``) ->
    groupBy doc key -> mean over matched tokens.

    Exactness: scores are integer milli-units, so the per-doc mean is
    an exact integer SUM divided ONCE by (n·1000.0) — order-free in
    any fold, and the identical IEEE op in DuckDB (no ROUND on a
    computed double). Scale: the lexicon broadcasts (it's small vs
    the corpus); the single shuffle is the per-document
    re-aggregation with map-side partial aggregation. Docs with zero
    matched tokens (or no tokens) score 0.0, as TextBlob does.
    """
    exploded = df.select(*key_cols, F.explode_outer(tokens).alias("word"))
    joined = exploded.join(F.broadcast(lexicon_df), "word", "left")
    agg = joined.groupBy(*key_cols).agg(
        F.count("p_milli").alias("__n"),
        F.sum("p_milli").alias("__p"),
        F.sum("s_milli").alias("__s"),
    )
    return agg.select(
        *key_cols,
        F.when(
            F.col("__n") > 0, F.col("__p") / (F.col("__n") * 1000.0)
        ).otherwise(F.lit(0.0)).alias("polarity"),
        F.when(
            F.col("__n") > 0, F.col("__s") / (F.col("__n") * 1000.0)
        ).otherwise(F.lit(0.0)).alias("subjectivity"),
    )


def full_lexicon_df(df_factory) -> DataFrame:
    """The ~2k-entry engine lexicon (functions/lexicon_data.py) as a
    broadcastable (word, p_milli, s_milli) DataFrame — scores
    pre-scaled to exact integer milli-units so downstream averaging
    is order-independent integer arithmetic (cross-engine exact, the
    repo-wide determinism pattern). ``df_factory`` is a SparkSession.

    This is the ``score_with_lexicon_join`` large-lexicon path made
    concrete: the reference's TextBlob en-sentiment.xml slot
    (sentiment_analysis.ipynb cell 7) filled with an engine-owned
    deterministic word list. Swap in a real TSV (word, polarity,
    subjectivity) the same way for full fidelity.
    """
    from .lexicon_data import full_lexicon

    rows = [
        (w, int(round(p * 1000)), int(round(s * 1000)))
        for w, (p, s) in sorted(full_lexicon().items())
    ]
    return df_factory.createDataFrame(
        rows, "word string, p_milli long, s_milli long"
    )


_SENT_SCHEMA = T.StructType(
    [
        T.StructField("polarity", T.DoubleType()),
        T.StructField("subjectivity", T.DoubleType()),
    ]
)


def make_sentiment_pandas_udf():
    """Arrow-vectorized scorer with TextBlob-style negation:
    "not X" contributes -0.5 * polarity(X)."""
    lex = DEFAULT_LEXICON


    @F.pandas_udf(_SENT_SCHEMA)
    def sentiment(texts: pd.Series) -> pd.DataFrame:
        pols, subs = [], []
        for text in texts:
            words = (text or "").split()
            p_scores: list[float] = []
            s_scores: list[float] = []
            prev_neg = False
            for w in words:
                lw = w.lower()
                if lw in ("not", "no", "never"):
                    prev_neg = True
                    continue
                hit = lex.get(lw)
                if hit is not None:
                    p, s = hit
                    p_scores.append(-0.5 * p if prev_neg else p)
                    s_scores.append(s)
                prev_neg = False
            pols.append(sum(p_scores) / len(p_scores) if p_scores else 0.0)
            subs.append(sum(s_scores) / len(s_scores) if s_scores else 0.0)
        return pd.DataFrame({"polarity": pols, "subjectivity": subs})

    return sentiment


# --------------------------------------------------------------------
# PatternAnalyzer chunk rules (M6/M7 fidelity path, round 5)
# --------------------------------------------------------------------

# Intensifier/downtoner words and their intensity factors, applied to
# the immediately-following lexicon word (Pattern's modifier rule,
# pattern/text/__init__.py Sentiment.assessments — BSD, public).
# "very"=1.3 reproduces the canonically-documented TextBlob values
# ("very good" -> 0.91, "not very good" -> -0.26923...); the other
# factors are engine-owned editorial calls in the same style (the
# full en-sentiment.xml intensity table is not vendored).
MODIFIER_INTENSITY: dict[str, float] = {
    "very": 1.3,
    "really": 1.3,
    "extremely": 1.5,
    "absolutely": 1.5,
    "highly": 1.3,
    "incredibly": 1.5,
    "slightly": 0.8,
    "somewhat": 0.9,
}

# Pattern's negation words (sans "n't", which the reference's P4-P12
# clean chain strips with the other punctuation).
NEGATIONS: tuple[str, ...] = ("no", "not", "never")


def _self_mod_expr(word: Column) -> Column:
    """Intensity of ``word`` when it acts as a modifier, else NULL."""
    expr = F.lit(None).cast("double")
    for w, i in sorted(MODIFIER_INTENSITY.items()):
        expr = F.when(word == w, F.lit(float(i))).otherwise(expr)
    return expr


def pattern_scores(
    spark, df: DataFrame, text_col: str, key_cols: list[str]
) -> DataFrame:
    """TextBlob/PatternAnalyzer scoring rules as one relational plan:
    per-chunk negation and intensifier handling, averaged per doc
    (reference: sentiment_analysis.ipynb cell 7; algorithm per
    Pattern's public Sentiment.assessments).

    Chunk rules (validated against canonically-documented TextBlob
    outputs in tests/test_sentiment.py):
      - lexicon word alone:           p, s
      - modifier + word ("very good"):  clamp(p*i), clamp(s*i)
      - negation + word ("not good"):   -0.5*p, s
      - negation + modifier + word ("not very good"):
                                      -0.5*clamp(p/i), clamp(s/i)
    A modifier directly followed by another lexicon hit is absorbed
    into that hit's chunk (scores no assessment of its own). Scores
    are micro-quantized (1e-6) so the per-doc average is exact
    integer arithmetic — order-independent and DuckDB-oracle-able.

    Plan shape at 100 TB: ONE broadcast join (2.1k-row lexicon), one
    shuffle on the doc key shared by the LAG/LEAD window and the
    re-aggregation (Exchange reuse), zero Python. Docs with no
    lexicon hit score (0.0, 0.0) via the final left join, exactly
    like TextBlob on unknown text.
    """
    from pyspark.sql import Window

    lex = full_lexicon_df(spark)
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    tok = df.select(*key_cols, F.posexplode_outer(toks).alias("idx", "word"))
    att = tok.join(F.broadcast(lex), "word", "left").select(
        *key_cols,
        "idx",
        "word",
        "p_milli",
        "s_milli",
        F.col("p_milli").isNotNull().alias("is_hit"),
        _self_mod_expr(F.col("word")).alias("self_mod"),
    )
    w = Window.partitionBy(*key_cols).orderBy("idx")
    prev_mod = F.lag("self_mod", 1).over(w)
    w1 = F.lag("word", 1).over(w)
    w2 = F.lag("word", 2).over(w)
    ctx = att.select(
        *key_cols,
        "p_milli",
        "s_milli",
        "is_hit",
        "self_mod",
        F.coalesce(prev_mod, F.lit(1.0)).alias("mi"),
        prev_mod.isNotNull().alias("prev_is_mod"),
        F.when(prev_mod.isNotNull(), w2).otherwise(w1).alias("neg_word"),
        F.coalesce(F.lead("is_hit", 1).over(w), F.lit(False)).alias("next_hit"),
    ).withColumn(
        "neg", F.coalesce(F.col("neg_word").isin(*NEGATIONS), F.lit(False))
    )
    factor = F.when(F.col("neg"), F.lit(1.0) / F.col("mi")).otherwise(F.col("mi"))
    p_a = F.greatest(
        F.lit(-1.0), F.least(F.lit(1.0), (F.col("p_milli") / F.lit(1000.0)) * factor)
    ) * F.when(F.col("neg"), F.lit(-0.5)).otherwise(F.lit(1.0))
    s_a = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), (F.col("s_milli") / F.lit(1000.0)) * factor)
    )
    # Conditional aggregation instead of filter + rejoin:
    # posexplode_outer guarantees >= 1 row per doc (a NULL token row
    # for empty text), so grouping the full context table keeps
    # zero-hit docs without a second join — the groupBy reuses the
    # window's doc-key partitioning, leaving ONE data shuffle total.
    include = F.col("is_hit") & ~(
        F.col("self_mod").isNotNull() & F.col("next_hit")
    )
    p_micro = F.round(p_a * F.lit(1000000.0)).cast("long")
    s_micro = F.round(s_a * F.lit(1000000.0)).cast("long")
    agg = ctx.groupBy(*key_cols).agg(
        F.sum(F.when(include, p_micro)).alias("sp"),
        F.sum(F.when(include, s_micro)).alias("ss"),
        F.count(F.when(include, F.lit(1))).alias("n"),
    )
    return agg.select(
        *key_cols,
        F.coalesce(F.col("sp") / (F.col("n") * F.lit(1000000.0)), F.lit(0.0)).alias(
            "polarity"
        ),
        F.coalesce(F.col("ss") / (F.col("n") * F.lit(1000000.0)), F.lit(0.0)).alias(
            "subjectivity"
        ),
    )
