"""Sentiment surfaces: pure-expression vs broadcast-join vs pandas
UDF — identical scores where semantics coincide; negation rule."""

from __future__ import annotations

from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.functions import sentiment as S


def test_expr_matches_python(spark):
    rows = [
        (0, "good fast table"),
        (1, "slow bad error"),
        (2, "no lexicon words here"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    toks = F.split(F.col("text"), " ")
    got = {
        r["id"]: (r["p"], r["s"])
        for r in df.select(
            "id",
            S.polarity_expr(toks).alias("p"),
            S.subjectivity_expr(toks).alias("s"),
        ).collect()
    }
    lex = S.DEFAULT_LEXICON
    for i, text in rows:
        hits = [lex[w] for w in text.split(" ") if w in lex]
        exp_p = sum(h[0] for h in hits) / len(hits) if hits else 0.0
        exp_s = sum(h[1] for h in hits) / len(hits) if hits else 0.0
        assert abs(got[i][0] - exp_p) < 1e-12
        assert abs(got[i][1] - exp_s) < 1e-12


def test_join_path_matches_expr_path(spark):
    df = spark.createDataFrame(
        [(0, "good fast table"), (1, "slow bad"), (2, "nothing matches")],
        "id long, text string",
    )
    toks_df = df.select("id", F.split("text", " ").alias("tokens"))
    lex_rows = [
        (w, round(p * 1000), round(s * 1000))
        for w, (p, s) in S.DEFAULT_LEXICON.items()
    ]
    lex_df = spark.createDataFrame(lex_rows, "word string, p_milli long, s_milli long")
    joined = {
        r["id"]: (r["polarity"], r["subjectivity"])
        for r in S.score_with_lexicon_join(toks_df, "tokens", ["id"], lex_df).collect()
    }
    expr = {
        r["id"]: (r["p"], r["s"])
        for r in df.select(
            "id",
            S.polarity_expr(F.split("text", " ")).alias("p"),
            S.subjectivity_expr(F.split("text", " ")).alias("s"),
        ).collect()
    }
    for i in joined:
        assert abs(joined[i][0] - expr[i][0]) < 1e-12
        assert abs(joined[i][1] - expr[i][1]) < 1e-12


def test_pandas_udf_negation(spark):
    df = spark.createDataFrame([("not good",), ("good",)], "text string")
    udf = S.make_sentiment_pandas_udf()
    out = [r["s"]["polarity"] for r in df.select(udf("text").alias("s")).collect()]
    # "not good" -> -0.5 * 0.7; "good" -> 0.7
    assert abs(out[0] - (-0.35)) < 1e-12
    assert abs(out[1] - 0.7) < 1e-12


def test_full_lexicon_shape_and_scores(spark):
    from bbcnews_scraper_nlp_spark.functions.lexicon_data import full_lexicon

    lex = full_lexicon()
    # realistic lexicon size (TextBlob's en-sentiment.xml is ~2.9k);
    # all scores quantized to 3 decimals within the conventional ranges
    assert len(lex) >= 2000
    for w, (p, s) in lex.items():
        assert -1.0 <= p <= 1.0 and 0.0 <= s <= 1.0, w
        assert round(p, 3) == p and round(s, 3) == s, w
    # spot anchors (TextBlob-style values)
    assert lex["good"] == (0.7, 0.6)
    assert lex["great"] == (0.8, 0.75)
    assert lex["horrible"] == (-1.0, 1.0)
    # morphology inherits base scores; un- negates at 0.85
    assert lex["happily"] == lex["happy"]
    assert lex["loved"] == lex["love"]
    assert abs(lex["unhappy"][0] - (-0.85 * lex["happy"][0])) < 1e-9


def test_lexicon_matches_pattern_public_within_quantization():
    """Round-7 parity ask: every word in the PATTERN_PUBLIC alignment
    layer (publicly-documented Pattern averaged-sense values for the
    highest-df news words) must survive merge + morphology with its
    aligned score intact — i.e. the residual vs the public values is
    exactly the 3-decimal quantization (0 for pre-quantized entries).
    Before the alignment layer the same 110-word frozen set measured
    mean |polarity delta| = 0.1235 (33 words absent, 48 editorial
    values off); this test freezes it at 0."""
    from bbcnews_scraper_nlp_spark.functions.lexicon_data import (
        PATTERN_PUBLIC,
        full_lexicon,
    )

    lex = full_lexicon()
    assert len(PATTERN_PUBLIC) >= 110
    deltas = []
    for w, (p, s, _pos) in PATTERN_PUBLIC.items():
        assert w in lex, w
        ep, es = lex[w]
        assert abs(ep - p) <= 5e-4, (w, ep, p)
        assert abs(es - s) <= 5e-4, (w, es, s)
        deltas.append(abs(ep - p))
    assert sum(deltas) / len(deltas) <= 5e-4
    # morphology expands aligned bases: surface forms inherit the
    # PATTERN_PUBLIC score, not a stale editorial one
    assert lex["happily"] == lex["happy"] == (0.8, 1.0)
    assert lex["colder"][0] == round(-0.6 * 1.1, 3)


def test_full_lexicon_corpus_frozen_oracle(spark):
    # Frozen-oracle fixture: a small mixed-sentiment corpus scored
    # through the broadcast-join path. Expected means are hand-derived
    # from the lexicon entries (see inline math); tolerance 1e-9 —
    # the integer-milli aggregation is exact, not approximate.
    rows = [
        (0, "the team played a great game and the fans were happy"),
        (1, "a terrible crash caused major delays and anger"),
        (2, "markets were steady with modest growth this quarter"),
        (3, "neutral words appear in this sentence here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lex = S.full_lexicon_df(spark)
    toks = df.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    agg = (
        toks.join(F.broadcast(lex), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("p_milli").alias("n"),
            F.sum("p_milli").alias("p"),
            F.sum("s_milli").alias("s"),
        )
    )
    got = {
        r["doc_id"]: (
            (r["p"] / (r["n"] * 1000.0)) if r["n"] else 0.0,
            (r["s"] / (r["n"] * 1000.0)) if r["n"] else 0.0,
        )
        for r in agg.collect()
    }
    # doc 0: great(.8,.75) + happy(.8,1.0) -> (0.8, 0.875)
    assert abs(got[0][0] - 0.8) < 1e-9 and abs(got[0][1] - 0.875) < 1e-9
    # doc 1: terrible(-1,1) + crash(-.5,.55) + major(.062,.5 —
    #        Pattern-public) + delays(-.3,.4) -> (-0.4345, 0.6125)
    assert abs(got[1][0] + 0.4345) < 1e-9 and abs(got[1][1] - 0.6125) < 1e-9
    # doc 2: steady(.3,.4) + growth(.3,.35) -> (0.3, 0.375)
    assert abs(got[2][0] - 0.3) < 1e-9 and abs(got[2][1] - 0.375) < 1e-9
    # doc 3: no lexicon hits -> (0.0, 0.0), the TextBlob default
    assert got[3] == (0.0, 0.0)
    # corpus means land in the reference's published ballpark
    # (articles_sentiments.csv: mean polarity 0.0654, subjectivity
    # 0.3966): mildly positive polarity, moderate subjectivity
    mean_p = sum(v[0] for v in got.values()) / len(got)
    mean_s = sum(v[1] for v in got.values()) / len(got)
    assert 0.0 < mean_p < 0.2
    assert 0.3 < mean_s < 0.6


# ----- PatternAnalyzer chunk rules (round 5) -------------------------

# Canonically-documented TextBlob outputs (public docs / PatternAnalyzer
# examples). The engine lexicon carries the Pattern-exact entries for
# these words (good 0.7/0.6, great 0.8/0.75, very 0.2/0.3), so the rule
# engine must land within micro-quantization (5e-7) of TextBlob here.
_CANONICAL = [
    ("good", 0.7, 0.6),
    ("great", 0.8, 0.75),
    ("very", 0.2, 0.3),
    ("very good", 0.91, 0.78),  # modifier: p*1.3, s*1.3
    ("very great", 1.0, 0.975),  # clamp(0.8*1.3) -> 1.0
    ("not good", -0.35, 0.6),  # negation: -0.5*p, s unchanged
    ("not very good", -0.26923076923076916, 0.46153846153846145),
    ("good and bad", 0.0, 0.6335),  # mean of two assessments
    ("", 0.0, 0.0),
    ("xyzzy plugh", 0.0, 0.0),  # no lexicon hit -> (0, 0) like TextBlob
]
# lexicon-quantization-limited rows (engine stores 3-decimal milli
# scores: bad = -0.7/0.667 vs TextBlob's sense-average 0.6666...):
_QUANTIZED = [
    ("bad", -0.6999999999999998, 0.6666666666666666),
    ("not bad", 0.3499999999999999, 0.6666666666666666),
]


def test_pattern_rules_canonical_textblob_values(spark):
    rows = [(i, t) for i, (t, _, _) in enumerate(_CANONICAL + _QUANTIZED)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["polarity"], r["subjectivity"])
        for r in S.pattern_scores(spark, df, "text", ["doc_id"]).collect()
    }
    for i, (text, p, s) in enumerate(_CANONICAL):
        gp, gs = got[i]
        assert abs(gp - p) <= 5e-7, (text, gp, p)
        assert abs(gs - s) <= 5e-7, (text, gs, s)
    for j, (text, p, s) in enumerate(_QUANTIZED):
        gp, gs = got[len(_CANONICAL) + j]
        assert abs(gp - p) <= 5e-4, (text, gp, p)
        assert abs(gs - s) <= 5e-4, (text, gs, s)


def test_pattern_rules_modifier_absorption_and_chunks(spark):
    # "very" directly before a hit is absorbed (one assessment, not
    # two); a trailing "very" scores alone; negation window reaches
    # across one modifier only.
    rows = [
        (0, "very good very"),  # assessments: [very+good 0.91, very 0.2]
        (1, "never very good"),  # negation across modifier
        (2, "not xyzzy good"),  # negation does NOT skip a non-chunk word
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["polarity"], r["subjectivity"])
        for r in S.pattern_scores(spark, df, "text", ["doc_id"]).collect()
    }
    assert abs(got[0][0] - (0.91 + 0.2) / 2) <= 5e-7
    assert abs(got[0][1] - (0.78 + 0.3) / 2) <= 5e-7
    assert abs(got[1][0] - (-0.26923076923076916)) <= 5e-7
    # "not" two back with no modifier between -> not a negation chunk
    assert abs(got[2][0] - 0.7) <= 5e-7


def test_pattern_yearly_trend_matches_pandas_on_golden_csv(spark):
    # The reference publishes per-article TextBlob scores
    # (data/articles_sentiments.csv; notebooks/sentiment_analysis.ipynb
    # cell 7 produced them, cell 14 aggregates by date). The article
    # TEXT is not in the published artifacts (it lived in Mongo), so
    # per-article regeneration is impossible offline — but the
    # downstream trend aggregation IS checkable end-to-end: our Spark
    # aggregation over the golden inputs must match the notebook's
    # pandas groupby().mean() exactly.
    import os

    import pandas as pd
    import pytest

    golden = "/root/reference/data/articles_sentiments.csv"
    if not os.path.exists(golden):
        pytest.skip("reference golden CSV not available")
    pdf = pd.read_csv(golden)
    pdf["year"] = pd.to_datetime(
        pdf["date"], format="mixed", utc=True
    ).dt.year
    expect = pdf.groupby("year")[["polarity", "subjectivity"]].mean()

    df = (
        spark.read.option("header", True)
        .csv(golden)
        .select(
            F.year(F.to_timestamp("date")).alias("year"),
            F.col("polarity").cast("double"),
            F.col("subjectivity").cast("double"),
        )
    )
    got = {
        r["year"]: (r["p"], r["s"])
        for r in df.groupBy("year")
        .agg(F.avg("polarity").alias("p"), F.avg("subjectivity").alias("s"))
        .collect()
    }
    assert set(got) == set(expect.index)
    for year, row in expect.iterrows():
        assert abs(got[year][0] - row["polarity"]) < 1e-9, year
        assert abs(got[year][1] - row["subjectivity"]) < 1e-9, year
    # and the reference's overall means reproduce from the golden data
    assert abs(pdf["polarity"].mean() - 0.0654) < 5e-3
    assert abs(pdf["subjectivity"].mean() - 0.3966) < 5e-3
