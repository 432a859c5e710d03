"""P13/F10: rule lemmatizer — kernel correctness and the pure-
Catalyst expression twin's token-for-token parity with the
pandas-UDF path (the expression is the production path; the UDF is
the real-model mount point, so they must never drift)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.functions.lemmatize import (
    IRREGULAR_NOUNS,
    IRREGULAR_VERBS,
    POS_WHITELIST,
    _lemmatize_text,
    heuristic_pos,
    lemmatize_text_expr,
    make_lemmatize_udf,
    rule_lemma,
)


def test_irregular_forms():
    # morphy-style exception tables fire before detachment rules
    assert rule_lemma("children", "NNS") == "child"
    assert rule_lemma("men", "NNS") == "man"
    assert rule_lemma("analyses", "NNS") == "analysis"
    assert rule_lemma("went", "VBD") == "go"
    assert rule_lemma("bought", "VBD") == "buy"
    assert rule_lemma("written", "VBN") == "write"
    assert rule_lemma("worst", "JJS") == "bad"
    # and the tagger recognizes suffix-less irregulars
    assert heuristic_pos("bought") == "VBD"
    assert heuristic_pos("men") == "NNS"
    assert heuristic_pos("worst") == "JJR"


def test_regular_rules_still_apply():
    assert rule_lemma("stories", "NNS") == "story"
    assert rule_lemma("boxes", "NNS") == "box"
    assert rule_lemma("running", "VBG") == "run"
    assert rule_lemma("quickly", "RB") == "quick"
    assert rule_lemma("greater", "JJR") == "great"


_FIXTURE = [
    "The children were running quickly toward better stories",
    "Markets analyses showed worse losses than expected",
    "she bought boxes of apples and wrote letters",
    "",
    "word",
    "Taxes rise as economies grew stronger last year",
    None,  # NULL text: both paths must yield "" (oracle parity)
    "tabs\tbetween\twords",
    "newlines\nsplit\ntokens  and   double  spaces",
]


def test_expr_matches_udf_fixture(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(_FIXTURE)], "id long, text string")
    udf = make_lemmatize_udf(POS_WHITELIST)
    out = df.select(
        "id",
        udf("text").alias("via_udf"),
        lemmatize_text_expr(F.col("text"), POS_WHITELIST).alias("via_expr"),
    ).collect()
    for r in out:
        assert r["via_udf"] == r["via_expr"], r
    # no-whitelist flavor too
    udf_all = make_lemmatize_udf(None)
    out = df.select(
        udf_all("text").alias("u"),
        lemmatize_text_expr(F.col("text")).alias("e"),
    ).collect()
    for r in out:
        assert r["u"] == r["e"], r


def test_expr_matches_udf_real_docs(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mismatch = (
        docs.select(
            make_lemmatize_udf(POS_WHITELIST)("text").alias("u"),
            lemmatize_text_expr(F.col("text"), POS_WHITELIST).alias("e"),
        )
        .filter(F.col("u") != F.col("e"))
        .count()
    )
    assert mismatch == 0


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12),
        min_size=0,
        max_size=8,
    )
)
def test_python_kernel_deterministic(words):
    text = " ".join(words)
    assert _lemmatize_text(text, None) == _lemmatize_text(text, None)
    for w in words:
        pos = heuristic_pos(w)
        lem = rule_lemma(w, pos)
        assert lem == lem.lower()
        # idempotence on the noun path: re-lemmatizing a noun lemma
        # with its own tag must not shrink it to nothing
        assert len(lem) > 0


def test_pos_whitelist_drops_verbs(spark):
    df = spark.createDataFrame([(0, "running works table good")], "id long, text string")
    kept = df.select(
        lemmatize_text_expr(F.col("text"), POS_WHITELIST).alias("t")
    ).collect()[0]["t"]
    # "running" (VBG) and "works" (VB, common-verb list) are dropped
    assert "run" not in kept.split() and "work" not in kept.split()
    assert "table" in kept and "good" in kept


def test_irregulars_in_spark_expr(spark):
    df = spark.createDataFrame(
        [(0, "men bought children worst")], "id long, text string"
    )
    out = df.select(lemmatize_text_expr(F.col("text")).alias("t")).collect()[0]["t"]
    assert out == "man buy child bad"


# ----- real-model mount point (round 7) ------------------------------

# The reference lemmatizes with nltk's WordNetLemmatizer
# (dags/scripts/data_preparation.py:60-80): per-token POS tag, first
# letter through tag_dict {J:a, N:n, V:v, R:r} with NOUN default,
# then lemmatizer.lemmatize(word, pos). make_lemmatize_udf(model=...)
# is the engine's slot for exactly that callable.

# 20 irregular forms whose WordNet lemma is fixed by morphy's
# exception lists — the cases a rule kernel can only cover by table,
# so they prove a real model (not suffix rules) ran in the slot.
_IRREGULAR_FIXTURE = [
    ("ran", "run"), ("went", "go"), ("took", "take"), ("gave", "give"),
    ("wrote", "write"), ("spoke", "speak"), ("threw", "throw"),
    ("drove", "drive"), ("mice", "mouse"), ("geese", "goose"),
    ("feet", "foot"), ("women", "woman"), ("children", "child"),
    ("teeth", "tooth"), ("wolves", "wolf"), ("knives", "knife"),
    ("criteria", "criterion"), ("phenomena", "phenomenon"),
    ("better", "good"), ("worse", "bad"),
]


def test_model_mount_runs_external_lemmatizer(spark):
    """The pandas-UDF slot must execute an injected (word, pos) ->
    lemma callable through the real Spark path, with the reference's
    tag_dict pos mapping. The fake model covers forms ABSENT from the
    engine's irregular tables, so the rule kernel cannot have
    produced the output."""
    fake = {
        ("corpora", "n"): "corpus", ("alumni", "n"): "alumnus",
        ("cacti", "n"): "cactus", ("strived", "v"): "strive",
        ("quickly", "r"): "quick",
    }
    model = lambda w, p: fake.get((w, p), w + "!" + p)  # noqa: E731
    df = spark.createDataFrame(
        [(0, "corpora alumni cacti strived quickly window")],
        "id long, text string",
    )
    out = df.select(
        make_lemmatize_udf(model=model)("text").alias("t")
    ).collect()[0]["t"]
    # default-NOUN for untagged words, V for -ed, R for -ly — the
    # reference's mapping; "window" shows the miss marker carries the
    # pos the model received
    assert out == "corpus alumnus cactus strive quick window!n"


def test_model_mount_real_nltk_wordnet(spark):
    """Reference-parity leg: run the ACTUAL WordNetLemmatizer in the
    slot on the irregular-forms fixture (skips where nltk or its
    wordnet data is absent)."""
    nltk = pytest.importorskip("nltk")
    try:
        wnl = nltk.stem.WordNetLemmatizer()
        wnl.lemmatize("ran", "v")  # force corpus load
    except Exception:
        pytest.skip("nltk present but wordnet corpus data missing")
    words = " ".join(w for w, _ in _IRREGULAR_FIXTURE)
    expected = " ".join(lem for _, lem in _IRREGULAR_FIXTURE)
    df = spark.createDataFrame([(0, words)], "id long, text string")
    out = df.select(
        make_lemmatize_udf(model=wnl.lemmatize)("text").alias("t")
    ).collect()[0]["t"]
    assert out == expected
    # and the engine's rule kernel agrees with WordNet on these forms
    # (they are all in its irregular tables)
    kernel = df.select(
        make_lemmatize_udf()("text").alias("t")
    ).collect()[0]["t"]
    assert kernel == expected
