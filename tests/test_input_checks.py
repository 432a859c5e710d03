"""Operator input checks raise ValueError/TypeError, not ``assert``:
an assert vanishes under ``python -O`` and the bad input would then
run on. Every check fires before the operator touches Spark, so no
session is needed."""

import pytest

from bbcnews_scraper_nlp_spark.operators.ahocorasick import (
    automaton_frame,
    badword_flag,
)
from bbcnews_scraper_nlp_spark.operators.suffixarray import (
    SEED_LOG2,
    suffix_window_ranks,
)
from bbcnews_scraper_nlp_spark.operators.textstats import build_inverted_index


@pytest.mark.parametrize(
    "call, exc",
    [
        (lambda: automaton_frame(None, []), ValueError),
        (lambda: automaton_frame(None, ["abc", ""]), ValueError),
        (lambda: badword_flag(None, "doc_id", "text", []), ValueError),
        (lambda: badword_flag(None, "doc_id", "text", ["two words"]), ValueError),
        (lambda: build_inverted_index([("a b",)], "text", "doc_id"), TypeError),
        (
            lambda: suffix_window_ranks(
                None, "doc_id", "text", window_log2=SEED_LOG2 - 1
            ),
            ValueError,
        ),
    ],
    ids=[
        "ac-no-patterns",
        "ac-empty-pattern",
        "badword-no-words",
        "badword-spaced-word",
        "inverted-index-not-a-frame",
        "suffix-window-below-seed",
    ],
)
def test_bad_input_raises(call, exc):
    with pytest.raises(exc):
        call()
