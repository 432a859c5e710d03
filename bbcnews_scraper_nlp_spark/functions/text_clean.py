"""Text normalization: the reference's ``clean()`` chain as native
Catalyst expressions.

Reference semantics (``dags/scripts/data_preparation.py:29-57``), an
ORDER-SENSITIVE regex chain run per row in Python:

  1. lower + strip                      (data_preparation.py:34)
  2. drop urls        r'http\\S+'        (:35)
  3. drop html tags   r'<.*?>'          (:36)
  4. non [ 0-9a-z] -> space             (:37)
  5. drop multi-digit tokens r'\\b(\\d+\\d)\\b'  (:38)
  6. drop scheme words r'http|https|www' (:39)
  7. drop single letters r'\\b[a-z]\\b'   (:40)
  8. collapse spaces  r' +' -> ' '       (:41)
  9. strip punctuation (string.translate) (:42)
 10. tokenize, keep len(w) > 2, drop stopwords, rejoin (:44-56)

Here each step is one ``F.*`` call -> the whole chain fuses into a
single WholeStageCodegen projection (no Python in the hot path).
100 TB note: pure narrow transformation, no shuffle, scales linearly
with input splits.
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F

# NLTK english stopword list (public domain word list, replicated
# statically so the engine has zero NLTK dependency), extended with
# the reference's custom additions {'from','re','also'}
# (data_preparation.py:44-49).
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had",
    "having", "do", "does", "did", "doing", "a", "an", "the", "and",
    "but", "if", "or", "because", "as", "until", "while", "of", "at",
    "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own",
    "same", "so", "than", "too", "very", "s", "t", "can", "will",
    "just", "don", "don't", "should", "should've", "now", "d", "ll",
    "m", "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn",
    "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't",
    "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't",
    "shan", "shan't", "shouldn", "shouldn't", "wasn", "wasn't",
    "weren", "weren't", "won", "won't", "wouldn", "wouldn't",
)

CUSTOM_STOPWORDS: tuple[str, ...] = ("from", "re", "also")

ALL_STOPWORDS: tuple[str, ...] = tuple(
    dict.fromkeys(ENGLISH_STOPWORDS + CUSTOM_STOPWORDS)
)


def normalize_text(col: Column) -> Column:
    """Steps 1-9: character-level normalization (no tokenization)."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"http\S+", "")
    c = F.regexp_replace(c, r"<.*?>", "")
    c = F.regexp_replace(c, r"[^ 0-9a-z]", " ")
    c = F.regexp_replace(c, r"\b(\d+\d)\b", "")
    c = F.regexp_replace(c, r"http|https|www", "")
    c = F.regexp_replace(c, r"\b[a-z]\b", "")
    c = F.regexp_replace(c, r" +", " ")
    # string.punctuation translate — after step 4 it's a no-op on the
    # remaining [ 0-9a-z] alphabet, kept for semantic fidelity.
    c = F.translate(c, string.punctuation, "")
    return c


def _stopword_map() -> Column:
    from itertools import chain

    return F.create_map(
        *chain.from_iterable((F.lit(w), F.lit(True)) for w in ALL_STOPWORDS)
    )


MIN_TOKEN_LEN = 2  # tokens must be longer than this


def filter_tokens(tokens: Column) -> Column:
    """Token filter: len(w) > MIN_TOKEN_LEN AND w not a stopword
    (data_preparation.py:54-56, F8/F9).

    Membership via map lookup, not array_contains: HOF lambdas are
    interpreted, and a 180-element array scan per token costs ~1.7x
    more than the hash lookup (measured at sf0.1)."""
    stop = _stopword_map()
    return F.filter(
        tokens,
        lambda w: (F.length(w) > MIN_TOKEN_LEN)
        & ~F.coalesce(F.element_at(stop, w), F.lit(False)),
    )


def clean_text(col: Column) -> Column:
    """Full clean(): normalized, token-filtered, space-rejoined string."""
    tokens = F.split(F.trim(normalize_text(col)), " ")
    return F.array_join(filter_tokens(tokens), " ")


def clean_tokens(col: Column) -> Column:
    """clean() but returning the token array (for vectorization)."""
    return filter_tokens(F.split(F.trim(normalize_text(col)), " "))


def word_count(col: Column) -> Column:
    """P3: len(text.split(' ')) (data_preparation.py:89,94)."""
    return F.size(F.split(col, " "))
