"""Aho-Corasick multi-pattern matching (Aho & Corasick 1975): the
scale path for 10k+-pattern blocklists — one linear pass per document
instead of one scan per pattern (the C4 bad-word flag and the PII
scrub pattern-match small fixed lists; this is the operator they
graduate to when the list grows).

Reference intent: the keyword/stop-list filters of the reference
pipeline (``BBCNews-scraper-nlp`` text cleaning) generalized to
arbitrary-size phrase lists.

Split of labor:
- The goto/fail automaton is built RELATIONALLY over the pattern
  table (``automaton_frame``): nodes are the distinct prefixes
  (prefix explode + distinct), each node's fail link is its longest
  proper suffix that is also a node (suffix explode + semi-join +
  per-node argmax), and each node's output set is every pattern that
  suffixes it (same suffix explode joined to the pattern table).
  Every step is a bounded keyed join — at 10k+ patterns this is a
  few-MB frame, and the construction parallelizes over patterns
  instead of serializing through one driver loop.
- Matching runs as one Arrow-batched ``mapInPandas`` pass: the
  automaton frame (bounded by construction: one row per distinct
  prefix) is collected once and closure-broadcast; each document
  streams through the goto/fail walk in O(chars + matches),
  independent of pattern count — that independence is the whole
  point vs per-pattern scans.

Per-match semantics: ALL occurrences, overlapping included, within a
pattern and across nested patterns (matching "scan" also reports its
suffix patterns "can"/"an" at the same end position) — exactly the
dictionary-suffix-link semantics, realized here by the direct
suffix-set output table.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def automaton_frame(spark: SparkSession, patterns: list[str]) -> DataFrame:
    """Relational goto/fail automaton over ``patterns`` (non-empty
    strings). Returns one row per trie node (= distinct pattern
    prefix, root "" excluded): (node, fail, out) where ``fail`` is
    the longest proper suffix of ``node`` that is also a node (""
    when none) and ``out`` is the sorted array of patterns that are
    suffixes of ``node``. Raises ValueError for an empty pattern list
    or an empty pattern."""
    if not patterns or not all(patterns):
        raise ValueError("patterns must be non-empty strings")
    pats = spark.createDataFrame([(p,) for p in patterns], ["pat"])
    nodes = (
        pats.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("pat")),
                    lambda i: F.substring(F.col("pat"), 1, i),
                )
            ).alias("node")
        )
        .distinct()
    )
    # proper suffixes of each node: substring(node, i) for
    # i = 2..len+1 (i = len+1 yields "", the root — always a node)
    sfx = nodes.selectExpr(
        "node",
        "explode(transform(sequence(2, length(node) + 1), "
        "i -> substring(node, i))) AS suffix",
    )
    fail = (
        sfx.filter(F.col("suffix") != "")
        .join(
            nodes.select(F.col("node").alias("suffix")),
            "suffix",
            "left_semi",
        )
        .groupBy("node")
        .agg(F.max_by("suffix", F.length("suffix")).alias("fail"))
    )
    out = (
        sfx.select("node", "suffix")
        .unionByName(nodes.select("node", F.col("node").alias("suffix")))
        .join(pats.select(F.col("pat").alias("suffix")), "suffix", "left_semi")
        .groupBy("node")
        .agg(F.array_sort(F.collect_set("suffix")).alias("out"))
    )
    return (
        nodes.join(fail, "node", "left")
        .join(out, "node", "left")
        .select(
            "node",
            F.coalesce("fail", F.lit("")).alias("fail"),
            F.coalesce("out", F.array().cast("array<string>")).alias("out"),
        )
    )


def _walk(text: str, nodeset: set, fail: dict, out: dict) -> list[tuple]:
    """goto/fail walk; returns (end_pos_1based, pattern) matches."""
    state = ""
    hits = []
    for j, c in enumerate(text, start=1):
        while state and (state + c) not in nodeset:
            state = fail[state]
        state = state + c if (state + c) in nodeset else ""
        for p in out.get(state, ()):
            hits.append((j, p))
    return hits


def match_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    automaton: DataFrame,
) -> DataFrame:
    """(id, pattern, n_matches, first_end, last_end) per document and
    matched pattern — all occurrences, overlapping included; end
    positions 1-based (end = start + len(pattern) - 1). One
    mapInPandas pass; the automaton is collected once (bounded: one
    row per distinct pattern prefix) into plain dicts closed over by
    the batch function."""
    rows = automaton.collect()
    nodeset = {r["node"] for r in rows}
    fail = {r["node"]: r["fail"] for r in rows}
    out = {r["node"]: tuple(r["out"]) for r in rows if r["out"]}

    schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("pattern", T.StringType()),
            T.StructField("n_matches", T.LongType()),
            T.StructField("first_end", T.LongType()),
            T.StructField("last_end", T.LongType()),
        ]
    )

    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["__id"], pdf["__text"]):
                agg: dict[str, list[int]] = {}
                for j, p in _walk(text, nodeset, fail, out):
                    a = agg.setdefault(p, [0, j, j])
                    a[0] += 1
                    a[2] = j
                for p, (n, fe, le) in agg.items():
                    recs.append((int(doc_id), p, n, fe, le))
            yield pd.DataFrame(
                recs,
                columns=["__id", "pattern", "n_matches", "first_end", "last_end"],
            )

    return base.mapInPandas(batches, schema).withColumnRenamed("__id", id_col)


def badword_flag(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: list[str],
    flag_col: str = "has_badword",
) -> DataFrame:
    """The C4 bad-word page flag (Raffel et al. 2020 §2.2) on the AC
    kernel — the production gate and the certified matcher sharing
    one automaton. Exact TOKEN-membership semantics (the published
    rule, == ``arrays_overlap(split(text, ' '), words)``) realized as
    substring matching: each word becomes the pattern " word " and
    the text is padded with one space on each side, so a hit occurs
    iff the word appears as a whole single-space-delimited token.
    One O(chars + matches) walk at ANY list size — the small-list
    ``arrays_overlap`` projection is O(tokens x words), which is the
    scan this operator exists to beat past ~10³ words.

    Returns ``df`` with ``flag_col`` (int 0/1) appended. Raises
    ValueError for an empty word list or an empty or spaced word."""
    if not words or not all(w and " " not in w for w in words):
        raise ValueError(
            "bad words must be non-empty and space-free (token semantics)"
        )
    auto = automaton_frame(
        df.sparkSession, [f" {w} " for w in sorted(set(words))]
    )
    padded = df.select(
        F.col(id_col),
        F.concat(
            F.lit(" "), F.coalesce(F.col(text_col), F.lit("")), F.lit(" ")
        ).alias("__pt"),
    )
    hits = (
        match_counts(padded, id_col, "__pt", auto)
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn(flag_col, F.coalesce("__hit", F.lit(0)).cast("int"))
        .drop("__hit")
    )
