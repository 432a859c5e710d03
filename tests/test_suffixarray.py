"""Suffix-array exact-substring dedup (operators/suffixarray.py):
literal-Python twin of the whole span extraction, plus rank-semantics
properties of the bounded-window prefix-doubling suffix ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.catalog import load_table
from bbcnews_scraper_nlp_spark.operators.suffixarray import (
    duplicated_spans,
    remove_duplicated_spans,
    suffix_window_ranks,
)


def _python_spans(texts, span_len=16, min_count=2):
    """Literal-Python ExactSubstr twin: count every span_len-token
    gram, merge duplicated gram starts into maximal intervals."""
    toks = {i: [t for t in (s or "").split() if t] for i, s in texts}
    counts: dict[tuple, int] = {}
    for ts in toks.values():
        for p in range(max(len(ts) - span_len + 1, 0)):
            key = tuple(ts[p : p + span_len])
            counts[key] = counts.get(key, 0) + 1
    out = []
    for i, ts in toks.items():
        starts = [
            p
            for p in range(max(len(ts) - span_len + 1, 0))
            if counts[tuple(ts[p : p + span_len])] >= min_count
        ]
        if not starts:
            continue
        lo = prev = starts[0]
        n = 1
        for p in starts[1:]:
            if p - prev > span_len:
                out.append((i, lo, prev + span_len, prev + span_len - lo, n))
                lo, n = p, 0
            prev = p
            n += 1
        out.append((i, lo, prev + span_len, prev + span_len - lo, n))
    return sorted(out)


def test_spans_match_python_twin_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r)
        for r in duplicated_spans(docs, "doc_id", "text").collect()
    )
    texts = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    assert got == _python_spans(texts)
    assert len(got) > 0  # the fixture really exercises the operator


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        # doc 0 and 1 share a 20-token run (maximal span crosses the
        # 16-window boundary -> island merge), doc 2 repeats its own
        # 16-gram twice (within-doc dup), doc 3 is a near-miss
        # (15 shared tokens), doc 4 is shorter than the window,
        # doc 5 is empty, doc 6 ends with a truncated copy of doc 0's
        # opening (prefix-collision guard for the truncated windows).
        (0, " ".join(f"w{i}" for i in range(20)) + " tail0 tail1"),
        (1, "lead " + " ".join(f"w{i}" for i in range(20))),
        (2, " ".join(f"r{i % 16}" for i in range(32)) + " x y"),
        (3, " ".join(f"w{i}" for i in range(15)) + " zzz other pad pad2"),
        (4, "a b c"),
        (5, ""),
        (6, "q0 q1 q2 " + " ".join(f"w{i}" for i in range(10))),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_spans_match_python_twin_on_planted(spark, tiny):
    got = sorted(
        tuple(r) for r in duplicated_spans(tiny, "doc_id", "text").collect()
    )
    texts = [(r["doc_id"], r["text"]) for r in tiny.collect()]
    exp = _python_spans(texts)
    assert got == exp
    ids = {r[0] for r in got}
    assert {0, 1, 2} <= ids  # planted dups found
    assert 3 not in ids and 4 not in ids and 6 not in ids  # near-misses not


def _python_removed(texts, span_len=16, min_count=2):
    """Literal-Python twin of remove_duplicated_spans: delete every
    token covered by a duplicated-span island, reassemble in order."""
    cover: dict[int, set[int]] = {}
    for i, lo, hi, _, _ in _python_spans(texts, span_len, min_count):
        cover.setdefault(i, set()).update(range(lo, hi))
    out = {}
    for i, s in texts:
        ts = [t for t in (s or "").split() if t]
        cov = cover.get(i, set())
        keep = [w for p, w in enumerate(ts) if p not in cov]
        out[i] = (" ".join(keep), len(ts) - len(keep))
    return out


def test_span_removal_matches_python_twin_on_planted(spark, tiny):
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicated_spans(tiny, "doc_id", "text").collect()
    }
    texts = [(r["doc_id"], r["text"]) for r in tiny.collect()]
    assert got == _python_removed(texts)
    # docs 0/1/2 lose their planted duplicated runs but keep the
    # unshared remainder; untouched docs pass through whole
    assert got[0] == ("tail0 tail1", 20)
    assert got[1] == ("lead", 20)
    assert got[3][1] == 0 and got[4] == ("a b c", 0)
    assert got[5] == ("", 0)


def test_span_removal_matches_python_twin_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicated_spans(docs, "doc_id", "text").collect()
    }
    texts = [
        (r["doc_id"], r["text"])
        for r in docs.select("doc_id", "text").collect()
    ]
    assert got == _python_removed(texts)
    # the fixture exercises both branches: some docs lose spans,
    # most pass through untouched, and every doc emits a row
    assert any(n > 0 for _, n in got.values())
    assert any(n == 0 for _, n in got.values())
    assert len(got) == docs.count()


def test_suffix_removal_equals_ngram_removal_on_testdata(spark, sf_dir):
    """Suffix-array removal at span_len=16 deletes exactly the tokens
    n-gram removal at n=16, min_count=2 deletes (the
    suffix_span_removal oracle's claim): island coverage is the union
    of duplicated 16-gram windows. Both feed dedup.remove_covered, so
    this pins the shared reassembly from both coverage steps."""
    from bbcnews_scraper_nlp_spark.operators.dedup import remove_dup_spans

    docs = load_table(spark, sf_dir, "documents")
    suffix = sorted(
        tuple(r)
        for r in remove_duplicated_spans(
            docs, "doc_id", "text"
        ).collect()
    )
    ngram = sorted(
        tuple(r)
        for r in remove_dup_spans(
            docs, "doc_id", "text", n=16
        ).collect()
    )
    assert suffix == ngram
    assert any(n > 0 for _, _, n in suffix)


def test_rank_is_bijective_with_window_content(spark, tiny):
    ranked = suffix_window_ranks(tiny, "doc_id", "text", window_log2=4)
    rows = ranked.collect()
    texts = {r["doc_id"]: (r["text"] or "").split() for r in tiny.collect()}
    # rank <-> (possibly truncated) 16-token window content bijection
    by_v: dict[int, set] = {}
    by_win: dict[tuple, set] = {}
    for r in rows:
        win = tuple(texts[r["__id"]][r["pos"] : r["pos"] + 16])
        by_v.setdefault(r["v"], set()).add(win)
        by_win.setdefault(win, set()).add(r["v"])
    assert all(len(s) == 1 for s in by_v.values())
    assert all(len(s) == 1 for s in by_win.values())
    # two-level ranks are dense 1..n_distinct
    vs = {r["v"] for r in rows}
    assert vs == set(range(1, len(by_win) + 1))


def test_rank_order_is_lexicographic_over_seed_ranks(spark, tiny):
    """The suffix-ORDER half of the claim: the window-16 rank order
    equals lexicographic order over the sequence of SEED-GRAM ranks
    at p, p+4, p+8, p+12 (sentinel -1 past the document end) — i.e.
    the doubling rounds compose the seed alphabet order exactly. The
    seed ranks themselves come from a window_log2=2 call (no doubling
    rounds), so this pins the rounds, not the seed permutation."""
    seed_rows = suffix_window_ranks(
        tiny, "doc_id", "text", window_log2=2
    ).collect()
    seed_rank = {(r["__id"], r["pos"]): r["v"] for r in seed_rows}
    rows = suffix_window_ranks(
        tiny, "doc_id", "text", window_log2=4
    ).collect()
    keyed = sorted(
        (
            tuple(
                seed_rank.get((r["__id"], r["pos"] + 4 * j), -1)
                for j in range(4)
            ),
            r["v"],
        )
        for r in rows
    )
    for (k1, v1), (k2, v2) in zip(keyed, keyed[1:]):
        if k1 < k2:
            assert v1 < v2
        else:
            assert k1 == k2 and v1 == v2
    assert len({k for k, _ in keyed}) > 2


def _python_contaminated_spans(texts, bench_ids, span_len=16):
    """Literal twin of contaminated_spans: bench grams -> train
    span merge."""
    toks = {i: [t for t in (s or "").split() if t] for i, s in texts}
    bench_grams = set()
    for i in bench_ids:
        ts = toks[i]
        for p in range(max(len(ts) - span_len + 1, 0)):
            bench_grams.add(tuple(ts[p : p + span_len]))
    out = []
    for i, ts in toks.items():
        if i in bench_ids:
            continue
        starts = [
            p
            for p in range(max(len(ts) - span_len + 1, 0))
            if tuple(ts[p : p + span_len]) in bench_grams
        ]
        if not starts:
            continue
        lo = prev = starts[0]
        n = 1
        for p in starts[1:]:
            if p - prev > span_len:
                out.append((i, lo, prev + span_len, prev + span_len - lo, n))
                lo, n = p, 0
            prev = p
            n += 1
        out.append((i, lo, prev + span_len, prev + span_len - lo, n))
    return sorted(out)


def test_contamination_matches_python_twin_on_testdata(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.q_traindata import (
        exact_substr_contamination,
    )

    got = sorted(
        tuple(r) for r in exact_substr_contamination(spark, sf_dir).collect()
    )
    docs = load_table(spark, sf_dir, "documents")
    texts = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    bench_ids = {i for i, _ in texts if i % 13 == 0}
    assert got == _python_contaminated_spans(texts, bench_ids)
    assert len(got) > 0
    assert all(r[0] % 13 != 0 for r in got)  # bench docs never emitted


def test_contamination_planted(spark):
    from bbcnews_scraper_nlp_spark.operators.suffixarray import (
        contaminated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(18))
    rows = [
        # bench doc carrying the planted passage
        (0, f"bhead {shared} btail", True),
        # train doc quoting it verbatim -> one maximal span
        (1, f"thead1 thead2 {shared} ttail", False),
        # train doc sharing a 16-gram with ANOTHER TRAIN doc only ->
        # not contaminated (duplication != contamination)
        (2, "u0 " + " ".join(f"t{i}" for i in range(17)), False),
        (3, "u1 " + " ".join(f"t{i}" for i in range(17)), False),
        # 15-token overlap with bench -> below threshold
        (4, " ".join(f"s{i}" for i in range(15)) + " zzz pad1 pad2", False),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_bench"])
    got = sorted(
        tuple(r)
        for r in contaminated_spans(df, "doc_id", "text", "is_bench").collect()
    )
    # doc 1: shared has 18 tokens -> starts at pos 2,3,4 merge into
    # [2, 20), 3 dup starts
    assert got == [(1, 2, 20, 18, 3)]
