"""Tokenization primitives — all native Catalyst expressions.

Covers the reference's whitespace split (``text.split()``,
topic_modelling.ipynb cell 5) plus the training-data-pipeline token
surfaces: a BPE-ish regex tokenizer, word n-gram shingles, and
character shingles (for MinHash/SimHash dedup).

Everything here is a narrow per-row transformation: no shuffle, fully
codegen'd, linear scale-out.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# GPT-2-style pre-tokenizer shape, simplified to what regexp_extract_all
# supports: word pieces, numbers, punctuation runs.
BPE_ISH_PATTERN = r"('s|'t|'re|'ve|'m|'ll|'d|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)"


def bpe_ish_tokens(col: Column) -> Column:
    """Regex token stream approximating a BPE pre-tokenizer."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 1)


def token_count(col: Column) -> Column:
    return F.size(bpe_ish_tokens(col))


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-grams as ' '-joined strings; empty array when the doc
    has fewer than n tokens.

    Guarded with ``when`` because Spark's ``sequence(0, x)`` counts
    DOWN when x < 0 (it would emit [0, -1] for a 2-token doc).
    """
    empty = F.array().cast("array<string>")
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tokens, i + 1, n), " "))
    return F.when(F.size(tokens) >= n, grams).otherwise(empty)


def char_shingles(col: Column, k: int = 5) -> Column:
    """Character k-grams of a string (classic MinHash shingling)."""
    empty = F.array().cast("array<string>")
    idx = F.sequence(F.lit(1), F.length(col) - k + 1)
    grams = F.transform(idx, lambda i: F.substring(col, i, k))
    return F.when(F.length(col) >= k, grams).otherwise(empty)


def bpe_encode_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply a BPE merge sequence to one word — pure codegen.

    Representation: the word's symbol sequence as a string padded
    with one space and joined with TWO spaces (``' a  b  c '``).
    Applying merge ``(a, b)`` is then the exact non-regex
    ``replace(' a  b ', ' ab ')``: the single-space guards reject
    false suffix/prefix matches (``'xa  b'`` has no space before
    ``a``), and the double-space separator leaves one space on each
    side for BOTH neighbors to claim, so adjacent occurrences merge
    in one left-to-right non-overlapping pass — exactly the
    semantics of applying one learned merge to the symbol list
    (Sennrich et al. 2016), and the replacement restores the
    invariant for the next merge in the chain.

    The whole encode is a fixed chain of ``replace`` calls — fully
    whole-stage-codegen, no UDF, and expressible verbatim in any SQL
    engine (the oracle mirrors it with the same ``replace`` chain).
    Apply per word TYPE, not per occurrence: the vocabulary is
    Heaps-law bounded, so at 100 TB the chain runs over a few
    million distinct words while occurrences join the result back.
    """
    # regexp_replace gives every char two trailing spaces (so the
    # final char too); rtrim strips BOTH trailing spaces and the
    # outer concat adds the single leading/trailing pad
    sym = F.concat(
        F.lit(" "), F.rtrim(F.regexp_replace(word, "(.)", "$1  ")), F.lit(" ")
    )
    for a, b in merges:
        sym = F.replace(sym, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return sym


def bpe_subword_count(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Number of BPE subwords a word encodes to under ``merges``."""
    return F.size(F.split(F.trim(bpe_encode_expr(word, merges)), "  "))


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 8,
    driver_vocab_limit: int = 2_000_000,
) -> list[tuple[str, str]]:
    """Learn BPE merge rules from a corpus (Sennrich et al. 2016) —
    tokenizer TRAINING, structured the way production trainers
    (HuggingFace tokenizers, SentencePiece) scale:

    1. ONE corpus pass builds the word-frequency vocabulary (the only
       big aggregation — words explode, counts map-side combine).
    2. Merge learning runs over the VOCAB of word TYPES, which is
       Heaps-law sublinear in corpus size (~1M types even at 100 TB
       of one language) — so when it fits the driver (the normal
       case, guarded by ``driver_vocab_limit``) the sequential merge
       loop runs locally on the collected (symbols, count) pairs:
       per round, adjacent symbol pairs weighted by word count ->
       argmax pair (deterministic tie-break: count desc, pair
       lexicographic) -> greedy left-to-right fold into every word.
       Merges are sequential by definition, so a distributed loop
       buys no parallelism for the tiny table and pays 2 Spark jobs
       per round (measured 4.5s vs <0.1s for 8 merges); the
       distributed fold (``_learn_bpe_merges_distributed``) remains
       the overflow path for a vocab past the driver bound.

    Returns the ordered merge list [(left, right), ...].
    """
    vocab = (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select(
            # limit=-1 split keeps the trailing empty match of the
            # lookahead pattern — drop it, symbols are never ''
            F.filter(
                F.split(F.col("w"), "(?!^)"), lambda x: x != F.lit("")
            ).alias("syms"),
            F.col("n"),
        )
        .persist()
    )
    n_types = vocab.count()
    if n_types <= driver_vocab_limit:
        pairs = [(list(r["syms"]), int(r["n"])) for r in vocab.collect()]
        vocab.unpersist()
        return _merge_loop_local(pairs, n_merges)
    return _learn_bpe_merges_distributed(vocab, n_merges)


def _merge_loop_local(
    vocab: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str]]:
    """Sequential BPE merge learning over collected (symbols, count)
    pairs — count desc / lexicographic tie-break, greedy
    left-to-right non-overlapping fold (identical semantics to the
    distributed HOF fold; pinned against it in test_text_clean)."""
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                pc[pair] = pc.get(pair, 0) + n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append(best)
        a, b = best
        ab = a + b
        new_vocab: list[tuple[list[str], int]] = []
        for syms, n in vocab:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab.append((out, n))
        vocab = new_vocab
    return merges


def _learn_bpe_merges_distributed(
    vocab: DataFrame, n_merges: int
) -> list[tuple[str, str]]:
    """Overflow path: the per-round pair-count argmax + HOF merge
    fold over a persisted (syms, n) vocab DataFrame, for a vocabulary
    past the driver bound. 2 small Spark jobs per round; the
    interpreted HOF fold is confined to the vocab table by design —
    the corpus never sees it."""
    merges: list[tuple[str, str]] = []
    cur = vocab
    for _ in range(n_merges):
        pairs = (
            cur.select(
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("syms"), i).alias("a"),
                                F.element_at(F.col("syms"), i + 1).alias("b"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
                ).alias("p"),
                F.col("n"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        a, b = pairs[0]["a"], pairs[0]["b"]
        merges.append((a, b))
        ab = a + b
        merged = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = cur.select(merged.alias("syms"), "n").persist()
        # materialize the fold before releasing the parent cache:
        # nxt's plan reads cur, so unpersisting first would recompute
        # the whole merge chain from the corpus scan
        nxt.count()
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return merges


def _unigram_viterbi(
    w: str, logp: dict[str, int], max_piece_len: int
) -> tuple[list[str], int]:
    """Best segmentation of ``w`` under milli-nat piece scores: DP
    over end positions, candidate lengths ascending with >= so the
    LONGEST piece wins score ties at every boundary (the fewer-pieces
    preference; the literal-Python twin in test_text_clean pins the
    identical rule). Total because every corpus char is in the
    vocab."""
    neg = -(10**12)
    best: list[int] = [0] + [neg] * len(w)
    back: list[int] = [0] * (len(w) + 1)
    for j in range(1, len(w) + 1):
        for length in range(1, min(j, max_piece_len) + 1):
            piece = w[j - length : j]
            lp = logp.get(piece)
            if lp is None or best[j - length] <= neg:
                continue
            cand = best[j - length] + lp
            if cand >= best[j]:
                best[j] = cand
                back[j] = length
    pieces: list[str] = []
    j = len(w)
    while j > 0:
        pieces.append(w[j - back[j] : j])
        j -= back[j]
    pieces.reverse()
    return pieces, best[len(w)]


# unigram-LM training: longest piece, hard-EM rounds, multi-char seeds
UNIGRAM_MAX_PIECE_LEN = 6
UNIGRAM_EM_ITERS = 2
UNIGRAM_SEED_LIMIT = 200


def learn_unigram_vocab(
    docs: DataFrame,
    text_col: str,
    vocab_size: int = 64,
) -> dict:
    """Unigram-LM tokenizer training (Kudo 2018: SentencePiece's
    unigram model), the BPE recipe's probabilistic sibling — same
    scaling shape: ONE corpus pass builds the Heaps-bounded word-type
    vocabulary (the only big aggregation), and every EM iteration
    runs over word TYPES only, never rescanning the corpus.

    Deterministic Viterbi hard-EM with milli-nat quantized scores
    (the registry's integer-certificate recipe):

    1. Seed: every substring of every word type, 2..UNIGRAM_MAX_PIECE_LEN
       chars, weighted by word count per occurrence position; keep
       the top ``UNIGRAM_SEED_LIMIT`` by (freq desc, piece asc) plus
       ALL single chars (so segmentation is always total).
    2. E-step: Viterbi-segment each word type under
       logp_milli = round(1000 * ln(count / total)); accumulate
       word-count-weighted piece counts and the corpus objective.
    3. M-step: counts := Viterbi counts (single chars floored to 1).
    4. Prune: final vocab = all single chars + the top
       (vocab_size - n_singles) multi-char pieces by
       (count desc, piece asc).

    Returns a dict with the final ``vocab`` (piece -> logp_milli),
    the per-iteration hard-EM objectives ``lls`` (milli-nats,
    nondecreasing), and the certificate facts ``seed_top``,
    ``seed_mass``, ``n_singles``.
    """
    import math

    rows = (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    types = [(r["w"], int(r["n"])) for r in rows]

    freq_multi: dict[str, int] = {}
    freq_single: dict[str, int] = {}
    for w, n in types:
        for i in range(len(w)):
            freq_single[w[i]] = freq_single.get(w[i], 0) + n
            for length in range(2, UNIGRAM_MAX_PIECE_LEN + 1):
                if i + length > len(w):
                    break
                s = w[i : i + length]
                freq_multi[s] = freq_multi.get(s, 0) + n
    seed_mass = sum(freq_multi.values())
    multi_sorted = sorted(freq_multi.items(), key=lambda kv: (-kv[1], kv[0]))
    seed_top = multi_sorted[0][0] if multi_sorted else ""
    counts: dict[str, int] = dict(freq_single)
    counts.update(multi_sorted[:UNIGRAM_SEED_LIMIT])

    lls: list[int] = []
    for _ in range(UNIGRAM_EM_ITERS):
        total = sum(counts.values())
        logp = {
            p: round(1000 * math.log(c / total)) for p, c in counts.items()
        }
        new_counts: dict[str, int] = {}
        ll = 0
        for w, n in types:
            pieces, score = _unigram_viterbi(w, logp, UNIGRAM_MAX_PIECE_LEN)
            ll += n * score
            for p in pieces:
                new_counts[p] = new_counts.get(p, 0) + n
        lls.append(ll)
        counts = {p: c for p, c in new_counts.items() if c > 0}
        for c in freq_single:
            counts.setdefault(c, 1)

    n_singles = len(freq_single)
    multi_final = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(vocab_size - n_singles, 0)]
    final = {p: counts[p] for p in freq_single}
    final.update(multi_final)
    total = sum(final.values())
    vocab = {
        p: round(1000 * math.log(c / total)) for p, c in final.items()
    }
    return {
        "vocab": vocab,
        "lls": lls,
        "types": types,
        "seed_top": seed_top,
        "seed_mass": seed_mass,
        "n_singles": n_singles,
    }


def wordpiece_encode_expr(
    word: Column,
    start_pieces: list[str],
    cont_pieces: list[str],
    max_chars: int = 30,
) -> Column:
    """WordPiece greedy longest-match-first encode of one word
    (Devlin et al. 2019 / Song et al. 2021 MaxMatch) — returns
    struct(n_pieces int, unk boolean).

    Semantics (BERT's WordpieceTokenizer exactly): consume the
    longest vocab piece that prefixes the remaining suffix — start
    pieces at position 0, continuation pieces (the ##-prefixed
    entries, stored raw here) after; if no piece matches, or the word
    exceeds ``max_chars``, the WHOLE word is one [UNK]. Greedy
    longest-match is iterative, so it folds: F.aggregate over
    max_chars step indices with a (rest, np, unk, first) struct
    accumulator — lambda variables are BOUND slots, so the multiple
    acc references cost nothing (unlike a when-chain, which would
    duplicate the running expression exponentially — the
    detect_language lesson). Interpreted-HOF cost is confined to the
    Heaps-bounded word-TYPE table, the same contract as the BPE
    replace-chain (apply per type, join occurrences back). Piece
    arrays are sorted (len desc, lex) so "first prefix match" IS
    the longest match, identically in any engine."""
    sp = sorted(start_pieces, key=lambda p: (-len(p), p))
    cp = sorted(cont_pieces, key=lambda p: (-len(p), p))
    start_arr = F.array(*[F.lit(p) for p in sp])
    cont_arr = F.array(*[F.lit(p) for p in cp])
    acc0 = F.struct(
        word.alias("rest"),
        F.lit(0).alias("np"),
        (F.length(word) > max_chars).alias("unk"),
        F.lit(True).alias("first"),
    )

    def step(acc, _):
        rest = acc["rest"]
        pieces = F.when(acc["first"], start_arr).otherwise(cont_arr)
        # try_element_at: NULL (not an error) when nothing matches —
        # plain element_at throws INVALID_ARRAY_INDEX under ANSI-ish
        # Spark 4 semantics on the empty filter result
        best = F.try_element_at(
            F.filter(pieces, lambda p: F.startswith(rest, p)), F.lit(1)
        )
        stopped = acc["unk"] | (F.length(rest) == F.lit(0))
        return F.when(stopped, acc).otherwise(
            F.when(
                best.isNull(),
                F.struct(
                    F.lit("").alias("rest"),
                    F.lit(1).alias("np"),
                    F.lit(True).alias("unk"),
                    F.lit(False).alias("first"),
                ),
            ).otherwise(
                F.struct(
                    F.substring(
                        rest, F.length(best) + 1, F.length(rest)
                    ).alias("rest"),
                    (acc["np"] + 1).alias("np"),
                    F.lit(False).alias("unk"),
                    F.lit(False).alias("first"),
                )
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(max_chars)),
        acc0,
        step,
        lambda acc: F.struct(
            F.when(acc["unk"], F.lit(1)).otherwise(acc["np"]).alias(
                "n_pieces"
            ),
            acc["unk"].alias("unk"),
        ),
    )


def wordpiece_literal(
    word: str,
    start_pieces: list[str],
    cont_pieces: list[str],
    max_chars: int = 30,
) -> tuple[int, bool]:
    """Pure-Python twin of wordpiece_encode_expr (pytest reference)."""
    if len(word) > max_chars:
        return 1, True
    sp = sorted(start_pieces, key=lambda p: (-len(p), p))
    cp = sorted(cont_pieces, key=lambda p: (-len(p), p))
    rest, np, first = word, 0, True
    while rest:
        cand = next(
            (p for p in (sp if first else cp) if rest.startswith(p)), None
        )
        if cand is None:
            return 1, True
        rest = rest[len(cand):]
        np += 1
        first = False
    return np, False
