"""Deduplication operators for training-data pipelines.

Five families, all shuffle-architected for 100 TB:

- exact: content-hash groupBy (one shuffle on a 128-bit hash).
- minhash_lsh: shingle -> minhash signature (narrow, codegen) ->
  banded LSH bucket join (shuffle on band hash, bucket sizes bounded)
  -> exact-Jaccard verify on candidates only.
- simhash: 64-bit fingerprint via bitwise aggregate -> chunk-banded
  candidate join -> Hamming verify (F.bit_count).
- ngram_jaccard: fully relational set-similarity join (explode
  distinct shingles, pair counts, |A∩B| / (|A|+|B|-|A∩B|)).
- embedding near-dup: see operators/similarity.py (cosine pairs).

All hash functions are engine-defined affine families over
xxhash64 — deterministic across runs, executors, and Spark versions;
no Python in any hot path.

Reference parity: the reference's only dedup is URL-key exact dedup
(pipelines.py:33-44, middlewares.py:6-16 — SURVEY F6/F7); everything
beyond is the 100 TB extension mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.tokenize import char_shingles, word_shingles
from .traindata import md5_int

# Mersenne prime 2^31-1: keeps every affine-hash product within int64.
MERSENNE31 = 2_147_483_647

# The MinHash signature space (the oracle SQL and the LSH index meta
# read the same values): word 3-shingles, 64 minima in 16 bands.
MINHASH_NUM_HASHES = 64
MINHASH_BANDS = 16
SHINGLE_MODE = "word"
SHINGLE_N = 3
COEFF_SEED = 42
SPAN_MIN_COUNT = 2  # an n-gram seen this often marks its tokens duplicated
FUZZY_MAX_DIST = 3  # blocked_fuzzy_pairs' edit-distance cut
MAX_JUMPS = 20  # pointer-jumping rounds per connected-components round


# Deterministic affine coefficients (seed derivation: linear
# congruential walk from a fixed seed; any fixed odd constants work).
def _coeffs(k: int) -> list[tuple[int, int]]:
    out = []
    state = COEFF_SEED
    for _ in range(k):
        state = (state * 1_103_515_245 + 12_345) % MERSENNE31
        a = state | 1  # odd, non-zero
        state = (state * 1_103_515_245 + 12_345) % MERSENNE31
        b = state
        out.append((a, b))
    return out


def content_hash(col: Column) -> Column:
    """128-bit content hash (md5 hex) for exact dedup at scale —
    collision-safe at 100 TB row counts, unlike 64-bit."""
    return F.md5(col)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-zero-cost dedup: keep the min-id row per content
    hash. One shuffle keyed by the hash (uniformly distributed — no
    skew by construction)."""
    h = content_hash(F.col(text_col)).alias("__h")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def hashed_shingles(
    col: Column, mode: str = "word", n: int = 3, shingle_hash: str = "xxhash64"
) -> Column:
    """Distinct shingles of a text column, hashed into [0, 2^31-1).

    ``shingle_hash="md5"`` uses a 60-bit md5-prefix base hash instead
    of Spark-internal xxhash64 — bit-identical recomputable in any
    engine with md5 (the DuckDB-oracle flavor, same convention as
    ``simhash64``)."""
    sh = word_shingles(F.split(col, " "), n) if mode == "word" else char_shingles(col, n)
    if shingle_hash == "md5":
        base = lambda s: md5_int(s, 15)  # noqa: E731
    else:
        base = F.xxhash64
    return F.array_distinct(
        F.transform(sh, lambda s: F.pmod(base(s), F.lit(MERSENNE31)))
    )


def lsh_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_mode: str,
    shingle_n: int,
    shingle_hash: str,
) -> DataFrame:
    """One row per doc: distinct hashed shingle set + the num_hashes
    MinHash signature mins. Signatures via explode + grouped
    min-aggregation rather than nested higher-order functions: HOF
    lambdas are interpreted per-element while hash aggregation is
    whole-stage-codegen'd — measured 3.5x faster at sf0.1, identical
    signatures. (Docs with zero shingles vanish here; they can't
    match any pair, so that's semantics-preserving.)"""
    exploded = df.select(
        F.col(id_col),
        F.explode(
            hashed_shingles(F.col(text_col), shingle_mode, shingle_n, shingle_hash)
        ).alias("__h"),
    )
    min_aggs = [
        F.min(F.pmod(F.lit(a) * F.col("__h") + F.lit(b), F.lit(MERSENNE31))).alias(
            f"__m{i}"
        )
        for i, (a, b) in enumerate(_coeffs(num_hashes))
    ]
    return exploded.groupBy(id_col).agg(
        F.collect_set("__h").alias("__sh"), *min_aggs
    )


def lsh_banded(
    base: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bhash) rows from a _lsh_base frame: band key =
    xxhash64 of the signature slice."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"__m{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("bhash"),
        )
        for b in range(bands)
    ]
    return base.select(
        id_col, F.explode(F.array(*band_structs)).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"), F.col("__b.bhash").alias("bhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.7,
    shingle_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup pair finder over word SHINGLE_N-shingles,
    MINHASH_NUM_HASHES signature minima in MINHASH_BANDS bands.

    Plan shape (the 100 TB rationale):
      1. signatures: narrow projection (codegen, no shuffle).
      2. bands: explode to MINHASH_BANDS rows/doc; band key = xxhash64 of
         the signature slice. Shuffle #1 groups docs by band bucket;
         bucket sizes are tiny for non-dup data, and AQE skew-join
         splits pathological buckets.
      3. candidates: self-join within bucket (id1 < id2), distinct.
      4. verify: exact Jaccard on the two *hashed shingle sets* via
         array_intersect/array_union on the candidate pairs only —
         the expensive O(|A|+|B|) work happens on candidates, not on
         all O(n^2) pairs.
    Returns (id_1, id_2, jaccard) with jaccard >= threshold.
    """
    # One aggregation pass builds the whole LSH index: the 64
    # signature mins plus the distinct shingle set (for the verify
    # stage). Persisted — the index is one compact row per doc and is
    # probed three times (band explode + two candidate set fetches);
    # without it each probe re-runs tokenize+shingle+hash end to end.
    # MEMORY_AND_DISK so a 10^9-doc index degrades to spill, not OOM.
    base = lsh_signatures(
        df, id_col, text_col, MINHASH_NUM_HASHES, SHINGLE_MODE, SHINGLE_N,
        shingle_hash,
    ).persist(StorageLevel.MEMORY_AND_DISK)

    return lsh_pairs(
        base, id_col, MINHASH_NUM_HASHES, MINHASH_BANDS, jaccard_threshold
    )


def lsh_pairs(
    base: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Near-dup pairs within one signatures frame (``lsh_signatures``
    output): band self-join, candidate dedup (id_1 < id_2), then the
    exact Jaccard verify of ``_verify_jaccard``. Returns (id_1, id_2,
    jaccard) with jaccard >= threshold. ``base`` is read three times
    (band explode + two set fetches): callers persist it."""
    # Band join on (band, bhash, id) ONLY — the shingle sets stay
    # behind. Shuffling them through the 16x band explode (on both
    # join sides) was the dominant cost: bands x 2 copies of every
    # doc's full shingle array. Candidates are rare by construction,
    # so fetching sh_1/sh_2 afterwards touches base twice with a
    # key-only semi-join-sized probe instead.
    banded = lsh_banded(base, id_col, num_hashes, bands)

    left = banded.select("band", "bhash", F.col(id_col).alias("id_1"))
    right = banded.select("band", "bhash", F.col(id_col).alias("id_2"))
    cand_ids = (
        left.join(right, ["band", "bhash"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .dropDuplicates(["id_1", "id_2"])
    )
    sets = base.select(F.col(id_col), F.col("__sh"))
    cand = cand_ids.join(
        sets.select(F.col(id_col).alias("id_1"), F.col("__sh").alias("sh_1")), "id_1"
    ).join(
        sets.select(F.col(id_col).alias("id_2"), F.col("__sh").alias("sh_2")), "id_2"
    )
    return _verify_jaccard(cand, "id_1", "id_2", jaccard_threshold)


def _verify_jaccard(
    pairs: DataFrame, a: str, b: str, jaccard_threshold: float
) -> DataFrame:
    """Exact Jaccard of the candidate pairs' hashed shingle sets
    ``sh_1`` and ``sh_2``, via array_intersect on candidates only.
    Keeps pairs with jaccard >= threshold (compared unrounded);
    returns (a, b, jaccard rounded to 6 places)."""
    inter = F.size(F.array_intersect("sh_1", "sh_2"))
    union = F.size("sh_1") + F.size("sh_2") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(a, b, F.round("jaccard", 6).alias("jaccard"))
    )


# static 2^j bit masks as int64 (j=63 is the sign bit — same bit
# pattern as the two's-complement literal)
_BIT_MASKS = [(1 << j) if j < 63 else -(1 << 63) for j in range(64)]


def simhash64(tokens: Column, token_hash: str = "xxhash64") -> Column:
    """64-bit SimHash fingerprint, pure bitwise aggregate.

    Each token hashes to 64 bits; per bit position the classic
    algorithm sums +1/-1 and takes the sign. Expressed as: counters =
    aggregate(tokens, zeros[64], zip_with(+)); fingerprint = fold-OR
    of zip_with(counters, bitmask literals). No Python, no shuffle.
    Shift amounts must be Python ints (Spark's shiftright takes no
    Column), so per-bit terms are built as static 64-element arrays.

    ``token_hash``: "xxhash64" (fastest, Spark-internal) or "md5"
    (60-bit md5 prefix via conv — bit-identical recomputable in
    DuckDB/any engine, the cross-engine oracle flavor; bits 60-63 of
    the fingerprint are always 0). Fingerprints from different
    flavors are incomparable — pick one per corpus.
    """
    if token_hash == "md5":
        hashed = F.transform(
            tokens,
            lambda t: md5_int(t, 15),
        )
    else:
        hashed = F.transform(tokens, lambda t: F.xxhash64(t))

    def bits_pm1(h: Column) -> Column:
        return F.array(
            *[
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for j in range(64)
            ]
        )

    counters = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bits_pm1(h), lambda x, y: x + y),
    )
    masks = F.lit(_BIT_MASKS).cast("array<long>")
    bits = F.zip_with(
        counters, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a.bitwiseOR(x))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: fingerprint -> band on 4×16-bit chunks
    (any pair within Hamming distance 3 of a 64-bit hash shares at
    least one identical 16-bit chunk — pigeonhole) -> verify with
    bit_count(xor). Shuffle only on chunk keys. Output is EXACTLY the
    brute-force Hamming<=max_hamming pair set (the banding is a
    lossless pigeonhole prune), which is what the DuckDB oracle
    recomputes all-pairs."""
    base = df.select(
        F.col(id_col),
        simhash64(F.split(F.col(text_col), " "), token_hash).alias("__f"),
    )
    chunks = base.select(
        id_col,
        "__f",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("__f"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "__f", F.col("__c.chunk").alias("chunk"), F.col("__c.ckey").alias("ckey"))

    left = chunks.select("chunk", "ckey", F.col(id_col).alias("id_1"), F.col("__f").alias("f1"))
    right = chunks.select("chunk", "ckey", F.col(id_col).alias("id_2"), F.col("__f").alias("f2"))
    return (
        left.join(right, ["chunk", "ckey"])
        .filter(F.col("id_1") < F.col("id_2"))
        .dropDuplicates(["id_1", "id_2"])
        .withColumn("hamming", F.bit_count(F.col("f1").bitwiseXOR(F.col("f2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    prefix_filter: bool | None = None,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Fully-relational n-gram Jaccard similarity join, with exact
    PPJoin-style prefix filtering (Xiao et al. 2008).

    Base plan: explode distinct word n-grams -> self-join on the
    shingle -> per-pair intersection counts -> Jaccard from set
    sizes. The self-join fanout is Σ_shingle df² — high-document-
    frequency shingles blow it up at scale.

    Prefix filter (exact, output-identical): order each doc's
    shingles by ascending global document frequency; if
    J(A,B) >= t, the first ⌊(1-t)·|X|⌋+1 shingles of each side must
    intersect, so candidate generation joins only on those prefixes
    (the rarest shingles — precisely the ones with small df²), then
    the verify stage counts true intersections for candidates only.
    Every step remains plain SQL — DuckDB-oracle-able.

    ``prefix_filter=None`` auto-enables at threshold >= 0.5: the
    prefix keeps (1-t) of each set, so at low thresholds the filter
    prunes little and its extra joins cost more than they save
    (measured 2x slower at t=0.2, sf0.1; the win flips as t grows).

    ``max_df`` bounds the low-threshold path's fanout: a shingle with
    document frequency f yields f² candidate pairs, so ONE
    stopword-like shingle (df=10⁶ at 100 TB) explodes 10¹² pairs.
    Shingles with df > max_df are dropped BEFORE pair generation —
    per-row df comes from a count window over the shingle
    partitioning (one shuffle, no id lists materialized), and the
    pair-generation groupBy sits on that same partitioning with no
    further exchange.
    With the cap active, Jaccard is computed EXACTLY over the KEPT
    shingle universe (df <= max_df): both the intersection AND the
    set sizes exclude capped shingles, so the reported score is the
    well-defined stopword-filtered Jaccard — never a deflated mix of
    pruned numerator over full-universe denominator. Consequences:
    pairs whose entire overlap is corpus-stopword shingles produce no
    candidate and are not returned (such shingles carry no similarity
    signal at low thresholds anyway), and a returned pair's score can
    differ from the full-universe Jaccard exactly when the pair
    shares capped shingles. ``max_df=None`` restores the exact
    uncapped full-universe semantics (small/oracle inputs).
    The prefix-filter path needs no cap: it joins only on each doc's
    ⌊(1-t)|X|⌋+1 globally RAREST shingles, so high-df shingles never
    generate candidates by construction.
    """
    from pyspark.sql import Window

    if prefix_filter is None:
        prefix_filter = threshold >= 0.5
    shingle_arr = F.array_distinct(word_shingles(F.split(F.col(text_col), " "), SHINGLE_N))
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_arr).alias("shingle"),
    )
    # ONE pass computes per-row document frequency: the window's
    # shingle Exchange is the only shuffle of the shingle table, and
    # every downstream consumer (sizes agg, pair generation — both
    # shingle-partitioned or derived) reuses it, so the expensive
    # scan+shingling subtree under the Exchange runs once (the prior
    # shape re-derived it three times: dfreq agg, dfreq join probe,
    # and a separate set-size scan — 1.4× measured at sf0.1).
    shw = sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    )

    if prefix_filter:
        # per-doc size and prefix rank from ONE id-partitioned
        # exchange: both window specs share the partitioning, so the
        # ordered row_number piggybacks on the count's shuffle+sort
        wid = Window.partitionBy("id")
        ranked = shw.select(
            "id",
            "shingle",
            F.count("*").over(wid).alias("sz"),
            F.row_number().over(wid.orderBy("df", "shingle")).alias("rank"),
        )
        sizes = ranked.filter(F.col("rank") == 1).select("id", "sz")
        prefix = ranked.filter(
            F.col("rank") <= F.floor((1 - threshold) * F.col("sz")) + 1
        ).select("id", "shingle")
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), "shingle")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_1"), F.col("b.id").alias("id_2"))
            .dropDuplicates(["id_1", "id_2"])
        )
        pairs = (
            cand.join(sh.select(F.col("id").alias("id_1"), "shingle"), "id_1")
            .join(
                sh.select(F.col("id").alias("id_2"), "shingle"),
                ["id_2", "shingle"],
            )
            .groupBy("id_1", "id_2")
            .agg(F.count("*").alias("inter"))
        )
    else:
        # Pair generation via group-then-explode instead of a shingle
        # self-join: the window's shingle shuffle is the ONLY shuffle
        # of the shingle table, and df=1 shingles (most of them) die
        # before any pair is materialized. Skew note (all shapes
        # share it): a shingle with document frequency f yields f^2
        # pairs; at real scale high-df shingles must be pruned first
        # — the df-cap below, or the prefix_filter path at
        # threshold>=0.5. The kept universe is df <= max_df: both the
        # intersection AND the set sizes exclude capped shingles, so
        # numerator and denominator agree exactly on which shingles
        # exist.
        kept = shw if max_df is None else shw.filter(F.col("df") <= max_df)
        sizes = kept.groupBy("id").agg(F.count("*").alias("sz"))
        paired_src = kept.filter(F.col("df") > 1).select("id", "shingle")
        # groupBy(shingle) sits directly on the window's output
        # partitioning — no new exchange for the grouping
        grouped = (
            paired_src.groupBy("shingle")
            .agg(F.collect_list("id").alias("ids"))
            .filter(F.size("ids") > 1)
        )
        pair_arr = F.filter(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x: F.transform(
                        F.col("ids"),
                        lambda y: F.struct(x.alias("id_1"), y.alias("id_2")),
                    ),
                )
            ),
            lambda s: s["id_1"] < s["id_2"],
        )
        pairs = (
            grouped.select(F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.id_1").alias("id_1"), F.col("p.id_2").alias("id_2"))
            .agg(F.count("*").alias("inter"))
        )

    s1 = sizes.select(F.col("id").alias("id_1"), F.col("sz").alias("sz_1"))
    s2 = sizes.select(F.col("id").alias("id_2"), F.col("sz").alias("sz_2"))
    # merge hints: Catalyst's STATIC size estimate of the pair-count
    # aggregate is tiny, so without them the planner BUILDS THE PAIR
    # TABLE as a broadcast — fits at sf0.1, "Not enough memory to
    # build and broadcast" at sf1 (found by the 10x rehearsal). The
    # hint pins the static plan to keyed sort-merge joins; AQE still
    # converts to broadcast AT RUNTIME when a side is actually small
    # (and then it picks the sizes side, the correct direction).
    return (
        pairs.hint("merge")
        .join(s1, "id_1")
        .hint("merge")
        .join(s2, "id_2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_1") + F.col("sz_2") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


# --------------------------------------------------------------------
# duplicate clustering: connected components over near-dup pairs
# --------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """Distributed connected components over an edge list; returns
    ``(node, comp)`` where ``comp`` is the smallest node id in the
    component (a deterministic canonical representative).

    Pair-level dedup (MinHash/SimHash/cosine) yields *edges*; a
    training corpus needs *clusters* — transitive closure — so that
    A~B, B~C keeps one of {A,B,C}, not two. The reference never needs
    this (its only dedup key is exact-url, F6/F7); at 100 TB it is
    the step that turns a pair list into a keep-list.

    Algorithm: star contraction + pointer jumping, two nested loops,
    both purely relational (no driver-side graph state):

      outer round: (1) every node adopts the min label among itself
      and its neighbors (one shuffle: groupBy on the symmetric edge
      list); (2) the resulting parent forest is collapsed by pointer
      doubling — ``p = p∘p`` — so every tree flattens to its root in
      O(log depth) self-joins; (3) edges are re-labeled by root and
      self-loops dropped. The contracted graph has ≥2x fewer nodes
      per component per round, so O(log n) outer rounds total. Edges
      still left after ``max_rounds`` raise ``RuntimeError``: the
      labels would be a partial fixpoint.

    A plain min-propagation loop needs O(diameter) shuffles — a
    10^6-doc duplicate *chain* (adversarial but real in scraped
    corpora) would take 10^6 rounds; this takes ~20. Every iteration
    ends in ``localCheckpoint`` to truncate lineage (iterative joins
    otherwise grow the plan exponentially).

    Cross-component edge handling: contraction round k merges every
    star with its cross-edges re-injected, which is exactly the
    Kiveris et al. (2014) "Connected Components in MapReduce" family;
    this variant trades their alternation proof for an explicit
    root-flattening inner loop, keeping each step a vanilla
    equi-join that AQE can re-plan (skew-split hot labels).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    e = e.localCheckpoint(eager=True)

    # Global node -> component label, refined each round.
    labels = e.select(F.col("u").alias("x")).distinct().select(
        "x", F.col("x").alias("comp")
    )
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_rounds):
        # (1) parent = min(self, neighbors) on the contracted graph.
        parent = (
            e.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select(
                F.col("u").alias("x"),
                F.least(F.col("u"), F.col("mn")).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        # (2) pointer doubling to the root: x -> p(p(x)) until fixed.
        # The convergence probe rides the doubling join itself as a
        # `moved` flag (p changed iff the parent-of-parent lookup hit
        # a different value), so each jump is ONE join + checkpoint;
        # the old separate nxt-vs-parent comparison join re-shuffled
        # both tables once more per jump for the same bit. The flag
        # is counted by an Observation on the eager checkpoint, so
        # Spark delivers it with the checkpoint's own job: probing
        # every jump costs no extra action, while skipping a probe
        # costs a full extra doubling join + checkpoint whenever the
        # fixpoint lands on the unprobed parity (star-contracted
        # forests usually flatten in ONE jump).
        for j in range(MAX_JUMPS):
            jump = Observation()
            nxt = (
                parent.alias("a")
                .join(
                    parent.select(
                        F.col("x").alias("px"), F.col("p").alias("pp")
                    ),
                    F.col("a.p") == F.col("px"),
                    "left",
                )
                .select(
                    F.col("a.x").alias("x"),
                    F.coalesce(F.col("pp"), F.col("a.p")).alias("p"),
                    (
                        F.col("pp").isNotNull()
                        & (F.col("pp") != F.col("a.p"))
                    ).alias("moved"),
                )
                .observe(jump, F.count_if("moved").alias("moved"))
                .localCheckpoint(eager=True)
            )
            parent = nxt.select("x", "p")
            if jump.get["moved"] == 0:
                break
        # (3) fold into the global labels and contract the edges.
        labels = (
            labels.alias("l")
            .join(parent.alias("r"), F.col("l.comp") == F.col("r.x"), "left")
            .select(
                F.col("l.x").alias("x"),
                F.coalesce(F.col("r.p"), F.col("l.comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        e = (
            e.join(
                parent.select(F.col("x").alias("u"), F.col("p").alias("cu")),
                "u",
            )
            .join(
                parent.select(F.col("x").alias("v"), F.col("p").alias("cv")),
                "v",
            )
            .filter(F.col("cu") != F.col("cv"))
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        )
        left = Observation()
        e = (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .observe(left, F.count(F.lit(1)).alias("edges"))
            .localCheckpoint(eager=True)
        )
        if left.get["edges"] == 0:
            break
    else:
        # labels are only a partial fixpoint while edges remain; an
        # exhausted MAX_JUMPS is fine (later rounds keep flattening)
        raise RuntimeError(
            f"connected_components: {left.get['edges']} contracted edges "
            f"left after max_rounds={max_rounds}"
        )
    return labels.select(F.col("x").alias("node"), "comp")


def duplicate_clusters(
    df: DataFrame, id_col: str, pairs: DataFrame, id1: str = "id_1", id2: str = "id_2"
) -> DataFrame:
    """Assign every row of ``df`` a duplicate-cluster representative:
    the min id reachable through ``pairs``; rows in no pair map to
    themselves. Returns df's columns + ``cluster_rep``."""
    comp = connected_components(pairs, id1, id2)
    return (
        df.join(
            comp.select(
                F.col("node").alias(id_col), F.col("comp").alias("cluster_rep")
            ),
            id_col,
            "left",
        )
        .withColumn("cluster_rep", F.coalesce("cluster_rep", F.col(id_col)))
    )


def keep_cluster_canonical(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Corpus-level near-dedup: keep exactly one row (the min-id
    canonical) per duplicate cluster."""
    clustered = duplicate_clusters(df, id_col, pairs)
    return clustered.filter(F.col(id_col) == F.col("cluster_rep")).drop("cluster_rep")


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """Corpus-wide duplicated-span REMOVAL (Lee et al. 2022, the
    transform behind `dup_ngram_span_score`'s signal): delete every
    token covered by a word n-gram that occurs at least ``SPAN_MIN_COUNT``
    times in the corpus (all occurrences counted, so within-document
    repeats qualify too), and reassemble the surviving tokens in
    order.

    Plan: per-doc position-grams from one array slice projection (no
    self-join); ONE corpus-wide gram-count shuffle; duplicated
    positions explode to covered token indices (n rows per dup gram,
    bounded); ``remove_covered`` drops covered tokens and reassembles
    the survivors in order. High-count grams (boilerplate) are the
    natural skew — they fan out n covered indices per INSTANCE
    (linear, not quadratic like pair joins), so no cap is needed.

    Returns (id, clean_text, n_removed).
    """
    base = token_frame(df, id_col, text_col)
    gram_arr = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - F.lit(n)),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(
                    F.slice("__toks", i + F.lit(1), F.lit(n)), " "
                ).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
    g = base.select("__id", F.explode(gram_arr).alias("g")).select(
        "__id",
        F.col("g.pos").cast("long").alias("pos"),
        F.col("g.gram").alias("gram"),
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= SPAN_MIN_COUNT)
        .select("gram")
    )
    cov = (
        g.join(dup, "gram", "left_semi")
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("idx"),
        )
        .distinct()
    )
    return remove_covered(base, cov, id_col)


def token_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __toks): each document's whitespace tokens, empty
    tokens dropped — the token positions every span operator
    (``remove_dup_spans``, ``suffixarray``) indexes."""
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    return df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))


def remove_covered(base: DataFrame, cov: DataFrame, id_col: str) -> DataFrame:
    """Delete covered tokens and reassemble each document in order.

    ``base`` is a ``token_frame``; ``cov`` holds the covered token
    positions (__id, idx: bigint), one row per covered token. An
    anti-join drops them, and ordered reassembly is a max-struct-free
    sort-in-array aggregate (array_sort of (idx, word) structs),
    exact in any aggregation order.

    Returns (id, clean_text, n_removed) for EVERY document of base
    (clean_text = the original tokens when nothing was removed)."""
    tok = base.select(
        "__id", F.posexplode("__toks").alias("idx", "word")
    ).withColumn("idx", F.col("idx").cast("long"))
    keep = tok.join(cov, ["__id", "idx"], "left_anti")
    clean = keep.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("__nk"),
    )
    return (
        base.select("__id", F.size("__toks").alias("__nt"))
        .join(clean, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("__nt") - F.coalesce(F.col("__nk"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    block_col: str,
) -> DataFrame:
    """Entity-resolution candidate pairs via blocking + edit distance
    (the classic record-linkage shape: Fellegi-Sunter blocking pass).

    An all-pairs string-distance join is O(n²) and unshippable at
    scale; blocking compares only rows that agree on a cheap
    deterministic key (here ``block_col`` — e.g. the name's head
    noun, a soundex code, or a length band). The join is a plain
    equi-HASH join on the block key, so the fanout is Σ block_size²
    — bounded by construction when the blocking key is selective;
    a hot block takes the same max_df-style cap as the n-gram
    Jaccard path. Distance is JVM-side ``levenshtein`` (identical
    semantics in DuckDB, so the pairs are hash-oracle-able).

    Returns (key_1, key_2, dist) with key_1 < key_2, dist <= FUZZY_MAX_DIST.
    """
    a = df.select(F.col(block_col).alias("__blk"), F.col(key_col).alias("key_1"))
    b = df.select(F.col(block_col).alias("__blk"), F.col(key_col).alias("key_2"))
    return (
        a.join(b, "__blk")
        .filter(F.col("key_1") < F.col("key_2"))
        .select(
            "key_1",
            "key_2",
            F.levenshtein("key_1", "key_2").alias("dist"),
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )


_LSH_META_COLS = "num_hashes int, bands int, shingle_mode string, shingle_n int, shingle_hash string"

_LSH_SIG_KEYS = ("num_hashes", "shingle_mode", "shingle_n", "shingle_hash")


def _check_base_params(base, base_params: dict | None, expected: dict, fn: str):
    """Contract for caller-supplied signature frames: a ``base`` built
    elsewhere must arrive with the params it was built from, and they
    must match the index's signature space (the exact mismatch the
    meta/ table exists to prevent — mixed spaces produce silently
    empty/garbage band joins, not errors)."""
    if base is None:
        return
    if base_params is None:
        raise ValueError(
            f"{fn}: caller-provided `base` requires `base_params` (the "
            "lsh_signatures kwargs it was built with) so the index's "
            "signature space can be verified"
        )
    bad = {
        k: (base_params.get(k), expected[k])
        for k in _LSH_SIG_KEYS
        if base_params.get(k) != expected[k]
    }
    if bad:
        raise ValueError(
            f"{fn}: `base` signature params {bad} (given, expected) do "
            "not match the index meta — rebuild `base` with the stored "
            "params (lsh_index_meta(spark, path))"
        )


def save_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    base: DataFrame | None = None,
    base_params: dict | None = None,
    batch_id: int | None = None,
    lineage: str | None = None,
) -> None:
    """Persist a MinHash-LSH near-dup index to parquet: ``bands/``
    (id, band, bhash — the probe table) and ``sets/`` (id, hashed
    shingle set — the verify table), plus a 1-row ``meta/`` pinning
    the hash parameters so appends and probes can never mix
    incompatible signature spaces. The incremental-dedup lifecycle:
    each ingest batch appends its signatures ONCE and every future
    batch probes the index without recomputing history — the
    near-dup twin of the exact-dedup Bloom store
    (save_bloom/filter_unseen).

    A caller-supplied ``base`` (precomputed signatures) must arrive
    with ``base_params`` matching these kwargs — asserted, so a base
    built in a different signature space fails loudly instead of
    poisoning the index. With ``batch_id`` the tables are partitioned
    by ``__batch``; replaying the same batch overwrites its own
    partition (dynamic overwrite), making streaming epoch replays
    idempotent — use it from the first save, and in every append, or
    not at all (mixed layouts fail partition discovery)."""
    params = {
        "num_hashes": num_hashes, "bands": bands, "shingle_mode": SHINGLE_MODE,
        "shingle_n": SHINGLE_N, "shingle_hash": "xxhash64",
    }
    _write_lsh_index(
        df, id_col, text_col, path, params, base, base_params, batch_id,
        lineage, first=True,
    )


def _write_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    params: dict,
    base: DataFrame | None,
    base_params: dict | None,
    batch_id: int | None,
    lineage: str | None,
    first: bool,
) -> None:
    """The one index writer behind ``save_lsh_index`` (``first``) and
    ``append_lsh_index``: check a caller-supplied ``base`` against
    ``params``, build (and persist) the signatures otherwise, write
    bands/ + sets/, and on save write meta/ after them.

    Unpartitioned: save overwrites, append appends (an epoch replay
    duplicates — the caller owns idempotency). Batch-partitioned:
    BOTH paths are dynamic partition overwrites of
    `__batch={batch_id}` only, so re-running a batch replaces exactly
    its own rows. ``lineage`` scopes the batch key to one checkpoint
    lineage (foreachBatch ids restart at 0 per checkpoint):
    partitions become (__lineage, __batch), so a SECOND pipeline — or
    a restart with a fresh checkpoint — writes its own partitions
    instead of silently overwriting the first lineage's __batch=0.
    Streaming callers (near_dedup_stream) always pass it; use the
    same convention from the first save onward (mixed layouts fail
    partition discovery)."""
    fn = "save_lsh_index" if first else "append_lsh_index"
    _check_base_params(base, base_params, params, fn)
    own = base is None
    if own:
        base = lsh_signatures(
            df, id_col, text_col, params["num_hashes"], params["shingle_mode"],
            params["shingle_n"], params["shingle_hash"],
        ).persist(StorageLevel.MEMORY_AND_DISK)
    tables = {
        "bands": lsh_banded(
            base, id_col, params["num_hashes"], params["bands"]
        ).withColumnRenamed(id_col, "id"),
        "sets": base.select(F.col(id_col).alias("id"), "__sh"),
    }
    for tbl, d in tables.items():
        if batch_id is None:
            mode = "overwrite" if first else "append"
            d.write.mode(mode).parquet(f"{path}/{tbl}")
            continue
        cols = ["__batch"]
        d = d.withColumn("__batch", F.lit(int(batch_id)))
        if lineage is not None:
            d = d.withColumn("__lineage", F.lit(str(lineage)))
            cols = ["__lineage", "__batch"]
        (
            d.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*cols)
            .parquet(f"{path}/{tbl}")
        )
    if first:
        keys = ("num_hashes", "bands", "shingle_mode", "shingle_n", "shingle_hash")
        df.sparkSession.createDataFrame(
            [tuple(params[k] for k in keys)], _LSH_META_COLS
        ).write.mode("overwrite").parquet(f"{path}/meta")
    if own:
        base.unpersist()


def lsh_index_meta(spark, path: str) -> dict:
    r = spark.read.parquet(f"{path}/meta").first()
    return {k: r[k] for k in r.asDict()}


def append_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    base: DataFrame | None = None,
    base_params: dict | None = None,
    batch_id: int | None = None,
    lineage: str | None = None,
) -> None:
    """Add a batch to a saved LSH index (signatures computed for the
    NEW rows only; history is never re-read or re-hashed). Caller
    guarantees id uniqueness across batches (the ingest pipeline's
    existing url/doc-id contract). A caller-supplied ``base`` must
    arrive with ``base_params`` matching the stored meta — asserted.
    With ``batch_id`` (on an index saved with one) the append is a
    dynamic overwrite of that batch's partition: replaying an epoch
    replaces its own rows instead of duplicating them."""
    _write_lsh_index(
        df, id_col, text_col, path, lsh_index_meta(df.sparkSession, path), base,
        base_params, batch_id, lineage, first=False,
    )


def query_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    jaccard_threshold: float = 0.7,
    base: DataFrame | None = None,
    base_params: dict | None = None,
) -> DataFrame:
    """Probe a saved LSH index with a NEW batch: band-join the
    batch's signatures against the stored probe table, then verify
    exact Jaccard against the stored shingle sets — candidates only,
    history never recomputed. Returns (new_id, index_id, jaccard)
    with jaccard >= threshold (self-matches on shared ids excluded).
    A caller-supplied ``base`` must arrive with ``base_params``
    matching the stored meta — asserted (a mismatched space returns
    silently-empty probes, not errors). At 100 TB write ``bands/``
    partitioned by ``band`` so the probe prunes at the directory
    level."""
    spark = df.sparkSession
    m = lsh_index_meta(spark, path)
    _check_base_params(base, base_params, m, "query_lsh_index")
    if base is None:
        # no persist here: the result is lazy and this function has
        # no release path — a persist would leak one cached RDD per
        # call (pass a caller-persisted ``base`` to amortize instead;
        # the cost of not persisting is one extra signature pass)
        base = lsh_signatures(
            df, id_col, text_col, m["num_hashes"], m["shingle_mode"],
            m["shingle_n"], m["shingle_hash"],
        )
    new_banded = lsh_banded(base, id_col, m["num_hashes"], m["bands"]).select(
        "band", "bhash", F.col(id_col).alias("new_id")
    )
    idx_banded = spark.read.parquet(f"{path}/bands").select(
        "band", "bhash", F.col("id").alias("index_id")
    )
    cand = (
        new_banded.join(idx_banded, ["band", "bhash"])
        .filter(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .dropDuplicates(["new_id", "index_id"])
    )
    new_sets = base.select(F.col(id_col).alias("new_id"), F.col("__sh").alias("sh_1"))
    idx_sets = spark.read.parquet(f"{path}/sets").select(
        F.col("id").alias("index_id"), F.col("__sh").alias("sh_2")
    )
    pairs = cand.join(new_sets, "new_id").join(idx_sets, "index_id")
    return _verify_jaccard(pairs, "new_id", "index_id", jaccard_threshold)
