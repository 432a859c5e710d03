"""Item-item collaborative filtering as pure DataFrame computation.

Co-occurrence recommendation (Sarwar et al. 2001, "Item-Based
Collaborative Filtering") — the classic "users who bought X also
bought Y" primitive. In a training-data pipeline the same shape ranks
related documents/sources from co-click or co-citation interactions;
here it runs over the order history (customer × part baskets).

Design constraints shared with the rest of the engine:
- similarity is integer-exact: cosine²(i,j) in parts-per-million =
  co(i,j)² · 10⁶ div (n_i · n_j) over binary interaction vectors —
  monotone in cosine, so the top-k ranking is EXACTLY the cosine
  ranking with no floating point anywhere (the bm25 milli-quantize
  recipe taken to its no-float limit);
- pair generation is the user-keyed self-join (codegen hash join,
  AQE-skew-splittable) — the group-explode alternative pays
  interpreted HOF lambdas and OOMs on hot users (PLANS.md pair-gen
  note); power-user baskets are capped upstream by
  ``relational.cap_hot_keys``, the standard mitigation (a 10⁶-item
  basket contributes 10¹² pairs and zero signal);
- per-item top-k via one rank window partitioned by the anchor item.

At 100 TB: interactions shuffle once on user for pair-gen, pairs
shuffle once on (i, j) for the count, item degrees broadcast or
shuffle-join on item id, the window keys on the anchor item. No
all-pairs stage exists — only observed co-occurrences materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .traindata import md5_int

PPM = 1_000_000


def item_item_topk(
    interactions: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    k: int = 3,
    min_co: int = 1,
) -> DataFrame:
    """Top-``k`` most-similar items per item by binary cosine.

    ``interactions`` must be distinct (user, item) pairs — dedupe
    upstream (multiplicity is events, not preference strength, in
    the binary model).

    ``min_co`` is the support-threshold prune — the deterministic
    counterpart of DIMSUM's magnitude-based sampling (Zadeh &
    Carlsson 2013): pairs with fewer than ``min_co`` co-occurrences
    are dropped right after the pair count, BEFORE the degree joins
    and rank window. In co-occurrence data the overwhelming bulk of
    the Σdeg² pair volume is co=1 noise, so even min_co=2 collapses
    the downstream join/window input by an order of magnitude —
    the pair-volume bound that doesn't depend on the hot-user cap.
    The top-k is UNCHANGED whenever every true top-k neighbor has
    co ≥ min_co (a pair below the threshold has cosine² =
    co²/(n_i·n_j) < min_co²/(n_i·n_j) — with ranks dominated by
    well-supported pairs the cut is exact; tests pin this). The
    (i, j) count itself still aggregates map-side first, so the
    exchange carries partially-combined pairs either way.

    Returns (item, rec, sim_ppm, rank) with rank 1..k per item,
    ordered within an item by sim_ppm descending then rec ascending
    (total tie order — engine-independent).
    """
    ia = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    )
    deg = ia.groupBy("i").agg(F.count("*").alias("n"))
    # ONE user-keyed exchange feeds both self-join sides: the rename
    # to j sits ABOVE a shared explicit repartition, so the second
    # side is a ReusedExchange instead of a second derivation+shuffle
    # of the entry table. Explicit count: checkpointed inputs scan as
    # ExistingRDD with unknown stats, and an ENSURE_REQUIREMENTS
    # exchange there gets AQE-coalesced below the core count for the
    # compute-bound pair stage (profiled 9 tasks at sf0.1).
    npart = int(
        interactions.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    iar = ia.repartition(npart, "u")
    co = (
        iar.join(iar.select(F.col("u"), F.col("i").alias("j")), "u")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("co"))
    )
    if min_co > 1:
        co = co.filter(F.col("co") >= min_co)
    # degrees attach to the aggregated pairs via BROADCAST: deg is
    # items-sized, but derived from an ExistingRDD scan its stats are
    # unknown, so the un-hinted join planned as a sort-merge that
    # re-shuffled the whole pair table by i and then by j
    sim = (
        co.join(F.broadcast(deg.select(F.col("i"), F.col("n").alias("ni"))), "i")
        .join(
            F.broadcast(
                deg.select(F.col("i").alias("j"), F.col("n").alias("nj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            F.expr(f"co * co * {PPM} div (ni * nj)").alias("sim_ppm"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("sim_ppm"), "j")
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("rec"),
            "sim_ppm",
            "rank",
        )
    )


def dimsum_draw(ia: DataFrame, gamma: int) -> tuple[DataFrame, DataFrame]:
    """The DIMSUM per-entry draw over (u, i) interactions, shared by
    ``item_item_dimsum`` and ``q_graph.butterfly_sampled_counts``:
    entry (u, i) is kept iff n_i <= γ² or H²·n_i < γ²·2⁴⁰, where H is
    the 20-bit draw ``md5_int('dimsum-v1:u:i', 5)``.

    Returns ``(deg, keptr)``: deg (i, n) the item degrees, keptr
    (u, i) the kept entries on ONE explicit user-keyed exchange, so a
    self-join of keptr reuses it (rename above it → ReusedExchange),
    the md5 draw runs once per entry, and the compute-bound pair
    stage keeps full parallelism (ENSURE_REQUIREMENTS off a
    stats-free checkpoint scan was AQE-coalesced to 9 tasks at
    sf0.1)."""
    g2 = gamma * gamma
    deg = ia.groupBy("i").agg(F.count("*").alias("n"))
    # BROADCAST the item-degree table onto the entries: deg is
    # items-sized but carries unknown stats off a checkpointed scan,
    # so the un-hinted join planned as a sort-merge — an extra
    # exchange+sort of the full entry table per self-join side, with
    # the draw filter evaluated inside the merge as a join residual
    ia2 = ia.join(F.broadcast(deg), "i").select("u", "i", "n")
    # The draw predicate H²·n < γ²·2⁴⁰ evaluated in the threshold
    # form H² < (γ²·2⁴⁰ − 1) div n + 1: identical kept set for every
    # positive integer n (a·n < C ⟺ a ≤ (C−1) div n ⟺ a <
    # (C−1) div n + 1), but every operand now fits int64 at ANY
    # degree (H² < 2⁴⁰ since H is 20 bits; the per-row threshold is
    # ≤ γ²·2⁴⁰ < 2⁴⁶), so the hot entry filter runs in pure BIGINT
    # codegen instead of Decimal128 interpretation — measured ~2x on
    # the 600k-entry filter at sf0.1 — while staying bit-equal to
    # the DuckDB HUGEINT oracle predicate at every degree.
    h = md5_int(
        F.concat(
            F.lit("dimsum-v1:"),
            F.col("u").cast("string"),
            F.lit(":"),
            F.col("i").cast("string"),
        ),
        5,
    )
    kept = ia2.filter(
        (F.col("n") <= g2)
        | (h * h < F.expr(f"{g2 * (1 << 40) - 1} div n + 1"))
    )
    npart = int(ia.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return deg, kept.select("u", "i").repartition(npart, "u")


def item_item_dimsum(
    interactions: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    k: int = 3,
    gamma: int = 6,
) -> DataFrame:
    """Top-``k`` similar items with DIMSUM magnitude-proportional
    ENTRY sampling (Zadeh & Carlsson 2013; the published form Spark's
    ``RowMatrix.columnSimilarities(threshold)`` implements) — the
    sampling that shrinks the pair stage ITSELF, where ``min_co``
    only shrinks what survives the count. Each interaction (u, i) is
    kept independently with probability p_i = min(1, γ/√n_i), so the
    draw cost is LINEAR in |interactions| (one md5 per entry — never
    one per candidate pair, which is Σdeg² md5 evaluations and was
    measured 18 s at sf0.1 vs ~5 s for this form), the self-join
    input shrinks before any pair exists, and the expected kept-pair
    mass per item is O(γ²) independent of degree (the paper's
    shuffle bound). A pair survives iff BOTH endpoints drew heads:
    P = p_i·p_j, and the cosine² estimator needs NO square root —
    (co_s/(p_i·p_j))²/(n_i·n_j) = co_s²/(min(n_i,γ²)·min(n_j,γ²)),
    one integer-ppm formula covering both lanes (exact whenever both
    degrees are <= γ²: every entry kept, co_s = co).

    Determinism (the hash-certificate property): the Bernoulli draw
    is a 20-bit integer from md5("dimsum-v1:u:i") — recomputable
    bit-for-bit in any engine — kept iff H²·n_i < γ²·2⁴⁰ (P = γ/√n_i
    exactly, as an INTEGER comparison, evaluated in the equivalent
    threshold form H² < (γ²·2⁴⁰ − 1) div n_i + 1 whose operands all
    fit int64 at any degree; the DuckDB oracle keeps the literal
    HUGEINT product form — same kept set by integer-division
    identity).

    Plan shape at 100 TB: degrees join onto interactions item-keyed,
    the per-entry draw filters THAT table map-side, ONE user-keyed
    self-join over the kept entries, one (i, j) count shuffle —
    the stage that exceeded task memory at fixed partitions in the
    exact variant's 10x rehearsal now sees p²-shrunken pair volume.
    Degrees re-attach to the aggregated pairs by items-sized
    broadcast joins (riding them through the pair exchange as MAX
    aggregates fattened the dominant shuffle ~40%).

    Returns (item, rec, sim_ppm, sampled, rank): ``sampled`` = 1
    when either endpoint was in the estimator lane (n > γ²); sim_ppm
    there is a consistent integer estimate of cosine²·10⁶ (exact when
    both degrees <= γ²; for sampled pairs E[co_s²] carries a
    +co·pᵢpⱼ(1−pᵢpⱼ) variance term, so the squared-count form is
    biased slightly upward — the butterfly co_s(co_s−1) form is the
    genuinely unbiased one) and may exceed 10⁶.
    """
    g2 = gamma * gamma
    deg, keptr = dimsum_draw(
        interactions.select(F.col(user_col).alias("u"), F.col(item_col).alias("i")),
        gamma,
    )
    # degrees do NOT ride the pair stream: n is a function of i, so
    # MAX(n) per (i, j) group equals a post-count degree join — but
    # riding it put two extra bigint agg buffers on every one of the
    # Σ(p·deg)² partial rows and fattened the (i, j) exchange ~40%
    # (profiled 363 MB at sf0.1, the query's dominant stage).
    # Re-attach degrees to the aggregated pairs via broadcast
    # instead.
    co = (
        keptr.join(keptr.select("u", F.col("i").alias("j")), "u")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("co_s"))
        .join(F.broadcast(deg.select("i", F.col("n").alias("ni"))), "i")
        .join(
            F.broadcast(
                deg.select(F.col("i").alias("j"), F.col("n").alias("nj"))
            ),
            "j",
        )
    )
    # sim in pure BIGINT codegen: co_s²·10⁶ < 2⁶³ needs co_s < 3.03e6,
    # and co_s ≤ min(kept_i, kept_j) where kept mass per item is
    # ≈ γ·√n (the point of the draw) — γ=6 would need n > 2.5e11
    # interactions on a single item to overflow, far beyond the 100 TB
    # shape (and the 10k per-user cap). Within that bound the value is
    # bit-equal to the oracle's HUGEINT product cast to BIGINT, while
    # the expression runs as codegen long arithmetic instead of
    # interpreted Decimal128 on every one of the ~Σ(p·deg)² pair rows
    # (25M at sf0.1 — measured the dominant CPU term).
    sim = co.select(
        "i",
        "j",
        F.expr(
            f"co_s * co_s * {PPM}"
            f" div (least(ni, {g2}) * least(nj, {g2}))"
        ).alias("sim_ppm"),
        ((F.col("ni") > g2) | (F.col("nj") > g2))
        .cast("long")
        .alias("sampled"),
    )
    w = Window.partitionBy("i").orderBy(F.desc("sim_ppm"), "j")
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("rec"),
            "sim_ppm",
            "sampled",
            "rank",
        )
    )
