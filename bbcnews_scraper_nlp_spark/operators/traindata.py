"""Training-corpus preparation operators.

The four operations every large-scale LLM-data pipeline runs between
"deduplicated documents" and "training shards", each expressed as a
pure Catalyst plan so Catalyst/AQE own the physical strategy:

- deterministic_split: reproducible train/val/test assignment from a
  content-independent hash of the document key. No rand() — the split
  is a pure function of the id, so it is stable across runs, engines,
  repartitioning, and backfills (the property that matters when a
  100 TB corpus is re-materialized incrementally).
- contamination: benchmark-contamination check — which documents
  contain verbatim n-grams from an eval/benchmark set. The benchmark
  side is small by nature (broadcast); documents never shuffle.
- pii_scrub: regex redaction of emails / IPv4s / long digit runs.
  Narrow projection, whole-stage codegen, linear scale-out. The regex
  dialect is restricted to the Java-regex ∩ RE2 subset so the exact
  same patterns run on any engine (and in the DuckDB oracle).
- pack_sequences: assign documents to fixed-token-budget training
  bins. Exact greedy packing is inherently sequential; the scalable
  form shards documents (hash of id), packs each shard independently
  with a running-cumsum window, and accepts <=1 partially-filled bin
  per shard. One shuffle (the per-shard window); shards = the
  parallelism knob.

No reference-repo counterpart: this module is part of the 100 TB
training-pipeline extension mandated by the build brief (BASELINE.json
north star), same tier as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------
# deterministic split
# ---------------------------------------------------------------------

SPLIT_BUCKETS = 100
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
# md5 draws: rows kept at 1/SAMPLE_BUCKETS granularity, and the salt
# tag each draw hashes with the key (the oracle SQL reads the same tags)
SAMPLE_BUCKETS = 10_000
SHUFFLE_SALT = "shuffle-v1"
MIX_SALT = "mix-v1"
CURRICULUM_SALT = "curriculum-v1"
WSAMPLE_SALT = "wsample-v1"
CURRICULUM_BANDS = 4
CURRICULUM_ACCURACY = 10_000  # percentile_approx accuracy of the band edges


def md5_int(key: Column, hex_digits: int) -> Column:
    """The engine's md5 draw: the first ``hex_digits`` hex digits of
    md5(key) as a non-negative BIGINT (``hex_digits`` <= 15). DuckDB
    computes the same value as ``('0x' || substr(md5(key), 1, n))``,
    which is what makes every md5-seeded sample, pick and sketch in the
    engine hash-certifiable by its oracle."""
    return F.conv(F.substring(F.md5(key), 1, hex_digits), 16, 10).cast("long")


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from md5 of the key — identical
    bytes-in/bucket-out on any engine that has md5 (unlike xxhash64 or
    rand(seed), which are engine-private)."""
    return F.pmod(md5_int(key.cast("string"), 8), F.lit(buckets))


def deterministic_split(df: DataFrame, id_col: str) -> DataFrame:
    """Add a ``split`` column by hash-bucketing the id.

    SPLIT_WEIGHTS are fractions summing to 1; assignment is by
    cumulative bucket ranges: train=[0,80) val=[80,90) test=[90,100).
    Pure projection: no shuffle, no state, reproducible under any
    partitioning.
    """
    bucket = hash_bucket(F.col(id_col), SPLIT_BUCKETS)
    expr: Column | None = None
    edge = 0.0
    names = list(SPLIT_WEIGHTS)
    for name in names[:-1]:
        edge += SPLIT_WEIGHTS[name] * SPLIT_BUCKETS
        cond = bucket < F.lit(int(round(edge)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


# ---------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-document count + share of word n-grams that appear verbatim
    in a benchmark corpus (decontamination pass, in the spirit of the
    GPT-3/C4 13-gram checks — n is a knob; tests use smaller n to fit
    the synthetic corpus).

    Plan: distinct doc shingles (explode, narrow) inner-join the
    distinct benchmark shingle set, counted per doc. The benchmark
    side is aggregated first (distinct) and broadcast — eval sets are
    thousands of rows while docs are billions, so the big side never
    shuffles. Returns (id, contaminated_ngrams, total_ngrams,
    contamination_ratio) for contaminated docs only.
    """
    from ..functions.tokenize import word_shingles

    sh_arr = F.array_distinct(word_shingles(F.split(F.col(text_col), " "), n))
    # Two-step select on purpose: putting size(sh_arr) and
    # explode(sh_arr) in ONE projection makes Catalyst evaluate the
    # (interpreted, per-element) shingle HOF chain independently for
    # each — and the size copy lands ABOVE the Generate, i.e. once per
    # exploded row (~300x). Materializing the array first pins one
    # evaluation below the Generate; size() above it is then a cheap
    # column ref (measured 1.4x on this query at sf0.1).
    doc_sh = docs.select(F.col(id_col), sh_arr.alias("__arr")).select(
        F.col(id_col),
        F.size("__arr").alias("__total"),
        F.explode("__arr").alias("__s"),
    )
    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(word_shingles(F.split(F.col(text_col), " "), n))
            ).alias("__s")
        )
        .distinct()
    )
    hits = doc_sh.join(F.broadcast(bench_sh), "__s")
    return (
        hits.groupBy(id_col, "__total")
        .agg(F.count("*").alias("contaminated_ngrams"))
        .select(
            F.col(id_col),
            "contaminated_ngrams",
            F.col("__total").alias("total_ngrams"),
            F.round(
                F.col("contaminated_ngrams").cast("double") / F.col("__total"), 6
            ).alias("contamination_ratio"),
        )
    )


# ---------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------

# Java-regex ∩ RE2 subset only: explicit ASCII classes, no lookaround,
# no \p{...} (dialects disagree — see cross-engine rules in queries.py).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
LONG_DIGITS_RE = r"\b[0-9]{9,}\b"

PII_RULES: tuple[tuple[str, str], ...] = (
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (LONG_DIGITS_RE, "<ID>"),
)


def pii_scrub(col: Column) -> Column:
    """Ordered regex redaction chain (email before ip/id so the local
    part's digits are not half-eaten). Pure codegen projection."""
    out = col
    for pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_scrub_sql(expr: str) -> str:
    """The identical chain as ANSI/DuckDB SQL (regexp_replace with the
    global flag — Spark's regexp_replace is global by default)."""
    out = expr
    for pattern, token in PII_RULES:
        escaped = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped}', '{token}', 'g')"
    return out


# ---------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    shards: int = 256,
) -> DataFrame:
    """Concat-and-chunk packing (the standard LLM-pretraining shape):
    per shard, documents are laid out contiguously in id order and the
    token stream is cut every ``budget`` tokens; each document's
    ``bin`` is the context-window index where it starts.

    Plan: deterministic hash shard -> per-shard running token cumsum
    (window) -> bin = floor(cumsum_before / budget). One shuffle (the
    per-shard window); ``shards`` is the parallelism knob — at 100 TB
    pick shards >> cores so no single window partition outgrows
    executor memory.
    """
    shard = hash_bucket(F.col(id_col), shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tokens = F.col(token_count_col)
    return (
        df.select(F.col(id_col), F.col(token_count_col), shard)
        .withColumn("__cum", F.sum(tokens).over(w))
        .select(
            id_col,
            token_count_col,
            "shard",
            F.floor((F.col("__cum") - tokens) / budget).cast("int").alias("bin"),
        )
    )


# ---------------------------------------------------------------------
# stratified sampling & deterministic corpus shuffle
# ---------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling (domain-mixing for training
    corpora): keep a row iff its md5 hash-bucket falls below the
    stratum's fraction. Unlike ``DataFrame.sampleBy`` (rand()-seeded,
    partitioning-dependent), the kept set is a pure function of the
    key — stable across runs, engines, and re-partitionings, so a
    re-materialized 100 TB corpus reproduces byte-identically. Pure
    projection + filter: no shuffle, no state."""
    bucket = hash_bucket(F.col(key_col), SAMPLE_BUCKETS)
    thr: Column | None = None
    for stratum, frac in fractions.items():
        cond = F.col(strata_col) == stratum
        lim = F.lit(int(round(frac * SAMPLE_BUCKETS)))
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    thr = thr.otherwise(F.lit(int(round(default_fraction * SAMPLE_BUCKETS))))
    return df.filter(bucket < thr)


def deterministic_shuffle(
    df: DataFrame, key_col: str, shards: int = 1024, salt: str = SHUFFLE_SALT
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering:
    assigns every row a total-order position ``(shard, shard_pos)``
    where shard = hash-bucket of the salted key and shard_pos ranks
    by the full salted hash within the shard.

    A literal ORDER BY hash at 100 TB is a global sort; this is the
    scalable equivalent — readers consume shards in index order and
    rows within a shard in shard_pos order, which IS the order
    ORDER BY (hash) would give (shard is the hash's leading bucket).
    One shuffle on shard; ``shards`` bounds the per-window input
    (pick shards >> cores so no partition outgrows memory). Changing
    ``salt`` produces an independent permutation (new epoch order)."""
    salted = F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
    h = F.md5(salted)
    shard = F.pmod(md5_int(salted, 8), F.lit(shards))
    w = Window.partitionBy("shard").orderBy("__h", key_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", shard.cast("int"))
        .withColumn("shard_pos", F.row_number().over(w))
        .drop("__h")
    )


def mix_sources(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic data-mixing: keep each source at its configured
    sampling rate (the pretraining-mixture knob — e.g. upweight books
    by keeping 100%, downweight crawl to 30%).

    Per-row Bernoulli via salted hash-bucketing of the key, so the
    decision is a pure projection — reproducible on any engine/
    partitioning (no rand()), stable across reruns, and independent
    across salts (a new MIX_SALT redraws the subsample). Sources
    absent from ``weights`` fall back to ``default_weight``. Rates
    are quantized to 1/SAMPLE_BUCKETS (0.01% granularity).

    Scale: no shuffle, no state; the filter pushes into the scan
    stage alongside any other narrow predicate.
    """
    bucket = F.pmod(
        md5_int(
            F.concat(F.lit(MIX_SALT + ":"), F.col(key_col).cast("string")), 8
        ),
        F.lit(SAMPLE_BUCKETS),
    )
    expr = None
    for src, w in sorted(weights.items()):
        cond = F.col(source_col) == src
        t = F.lit(int(round(w * SAMPLE_BUCKETS)))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = (
        expr.otherwise(F.lit(int(round(default_weight * SAMPLE_BUCKETS))))
        if expr is not None
        else F.lit(int(round(default_weight * SAMPLE_BUCKETS)))
    )
    return df.filter(bucket < thr)


def select_token_budget(
    df: DataFrame,
    n_tokens_col: str,
    order_col: str,
    key_col: str,
    budget: int,
) -> DataFrame:
    """Fill a token budget with the best documents: rank by
    ``order_col`` DESC (quality score, dedup priority, ...) with
    ``key_col`` as the deterministic tie-break, keep rows while the
    running token total stays within ``budget`` (the first row is
    always kept, so one over-budget giant can't zero the corpus).

    The running total is a single ordered-window cumsum. NOTE: an
    unpartitioned ordered window is a one-task stage — correct but
    serial. At real scale pre-aggregate per quality band: bucket
    order_col, sum tokens per bucket (one tiny agg), pick the cutoff
    band on the driver, and window-only within the boundary band.
    This operator is the exact semantics those plans approximate.
    """
    w = Window.orderBy(F.desc(order_col), key_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    running = F.sum(F.col(n_tokens_col)).over(w)
    prev = running - F.col(n_tokens_col)
    return (
        df.withColumn("__run", running)
        .withColumn("__prev", prev)
        .filter((F.col("__run") <= budget) | (F.col("__prev") == 0))
        .drop("__run", "__prev")
    )


# ---------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------


def dsir_weights(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169) data selection:
    importance weight per document from hashed-n-gram likelihood
    ratios. Features are unigrams + bigrams hashed into ``n_buckets``
    md5 buckets; the target distribution is the subset matching
    ``target_pred`` (e.g. lang = 'en'), the raw distribution is the
    whole corpus; weight(doc) = sum over its grams of
    ln(p_target(bucket) / p_raw(bucket)) with add-1 smoothing.
    Sampling the corpus proportional to exp(weight) reproduces the
    paper's selection; here the weights themselves are emitted so the
    ranking is oracle-checkable.

    Cross-engine determinism: the per-bucket log-ratio is rounded and
    integer-scaled (ROUND(ln(r)*1e6)::BIGINT) before the per-doc SUM,
    so the aggregation is exact integer arithmetic in any order — the
    one float op per bucket happens once, not once per doc.

    Scale shape: one explode over grams feeding (a) a map-side-
    combined bucket count (n_buckets rows — tiny) and (b) a broadcast
    join back to the gram stream + per-doc sum. Documents never
    shuffle; the only wide exchange is the groupBy(doc) partial sum.
    Returns (id, n_grams, weight) — one row per input document.
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )
    base = docs.select(
        F.col(id_col).alias("__id"),
        target_pred.alias("__tgt"),
        toks.alias("__t"),
    )
    bigrams = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("__t"), i),
                F.element_at(F.col("__t"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        "__id",
        "__tgt",
        F.explode(F.concat(F.col("__t"), bigrams)).alias("__g"),
    ).select(
        "__id", "__tgt", hash_bucket(F.col("__g"), n_buckets).alias("__b")
    )
    counts = grams.groupBy("__b").agg(
        F.count("*").alias("__raw_cnt"),
        F.count_if(F.col("__tgt")).alias("__tgt_cnt"),
    )
    # corpus totals fold from the n_buckets-row count table via one
    # global window (single partition of <= n_buckets skinny rows) —
    # the gram stream is scanned exactly twice (stats pass + scoring
    # pass), never a third time for a scalar
    wall = Window.partitionBy()
    stats = (
        counts.withColumn("__raw_total", F.sum("__raw_cnt").over(wall))
        .withColumn("__tgt_total", F.sum("__tgt_cnt").over(wall))
        .select(
            "__b",
            F.round(
                F.log(
                    ((F.col("__tgt_cnt") + 1.0) * (F.col("__raw_total") + n_buckets))
                    / ((F.col("__raw_cnt") + 1.0) * (F.col("__tgt_total") + n_buckets))
                )
                * 1e6
            )
            .cast("long")
            .alias("__lrs"),
        )
    )
    scored = (
        grams.join(F.broadcast(stats), "__b")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("__lrs").alias("__ws"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.round(F.coalesce(F.col("__ws"), F.lit(0)) / 1e6, 6).alias("weight"),
        )
    )


# ---------------------------------------------------------------------
# curriculum ordering
# ---------------------------------------------------------------------


def curriculum_order(
    df: DataFrame,
    score_col: str,
    key_col: str,
    method: str = "approx",
) -> DataFrame:
    """Curriculum ordering for training corpora: quality bands from
    best to worst, with a deterministic content-independent hash
    shuffle WITHIN each band — the standard easy-to-hard schedule
    where band boundaries carry the curriculum and intra-band order
    is decorrelated from the score.

    Returns (key, band, band_pos): feed band-major (band, band_pos)
    order to the shard writer.

    ``method`` picks the banding plan:

    - ``"approx"`` (default — the 100 TB path): band edges from ONE
      tiny ``percentile_approx`` aggregate (CURRICULUM_BANDS-1 doubles to the
      driver), banding by broadcast-literal comparison — a map-only
      projection; the only shuffle is the per-band position window,
      which is partitioned by band. No unpartitioned window anywhere.
      Band sizes are approximately equal; rows tied at an edge value
      land in the LOWER (worse-score) band — the GK sketch returns an
      actual dataset value at rank ~⌈p·n⌉, i.e. the last member of
      the lower band, so inclusive-lower banding is what agrees with
      the exact ntile on separated clusters.
    - ``"exact"``: ntile over (score DESC, key) — exactly equal band
      sizes with key tie-break, but the ntile is an unpartitioned
      window (a one-task stage). The cross-engine-oracled anchor
      (`curriculum_order_bands`); use only at bench/validation scale.

    For well-separated scores (no mass at the band edges) the two
    methods assign identical bands — pytest-pinned.
    """
    if method not in ("exact", "approx"):
        raise ValueError(f"method must be exact|approx, got {method!r}")
    h = F.md5(
        F.concat(F.lit(CURRICULUM_SALT + ":"), F.col(key_col).cast("string"))
    )
    if method == "exact":
        band = F.ntile(CURRICULUM_BANDS).over(
            Window.orderBy(F.desc(score_col), F.col(key_col))
        )
    else:
        probs = [
            1.0 - i / CURRICULUM_BANDS for i in range(1, CURRICULUM_BANDS)
        ]
        edges = df.agg(
            F.percentile_approx(score_col, probs, CURRICULUM_ACCURACY).alias("e")
        ).first()["e"]
        band = F.lit(1)
        for e in edges:
            band = band + (F.col(score_col) <= F.lit(float(e))).cast("int")
    banded = df.select(
        F.col(key_col), F.col(score_col), band.alias("band"), h.alias("__h")
    )
    pos = F.row_number().over(
        Window.partitionBy("band").orderBy("__h", key_col)
    )
    return banded.select(
        key_col, "band", pos.alias("band_pos")
    )


# ---------------------------------------------------------------------
# weighted sampling
# ---------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    strata_cols: list[str] | None = None,
) -> DataFrame:
    """Exact-size weighted sampling without replacement (Efraimidis &
    Spirakis 2006 A-ES): rank rows by u^(1/w) with u a DETERMINISTIC
    md5-uniform of the key, keep the top ``k`` (per stratum when
    ``strata_cols`` given). The reproducible form of "sample the
    corpus proportional to quality weight into a fixed budget" — no
    rand(), so the sample is stable across runs, engines, partitioning
    and backfills, like deterministic_split.

    Rank key is ln(u)/w (monotone in u^(1/w), avoids pow underflow at
    large w), ROUND-6 with the id as tie-break. One shuffle (the
    per-stratum rank window); at a global k with billions of rows,
    swap the window for a per-partition top-k + driver merge
    (TakeOrdered shape) — the window form is the oracle-able anchor.
    Rows with weight <= 0 never sample.
    """
    strata_cols = strata_cols or []
    u = (
        md5_int(
            F.concat(F.lit(WSAMPLE_SALT + ":"), F.col(key_col).cast("string")),
            13,
        )
        .cast("double")
        + 1.0
    ) / F.lit(float((1 << 52) + 1))
    rk = F.round(F.log(u) / F.col(weight_col), 6)
    w = Window.partitionBy(*strata_cols).orderBy(
        F.desc("__rk"), F.col(key_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__rk", rk)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rk", "__rn")
    )


def kfold_split(df: DataFrame, id_col: str, k: int = 5) -> DataFrame:
    """Add a ``fold`` column in [0, k) by hash-bucketing the id —
    deterministic k-fold cross-validation assignment (fold i's
    validation set = fold == i, training set = the rest; every row
    validates exactly once across the k rounds by construction).
    Same engine-portable md5 bucketing as ``deterministic_split``:
    reproducible across runs/engines/partitionings, pure projection,
    no shuffle, no state — the property that lets a 100 TB corpus
    re-materialize the same folds in every epoch and on every
    engine."""
    return df.withColumn(
        "fold", hash_bucket(F.col(id_col), k).cast("int")
    )
