"""Data-profiling operators — corpus QA before a training run.

Single-pass summary statistics shaped for Catalyst: ONE aggregation
job computes every column's stats (count/nulls/distinct/min/max),
then a zero-cost stack() unpivots to one row per column. Exact
distinct counts expand to one aggregate per column (Spark's Expand);
at 100 TB swap ``exact_distinct=False`` to use HLL sketches
(approx_count_distinct, one pass, mergeable state) — the exact
variant exists because it is engine-portable and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .traindata import md5_int


def column_profile(
    df: DataFrame, cols: list[str], exact_distinct: bool = True
) -> DataFrame:
    """Per-column profile: (column_name, n_rows, n_nulls, n_distinct,
    min_str, max_str). min/max are cast to string so heterogeneous
    column types share one output schema."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}"),
            (
                F.countDistinct(F.col(c))
                if exact_distinct
                else F.approx_count_distinct(F.col(c))
            ).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as "
        "(column_name, n_rows, n_nulls, n_distinct, min_str, max_str)"
    )


def grouped_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    percentiles: list[float],
) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    — the order-statistics aggregate, not the t-digest approximation).
    Exact percentiles need the per-group value multiset; at 100 TB
    prefer ``percentile_approx`` (mergeable sketch, bounded memory) —
    this exact form is the oracle-checkable reference."""
    exprs = [
        F.percentile(F.col(value_col), F.lit(p)).alias(f"p{int(p * 100):02d}")
        for p in percentiles
    ]
    return df.groupBy(*group_cols).agg(*exprs)


HLL_LG_K = 12  # log2 of the HLL sketch's register count


def distinct_sketches(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group MERGEABLE distinct-count sketches (Datasketches
    HllSketch via ``hll_sketch_agg``): one binary sketch column per
    group, storable in a stage table.

    This is the incremental-analytics contract at 100 TB: sketch each
    ingest partition (e.g. per day) ONCE at write time, then answer
    "distinct users over any date range" by unioning the range's
    pre-built sketches (``merge_sketches``) — no raw re-scan, error
    ~1.6%/sqrt(2^HLL_LG_K), fixed 2^HLL_LG_K-byte state per group regardless
    of cardinality. approx_count_distinct gives the same estimate but
    returns only the NUMBER — the sketch column is what makes
    incremental maintenance and cross-table roll-ups composable.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(HLL_LG_K)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_sketches(
    sketch_df: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Union pre-built HLL sketches (optionally re-grouped to a
    coarser key) and estimate: register-max merge, associative and
    commutative, so any partial aggregation order gives the same
    estimate. Input is ``distinct_sketches`` output (or a union of
    several stage tables of it)."""
    keys = group_cols or []
    agg = sketch_df.groupBy(*keys).agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    )
    return agg.select(
        *keys,
        F.hll_sketch_estimate("sketch").alias("n_distinct_est"),
        "n_rows",
    )


def _cms_col(key: Column, row_i: Column, width: int) -> Column:
    """Count-min column index for ``key`` in hash row ``row_i``:
    a 32-bit md5 prefix of ``'cms-r{i}:' || key`` mod ``width``.
    md5 (not xxhash64) so the identical integer is computable in
    DuckDB — ``CAST('0x' || substr(md5(...),1,8) AS BIGINT) % w`` —
    which is what makes CMS estimates hash-certifiable cross-engine."""
    tagged = F.concat(F.lit("cms-r"), row_i.cast("string"), F.lit(":"), key)
    return md5_int(tagged, 8) % width


def build_cms(
    df: DataFrame, key_col: str, depth: int = 5, width: int = 256
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of the
    frequency distribution of ``key_col``: a (row_i, col_j, cnt)
    counter table with ``depth`` hash rows of ``width`` counters.

    Scale shape: the explode multiplies rows by ``depth`` BEFORE the
    shuffle, but hash-aggregate partial combine collapses each task's
    contribution to at most depth*width rows, so shuffle volume is
    bounded by n_tasks * depth * width regardless of input size —
    the same mergeability that lets per-shard / per-day sketches be
    summed later (counter tables add cell-wise: union + re-groupBy).

    Guarantee: estimate >= true count always; estimate <= true +
    (e/width)*N with probability 1 - e^-depth.
    """
    key = F.col(key_col).cast("string")
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row_i")
    return (
        df.select(key.alias("__k"))
        .select("__k", rows)
        .select("row_i", _cms_col(F.col("__k"), F.col("row_i"), width).alias("col_j"))
        .groupBy("row_i", "col_j")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 5,
    width: int = 256,
) -> DataFrame:
    """Probe a count-min sketch for every row of ``keys``: the
    estimate is min over the ``depth`` hash rows of the counter each
    key lands in. The sketch is depth*width rows — always broadcast —
    so the probe is a map-side hash join; the only shuffle is the
    min-aggregation over depth rows per key (partial-agg combined).
    Returns (key_col, est_count)."""
    key = F.col(key_col).cast("string")
    probe = (
        keys.select(F.col(key_col), key.alias("__k"))
        .select(
            key_col,
            "__k",
            F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_i"),
        )
        .select(
            key_col,
            "row_i",
            _cms_col(F.col("__k"), F.col("row_i"), width).alias("col_j"),
        )
    )
    joined = probe.join(F.broadcast(sketch), ["row_i", "col_j"], "left").fillna(
        0, subset=["cnt"]
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("est_count"))


def approx_heavy_hitters(
    df: DataFrame,
    col: str,
    support: float = 0.01,
    times_mean: tuple[int, int] | None = None,
) -> DataFrame:
    """Heavy hitters above a frequency threshold via Spark's
    ``freqItems`` (Karp-Papadimitriou-Shenker streaming majority):
    single pass, per-partition bounded state (1/support counters),
    merge at the driver. GUARANTEE: every value with relative
    frequency > support is returned (no false negatives); false
    positives possible — re-check with one exact count over the
    candidate set (returned here), which is a broadcast-semi-join
    aggregation over a handful of keys, not a full groupBy. The
    exact group-count twin (a2_group_count / top_bigrams) is the
    oracle-checkable form; this is the 100 TB skim.

    ``times_mean=(num, den)``: SCALE-INVARIANT mode — keep values
    whose count exceeds num/den × the mean per-value count (a fixed
    absolute support goes empty/trivial as the value universe
    grows). The comparison is integer cross-multiplied
    (cnt·den·n_values > num·n_rows): exact, engine-portable. The
    KPS support becomes 1/n_values (< the kept threshold, so the
    no-false-negative guarantee still covers every kept value);
    floor 1e-4 — below that the counter state exceeds what a skim
    should hold and a plain groupBy is the honest plan."""
    spark = df.sparkSession
    n = df.count()
    if times_mean is not None:
        num, den = times_mean
        n_vals = df.select(col).distinct().count()
        support = max(1.0 / n_vals, 1e-4)
        keep = F.col("cnt") * den * n_vals > num * n
    else:
        keep = F.col("cnt") > support * n
    cands = df.stat.freqItems([col], support).collect()[0][f"{col}_freqItems"]
    cand_df = spark.createDataFrame(
        [(c,) for c in cands], f"{col} {dict(df.dtypes)[col]}"
    )
    return (
        df.join(F.broadcast(cand_df), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(keep)
        .orderBy(F.desc("cnt"), col)
    )


# ------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with SET OPERATIONS
# ------------------------------------------------------------------

KMV_BITS = 48  # md5-prefix hash width: collision-negligible at bench
KMV_SPACE = 1 << KMV_BITS
KMV_SALT = "kmv-v1:"


def kmv_hash(key: Column) -> Column:
    """Deterministic 48-bit hash: md5-prefix, the engine's
    cross-engine flavor (DuckDB recomputes it exactly; the
    engine-internal xxhash64 flavor would be faster but cannot be
    oracled). 48 bits keep every downstream integer expression —
    including (k-1)·2⁴⁸ div h_k — inside BIGINT with no overflow
    (60-bit hashes overflow the estimator's multiply)."""
    return md5_int(F.concat(F.lit(KMV_SALT), key.cast("string")), 12)


def kmv_sketch(
    df: DataFrame, key_col: str, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct key hashes.

    Returns (group_cols..., hv) with ≤ k rows per group — a mergeable
    summary: the union sketch of two groups is the k smallest of
    their sketches' union, and (unlike HLL) INTERSECTIONS estimate
    directly from the overlap of the union sketch with each input
    sketch (Beyer et al. 2007, "On Synopses for Distinct-Value
    Estimation Under Multiset Operations").

    Plan: distinct (group, hash) → one rank window keyed on the
    group. The two-level k-min a 100 TB run needs is already
    PHYSICAL: Spark 4 plans rank-filter windows as WindowGroupLimit
    with a partial per-partition top-k BELOW the group Exchange and
    the final top-k above it (contract-locked in
    tests/test_plan_contracts.py) — only ≤ k rows per (partition,
    group) ever shuffle.
    """
    from pyspark.sql import Window

    hv = (
        df.select(*group_cols, kmv_hash(F.col(key_col)).alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        hv.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate(sketch: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Distinct-count estimate per group: (k-1) · 2⁴⁸ div h_k when
    the sketch is full, else the exact sketch size (fewer than k
    distinct keys = the sketch IS the distinct set). Pure integer
    math — fold-order-free and engine-exact."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").alias("__n"), F.max("hv").alias("__hk")
    )
    return agg.select(
        *group_cols,
        F.when(
            F.col("__n") >= k,
            F.expr(f"({k} - 1) * {KMV_SPACE}L div __hk"),
        )
        .otherwise(F.col("__n"))
        .cast("long")
        .alias("est"),
    )

def kmv_setops(
    sketch: DataFrame, group_col: str, a: str, b: str, k: int = 64
) -> DataFrame:
    """Union + intersection distinct estimates for two groups of a
    KMV sketch frame (Beyer et al. 2007): the union sketch is the k
    smallest DISTINCT hashes of the pooled input sketches; with n =
    |union sketch| and x = how many of its hashes appear in BOTH
    inputs, |A∪B| ≈ (k−1)·2⁴⁸ div h_k and |A∩B| ≈ x · est_union
    div n — the multiset capability HLL lacks. Returns two rows
    ("union:a+b", "intersect:a+b"). Guards n = 0 (both groups
    empty → both estimates 0). Works identically on batch sketches
    (kmv_sketch) and merged streaming state (read_kmv_sketch) —
    sketches are the algebra, the source doesn't matter."""
    pair = sketch.filter(F.col(group_col).isin(a, b))
    u = pair.select("hv").distinct().orderBy("hv").limit(k)
    ustat = u.agg(F.count("*").alias("n"), F.max("hv").alias("hk"))
    uest = ustat.select(
        "n",
        F.when(
            F.col("n") >= k,
            F.expr(f"({k} - 1) * {KMV_SPACE}L div hk"),
        )
        .otherwise(F.col("n"))
        .alias("est"),
    )
    sa = sketch.filter(F.col(group_col) == a).select("hv")
    sb = sketch.filter(F.col(group_col) == b).select("hv")
    x = (
        u.join(sa, "hv", "left_semi")
        .join(sb, "hv", "left_semi")
        .agg(F.count("*").alias("x"))
    )
    union_row = uest.select(
        F.lit(f"union:{a}+{b}").alias("scope"),
        F.col("est").cast("long").alias("est"),
    )
    inter_row = x.crossJoin(uest).select(
        F.lit(f"intersect:{a}+{b}").alias("scope"),
        F.when(F.col("n") > 0, F.expr("x * est div n"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("est"),
    )
    return union_row.unionByName(inter_row)
