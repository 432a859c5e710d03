"""Reusable relational operator builders (SURVEY §2.2-2.7).

Each helper encodes one reference operator as the Spark plan we'd
want at 100 TB — broadcast where the side is small, top-k without a
full sort, deterministic dedup, window specs with the reference's
exact NULL semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .traindata import md5_int

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 idle minutes open a new session
BLOOM_HASHES = 5  # bit positions per key in the Bloom-filter helpers
HRW_TAG = "hrw-v1"  # salt of the rendezvous-hash score md5("tag:shard:id")


def epoch_us(col: str | Column) -> Column:
    """Epoch microseconds from ANY timestamp flavor.

    Spark 4 reads tz-less parquet timestamps as TIMESTAMP_NTZ, which
    rejects both ``unix_micros`` and a direct long cast
    (DATATYPE_MISMATCH); routing through an LTZ cast is legal for
    every flavor (a no-op for TIMESTAMP inputs). The session timezone
    interprets the NTZ wall clock — pinned to UTC in
    ``session.get_spark`` so epoch values equal DuckDB's
    ``epoch_us`` on the same naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp_ltz"))


def epoch_seconds(col: str | Column) -> Column:
    """Truncated epoch seconds, NTZ-proof (see ``epoch_us``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("long")


def top_n(df: DataFrame, order_cols: list[Column], n: int) -> DataFrame:
    """A6: ``sort(k, desc).limit(n)``.

    Spark plans TakeOrderedAndProject: each partition keeps a local
    top-n heap, the driver merges — no global sort, no full shuffle.
    Always include a unique tiebreak column for deterministic results.
    """
    return df.orderBy(*order_cols).limit(n)


def dedup_keep_first(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """F6/S7: dedup by key, DETERMINISTICALLY keeping the first row by
    ``order_cols`` (the reference's Mongo unique index keeps the first
    insert; plain ``dropDuplicates`` keeps an arbitrary row).

    One shuffle on the key; AQE handles skewed hot keys.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_new(df_new: DataFrame, df_seen: DataFrame, key: str) -> DataFrame:
    """F7/J3/J4: keep only unseen keys — the reference's
    dedup-BEFORE-fetch middleware (middlewares.py:6-16). Placed
    upstream of any expensive UDF stage by construction; Catalyst
    won't reorder around black-box Python, so this ordering is the
    design rule itself."""
    return df_new.join(df_seen.select(key), key, "left_anti")


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot key of the skewed
    (big) side across ``n_salts`` shuffle partitions; the dim side is
    replicated once per salt so every (key, salt) pair still meets its
    match. Output is row-identical to ``skewed.join(dim, key, how)``.

    This is the MANUAL fallback for when AQE's skew-join split cannot
    help: AQE splits oversized *partitions*, but a single hot KEY
    lands in one partition no matter how it is split for a join that
    must co-locate the key. Salting rewrites the join key itself, so
    one hot key fans across n_salts reducers. Cost: dim side is
    materialized n_salts times — use with a dim that is small-ish but
    above the broadcast threshold (below it, broadcast already avoids
    the problem entirely).

    The salt is derived from xxhash64 of the skewed row's whole tuple
    — deterministic (replayable tasks, no rand()) and decorrelated
    from the join key.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        # right/full-outer would surface the dim replication as
        # duplicate unmatched rows — flip the sides instead.
        raise ValueError(f"salted_join supports left-preserving joins, got {how!r}")
    salt = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in skewed.columns])),
        F.lit(n_salts),
    )
    left = skewed.withColumn("__salt", salt)
    right = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return left.join(right, [key, "__salt"], how).drop("__salt")


def union_dedup(a: DataFrame, b: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """§2.7: archive + daily feeds share one sink -> unionByName +
    keyed dedup."""
    return dedup_keep_first(a.unionByName(b), key_cols, order_cols)


def rolling_mean_min_periods(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    window_rows: int = 10,
) -> DataFrame:
    """W1/W2: pandas ``rolling(10).mean()`` semantics — trailing
    10-row mean, NULL for the first window_rows-1 rows (min_periods).

    Implemented as one window spec reused for every value column plus
    a row_number guard. Note: an unpartitioned ordered window is a
    single-task bottleneck at scale — the trend query only ever runs
    this over the *daily aggregate* series (≤ a few thousand rows at
    100 TB), never over raw events.
    """
    w_order = Window.orderBy(order_col)
    w_frame = w_order.rowsBetween(-(window_rows - 1), 0)
    rn = F.row_number().over(w_order)
    out = df
    for v in value_cols:
        out = out.withColumn(
            f"rolling_{v}",
            F.when(rn >= window_rows, F.avg(v).over(w_frame)),
        )
    return out


def argmax_array(arr: Column) -> tuple[Column, Column]:
    """W3: per-row (argmax_index, max_value) over an array column.

    ``array_position`` finds the FIRST occurrence of the max —
    matching Python ``sorted(..., reverse=True)`` stability (ties keep
    the lowest index), the reference's tie-break
    (topic_modelling.ipynb cell 23).
    Returns 0-based index.
    """
    mx = F.array_max(arr)
    idx = (F.array_position(arr, mx) - 1).cast("int")
    return idx, mx


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join (Spark has no native one): for each left row, the
    latest right row with right_ts <= left_ts per key.

    Implemented as the union-window composition: tag both sides,
    union, window per key ordered by (ts, side) with right rows
    sorting BEFORE left rows at equal ts (so exact-timestamp matches
    are visible, matching DuckDB/pandas inclusive semantics), and
    last_value(..., ignoreNulls) carries the right payload forward.

    Scale: ONE shuffle (the window partition by key) instead of a
    range-join explosion; per-key state is a single running value.
    Skewed keys are the hazard — salt or sub-bucket the key if one
    entity dominates.
    """
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    rt = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(v).alias(f"__r_{v}") for v in value_cols],
    )
    for v in value_cols:
        lt = lt.withColumn(f"__r_{v}", F.lit(None).cast(rt.schema[f"__r_{v}"].dataType))
    unioned = lt.select(
        *[F.col(c) for c in left.columns], "__ts", "__side",
        *[F.col(f"__r_{v}") for v in value_cols],
    ).unionByName(
        rt.select(
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                if c != key
                else F.col(key)
                for c in left.columns
            ],
            "__ts", "__side", *[F.col(f"__r_{v}") for v in value_cols],
        )
    )
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *left.columns,
        "__side",
        *[
            F.last(f"__r_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).drop("__side")


def sessionize(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """Sessionization: new session when the gap to the previous event
    of the same key exceeds the threshold. lag + conditional cumsum —
    one shuffle on the key; returns rows with a session_id column.

    Gaps compare at FULL microsecond precision (``epoch_us``) — a
    truncated-seconds gap would disagree with sub-second event times
    at the exact session boundary."""
    w = Window.partitionBy(key).orderBy(ts_col)
    us = epoch_us(ts_col)
    gap = us - F.lag(us).over(w)
    is_new = F.when(
        gap.isNull() | (gap > SESSION_GAP_US), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def bloom_semi_join(
    big: DataFrame,
    keys_df: DataFrame,
    key: str,
    n_bits: int = 1 << 22,
    exact: bool = True,
) -> DataFrame:
    """Runtime Bloom-filter semi-join: prune the BIG side with a
    broadcast bitmap of the key set before (or instead of) the exact
    join — the hand-rolled version of Spark's InjectRuntimeFilter,
    for when the key set is too large for a broadcast hash join but
    its Bloom filter (n_bits/8 bytes) still broadcasts. At 100 TB
    this moves the semi-join's selectivity from the shuffle to the
    scan: only maybe-matching rows are shuffled.

    Bitmap construction is fully distributed: each key explodes to
    ``BLOOM_HASHES`` bit positions (JVM xxhash64, seeded), positions
    group to 64-bit words with BIT_OR partial aggregation, and only
    the ≤ n_bits/64 (word_index, word) rows reach the driver — the
    raw keys never do. The big-side probe computes the same seeded
    hash positions JVM-side; the Python stage is a vectorized numpy
    bitmap lookup over the broadcast array (no hashing in Python, no
    per-row UDF).

    ``exact=True`` follows the bloom pre-filter with the exact
    left_semi join, so false positives are removed and the result is
    row-identical to ``big.join(keys_df, key, 'left_semi')``;
    ``exact=False`` returns the maybe-matching superset (no false
    negatives) for cases where a downstream join re-checks anyway.

    Sizing: fp-rate ≈ (1 - e^(-kn/m))^k; the 4 Mbit / k=5 default
    holds fp < 1% to ~300k distinct keys. The reference's analog is
    the seen-URL probe before fetch (middlewares.py:6-16) — same
    idea, set-membership pushed upstream of the expensive stage.
    """
    words = _bloom_words(keys_df, key, n_bits, BLOOM_HASHES).collect()
    bitmap = np.zeros(n_bits // 64, dtype=np.uint64)
    for r in words:
        bitmap[r["w"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    pruned = big.filter(
        _bloom_maybe_col(big, key, bitmap, n_bits, BLOOM_HASHES)
    )
    if not exact:
        return pruned
    return pruned.join(keys_df.select(key).distinct(), key, "left_semi")


def _bloom_positions(col: Column, n_bits: int, n_hashes: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(n_bits))
        for seed in range(n_hashes)
    ]


def _bloom_words(
    keys_df: DataFrame, key: str, n_bits: int, n_hashes: int
) -> DataFrame:
    """Distributed Bloom bitmap as (word_index, word) rows — the
    mergeable, saveable representation (≤ n_bits/64 rows; keys never
    leave the executors)."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    return (
        keys_df.select(
            F.explode(
                F.array(*_bloom_positions(F.col(key), n_bits, n_hashes))
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            # dynamic shift distance needs the SQL form (the Python
            # F.shiftleft signature takes a literal int only)
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )


def _bloom_maybe_col(
    df: DataFrame, key: str, bitmap: "np.ndarray", n_bits: int, n_hashes: int
) -> Column:
    """Boolean 'maybe in set' column: JVM-side seeded hash positions,
    one vectorized numpy bitmap gather per Arrow batch."""
    from pyspark.sql.pandas.functions import pandas_udf

    bc = df.sparkSession.sparkContext.broadcast(bitmap)

    @pandas_udf("boolean")
    def bloom_maybe(pos_s: pd.Series) -> pd.Series:
        bm = bc.value
        mat = np.stack(pos_s.values)
        idx = (mat >> 6).astype(np.int64)
        sh = (mat & 63).astype(np.uint64)
        hit = (bm[idx] >> sh) & np.uint64(1)
        return pd.Series(hit.all(axis=1))

    return bloom_maybe(
        F.array(*_bloom_positions(F.col(key), n_bits, n_hashes))
    )


def save_bloom(
    keys_df: DataFrame,
    key: str,
    path: str,
    n_bits: int = 1 << 22,
) -> None:
    """Persist a key set's Bloom filter as parquet (w, word, n_bits,
    n_hashes) — the cross-run seen-set for incremental corpus builds.
    The bitmap is built fully distributed (``_bloom_words``) and the
    parquet holds ≤ n_bits/64 skinny rows regardless of key count;
    the parameter columns ride along so a later run can't probe with
    mismatched hashing."""
    (
        _bloom_words(keys_df, key, n_bits, BLOOM_HASHES)
        .select(
            "w", "word",
            F.lit(n_bits).alias("n_bits"),
            F.lit(BLOOM_HASHES).alias("n_hashes"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_bloom(spark, path: str, keys_df: DataFrame, key: str) -> None:
    """Fold a new batch's keys into a saved Bloom filter: OR-merge of
    the (w, word) rows — Bloom bitmaps are unions, so incremental
    ingest never rebuilds the filter. The merged word list (≤
    n_bits/64 rows) rides through the driver because parquet can't be
    overwritten while being read lazily — bounded by construction,
    same policy as bloom_semi_join's collect."""
    old = spark.read.parquet(path)
    meta = old.select("n_bits", "n_hashes").first()
    n_bits, n_hashes = int(meta["n_bits"]), int(meta["n_hashes"])
    merged = (
        old.select("w", "word")
        .unionByName(_bloom_words(keys_df, key, n_bits, n_hashes))
        .groupBy("w")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    )
    spark.createDataFrame(
        [(int(r["w"]), int(r["word"])) for r in merged], "w long, word long"
    ).select(
        "w", "word",
        F.lit(n_bits).alias("n_bits"),
        F.lit(n_hashes).alias("n_hashes"),
    ).write.mode("overwrite").parquet(path)


def filter_unseen(
    big: DataFrame,
    key: str,
    path: str,
    exact_seen: DataFrame | None = None,
) -> DataFrame:
    """Incremental-dedup gate: keep rows whose key is NOT in the saved
    Bloom filter (definitely new — Bloom has no false negatives), the
    cross-run twin of the reference's seen-URL probe
    (middlewares.py:6-16). Rows the filter flags 'maybe seen' are
    false positives at the documented fp rate; pass the exact seen-key
    store as ``exact_seen`` to recover them with an anti-join over
    only the maybe subset — the full store is never joined against
    the whole batch."""
    spark = big.sparkSession
    saved = spark.read.parquet(path)
    meta = saved.select("n_bits", "n_hashes").first()
    n_bits, n_hashes = int(meta["n_bits"]), int(meta["n_hashes"])
    bitmap = np.zeros(n_bits // 64, dtype=np.uint64)
    for r in saved.select("w", "word").collect():
        bitmap[r["w"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    maybe = _bloom_maybe_col(big, key, bitmap, n_bits, n_hashes)
    definitely_new = big.filter(~maybe)
    if exact_seen is None:
        return definitely_new
    recovered = big.filter(maybe).join(
        exact_seen.select(key).distinct(), key, "left_anti"
    )
    return definitely_new.unionByName(recovered)


def grouped_zscore_pandas(
    df: DataFrame, key: str, value_col: str, out_col: str = "zscore"
) -> DataFrame:
    """applyInPandas twin of the window z-score: per-group pandas
    transform (the grouped-map UDF surface, SURVEY §2.9). Prefer the
    pure-window form for production — this exists to exercise and
    document the escape hatch; one shuffle on the key, whole group
    materialized in pandas (bounded-group-size assumption)."""
    import pandas as pd  # noqa: F401

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} double"

    def per_group(pdf):
        std = pdf[value_col].std(ddof=1)
        if std and std > 0:
            pdf[out_col] = (pdf[value_col] - pdf[value_col].mean()) / std
        else:
            pdf[out_col] = 0.0
        return pdf

    return df.groupBy(key).applyInPandas(per_group, schema)


def range_join_binned(
    left: DataFrame,
    ts_col: str,
    right: DataFrame,
    start_col: str,
    end_col: str,
    bin_seconds: int = 86400,
    key: str | None = None,
) -> DataFrame:
    """Keyless (or loosely-keyed) interval containment join — the
    "range join" Spark has no native batch operator for: match every
    left row whose ``ts_col`` lies in a right row's
    ``[start_col, end_col)`` interval.

    Naive Spark plans this as BroadcastNestedLoopJoin (quadratic —
    dead at scale). This operator BINS time instead: each right
    interval explodes to the 1 + (len/bin) bins it covers, each left
    point maps to exactly one bin, and the join becomes a plain
    equi-join on (bin [, key]) followed by the exact range predicate
    as a post-filter — Kornacker-style partitioned range join, AQE-
    compatible, shuffle on uniform bin keys.

    Pick ``bin_seconds`` ≈ typical interval length: fan-out per right
    row is len/bin + 1 (too small → explosion), left spill into a
    bin stays 1 (too big → post-filter does all the work). Skewed
    bins (hot hours) are uniform-hash bins, so AQE skew split
    applies. Emits matched pairs (all left + right columns); callers
    aggregate or left-join back for unmatched handling.
    """
    secs = epoch_seconds
    bin_l = (secs(ts_col) / bin_seconds).cast("long")
    bin_span = F.sequence(
        (secs(start_col) / bin_seconds).cast("long"),
        # end is exclusive, but a partial last bin still matches
        (secs(end_col) / bin_seconds).cast("long"),
    )
    lhs = left.withColumn("__bin", bin_l)
    rhs = right.withColumn("__bin", F.explode(bin_span))
    on = [lhs["__bin"] == rhs["__bin"]]
    if key is not None:
        on.append(lhs[key] == rhs[key])
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    out = lhs.join(rhs, cond).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    drop = [lhs["__bin"], rhs["__bin"]] + ([rhs[key]] if key else [])
    return out.drop(*drop)


def _range_bucket(df: DataFrame, key: str | Column, buckets: int) -> DataFrame:
    """Contiguous range-bucket an INTEGRAL key (a column name or a
    Column) into ``buckets`` buckets: ``(key - min) div width`` with
    ``width`` derived from the broadcast (min, max) SPAN. Normalizing
    by the min matters: bucketing on the raw key with a max-derived
    width degenerates to ONE bucket whenever the key span is small
    relative to its magnitude (epoch-microsecond keys: span hours,
    magnitude 10^15) — which silently rebuilds the single-task scan
    the two-level pattern exists to avoid. Adds ``__bucket``."""
    k = F.col(key) if isinstance(key, str) else key
    bounds = df.agg(F.min(k).alias("__mn"), F.max(k).alias("__mx"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__w", F.expr(f"((__mx - __mn) div {buckets}) + 1"))
        .withColumn(
            "__bucket", F.call_function("div", k - F.col("__mn"), F.col("__w"))
        )
        .drop("__mn", "__mx", "__w")
    )


def _two_level_scan(
    df: DataFrame, key: str | Column, buckets: int, total: Column, scan
) -> DataFrame:
    """The bucket half of every two-level scan: range-bucket ``key``
    (``_range_bucket``), aggregate ``total`` per bucket, and run
    ``scan`` (an aggregate function such as ``F.sum`` or ``F.max``)
    over the STRICTLY earlier buckets' totals — the one single-task
    window, over a ``buckets``-row table. Returns ``df`` plus
    ``__bucket`` and ``__base``, the broadcast-joined exclusive
    bucket prefix (NULL for the first non-empty bucket); the caller
    finishes with its own window partitioned by ``__bucket``."""
    b = _range_bucket(df, key, buckets)
    totals = b.groupBy("__bucket").agg(total.alias("__t"))
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    base = totals.select("__bucket", scan("__t").over(wb).alias("__base"))
    return b.join(F.broadcast(base), "__bucket")


def prefix_sum_two_level(
    df: DataFrame,
    order_col: str,
    val_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Scale-safe global exclusive prefix sum over an INTEGRAL ordering
    key — the classic two-level scan, as one lazy DAG.

    A naive ``SUM() OVER (ORDER BY k)`` has an empty partition spec:
    Spark moves EVERY row into a single task — the canonical
    silent-scale-killer (it works at sf0.01 and dies at 100 TB).
    Instead: range-bucket the key into ``buckets`` contiguous
    buckets (bucket = key div width, width from a 1-row broadcast
    max-aggregate — integral `div`, no float rounding); aggregate
    per-bucket totals; run the tiny window over the ``buckets``-row
    totals table to get each bucket's exclusive base offset; join the
    base back (broadcast — it is `buckets` rows by construction) and
    finish with a per-bucket window partitioned BY bucket. The only
    single-task window scans `buckets` rows, a constant; every
    full-data shuffle keys on the bucket id (uniform when the key is
    dense; pick `buckets` >> cores for AQE to balance stragglers).

    The canonical use: assigning global token offsets to documents of
    a packed training corpus (megatron-style index building) without
    ever funnelling the corpus through one task.

    Returns df's (order_col, val_col) plus ``prefix`` = sum of
    val_col over all rows with strictly smaller order_col.
    Ties on order_col within a bucket are broken deterministically by
    order_col itself (equal keys see an arbitrary-but-stable split of
    their groupmates' values; use a unique key for full determinism).
    """
    wi = (
        Window.partitionBy("__bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        _two_level_scan(df, order_col, buckets, F.sum(F.col(val_col)), F.sum)
        .withColumn(
            "prefix",
            F.coalesce(F.col("__base"), F.lit(0))
            + F.coalesce(F.sum(F.col(val_col)).over(wi), F.lit(0)),
        )
        .drop("__bucket", "__base")
    )


def two_level_rank(
    df: DataFrame,
    bucket_src: Column,
    order_cols: list[str],
    buckets: int = 64,
) -> DataFrame:
    """Global 1-based rank over ``df`` (rows must be unique on
    ``order_cols``), ordered by (integer range-bucket of
    ``bucket_src``, ``order_cols``) — the two-level scan with a row
    count per bucket as the total and ``row_number`` within it.
    Deterministic by construction: bucket width comes from a
    broadcast integer min/max (no sampling), so independent
    recomputations of any branch assign identical ranks. Adds a
    ``rank`` column, drops internals."""
    wi = Window.partitionBy("__bucket").orderBy(*order_cols)
    return (
        _two_level_scan(df, bucket_src.cast("long"), buckets, F.count("*"), F.sum)
        .withColumn(
            "rank",
            (
                F.coalesce(F.col("__base"), F.lit(0)) + F.row_number().over(wi)
            ).cast("long"),
        )
        .drop("__bucket", "__base")
    )


def cdc_delta_contributions(
    old: DataFrame,
    new: DataFrame,
    key: str,
    group_col: str,
    val_col: str,
) -> DataFrame:
    """Per-group incremental-maintenance delta from two keyed
    snapshots: each genuinely-changed key emits a retract row in its
    OLD group and an upsert row in its NEW group, so (count, sum)
    aggregates refresh as ``base + delta`` even when an update moves
    a key between groups; unchanged keys contribute nothing — the
    true IVM delta stream. ONE key-partitioned full-outer join
    (AQE-skew eligible) followed by a group-keyed aggregation; exact
    when ``val_col`` is integral.

    NULL is a legal group value (SQL GROUP BY groups NULLs
    together): inserts/deletes on either side are detected via
    explicit presence flags, never by group nullness, and the
    group-move predicate is null-safe — a NULL→'x' move retracts
    from the NULL group and upserts into 'x'.

    Returns (group_col, dn, dv): row-count and value adjustments.
    """
    joined = old.select(
        F.col(key).alias("__k"),
        F.col(group_col).alias("__og"),
        F.col(val_col).alias("__ov"),
        F.lit(True).alias("__po"),
    ).join(
        new.select(
            F.col(key).alias("__k"),
            F.col(group_col).alias("__ng"),
            F.col(val_col).alias("__nv"),
            F.lit(True).alias("__pn"),
        ),
        "__k",
        "full_outer",
    )
    po = F.coalesce(F.col("__po"), F.lit(False))
    pn = F.coalesce(F.col("__pn"), F.lit(False))
    diff = (
        (~po)
        | (~pn)
        | ~F.col("__ov").eqNullSafe(F.col("__nv"))
        | ~F.col("__og").eqNullSafe(F.col("__ng"))
    )
    return (
        joined.filter(diff)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        po.alias("__p"),
                        F.col("__og").alias(group_col),
                        F.lit(-1).alias("dn"),
                        (-F.col("__ov")).alias("dv"),
                    ),
                    F.struct(
                        pn.alias("__p"),
                        F.col("__ng").alias(group_col),
                        F.lit(1).alias("dn"),
                        F.col("__nv").alias("dv"),
                    ),
                )
            ).alias("__c")
        )
        .select("__c.*")
        .filter(F.col("__p"))
        .drop("__p")
        .groupBy(group_col)
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )


def skyline_2d(
    df: DataFrame,
    min_col: str,
    max_col: str,
    buckets: int = 256,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated by any other
    row, where q dominates p iff q minimizes ``min_col`` at least as
    well AND maximizes ``max_col`` at least as well, with one strict.

    The 2-D case needs no dominance JOIN (the O(n²) trap): sort by
    ``min_col`` and a row survives iff its ``max_col`` (a) strictly
    exceeds the running max over STRICTLY smaller ``min_col`` values
    and (b) equals the max within its own ``min_col`` tie group.
    The running max is the same two-level scan as
    ``prefix_sum_two_level`` — a naive RANGE window over the global
    order would single-task the table. Equal ``min_col`` values land
    in the same range bucket by construction, so the strict-preceding
    semantics survive the bucket split: the cross-bucket part of the
    running max is a bucket-granularity prefix (all strictly
    cheaper), the within-bucket part is a RANGE frame ending at
    1 PRECEDING. ``min_col`` must be integral (use cents scaling).

    Exact duplicates on both dims are all kept (neither dominates).
    Returns the input rows of the frontier.
    """
    win = (
        Window.partitionBy("__bucket")
        .orderBy(min_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wtie = Window.partitionBy("__bucket", min_col)
    out = (
        _two_level_scan(df, min_col, buckets, F.max(F.col(max_col)), F.max)
        .withColumn(
            # greatest() skips NULL args, so this is NULL only when
            # there is no strictly-cheaper row anywhere
            "__mxc",
            F.greatest(F.max(F.col(max_col)).over(win), F.col("__base")),
        )
        .withColumn("__mxs", F.max(F.col(max_col)).over(wtie))
    )
    return (
        out.filter(
            (F.col("__mxc").isNull() | (F.col(max_col) > F.col("__mxc")))
            & (F.col(max_col) == F.col("__mxs"))
        )
        .drop("__bucket", "__base", "__mxc", "__mxs")
    )


def cap_hot_keys(df: DataFrame, key_col: str, max_df: int) -> DataFrame:
    """Drop ALL rows of keys whose group exceeds ``max_df`` rows —
    the ngram_jaccard max_df playbook for self-join pair generation:
    a key with f rows fans out f² pairs, so ONE hot hub (a customer
    touching 10⁶ suppliers at 100 TB) dominates the stage. The prune
    is a cheap (key, count) aggregation + co-partitioned left-semi
    join; no reducer ever materializes a hot key's row list. With
    ``max_df`` above every observed group size (the test-scale case)
    the output is row-identical to the input — pinned by an
    adversarial pytest either way."""
    keep = (
        df.groupBy(key_col)
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select(key_col)
    )
    return df.join(keep, key_col, "left_semi")

def delta_join_legs(
    base_l: DataFrame,
    delta_l: DataFrame,
    base_r: DataFrame,
    delta_r: DataFrame,
    on: list[str],
) -> DataFrame:
    """The insert-only delta-join algebra for incremental JOIN-view
    maintenance (classic IVM, cf. Gupta & Mumick 1995):

        (L ∪ ΔL) ⋈ (R ∪ ΔR) = L⋈R  ∪  ΔL⋈R  ∪  L⋈ΔR  ∪  ΔL⋈ΔR

    so a materialized join view refreshes with THREE delta legs —
    each bounded by |Δ|, with the small delta side broadcast — and
    never rescans the base⋈base leg (at 100 TB that leg IS the
    stored view; here it is computed once so the certificate can
    compare). Returns the union of all four legs (projected to the
    join keys + both payloads), ready for any monoid aggregation
    (COUNT/SUM partials merge across legs by construction).

    Insert-only by design: deletions/updates take the retract-row
    form of ``cdc_delta_contributions``; composing both gives full
    incremental view maintenance.
    """
    legs = [
        base_l.join(base_r, on),
        F.broadcast(delta_l).join(base_r, on),
        base_l.join(F.broadcast(delta_r), on),
        F.broadcast(delta_l).join(delta_r, on),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def hrw_shard(id_col: Column, n_shards: int) -> Column:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998): the shard whose md5("hrw-v1:shard:id") score is
    highest wins. Pure codegen projection — each candidate packs
    (48-bit md5 prefix · 16 + shard) into one BIGINT and GREATEST
    picks the winner, so routing shuffles nothing and adding a shard
    moves only the docs the new shard wins (minimal movement,
    certified by consistent_hash_shards). n_shards <= 16 for the
    packing; wider topologies raise the pack base."""
    if not 0 < n_shards <= 16:
        raise ValueError("hrw_shard packs shard ids into 4 bits")
    packs = [
        md5_int(F.concat(F.lit(f"{HRW_TAG}:{s}:"), id_col.cast("string")), 12)
        * 16
        + s
        for s in range(n_shards)
    ]
    return F.greatest(*packs) % 16
