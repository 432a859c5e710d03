"""Stage-table I/O (SURVEY §2.1 S5-S8 + §1.3 schemas).

The reference's Mongo collections become Parquet stage tables with
EXPLICIT StructType schemas pinned at every boundary (the reference's
schemaless BSON + pandas dtype inference is the anti-pattern SURVEY
§1.3 calls out). Writers are append-mode with keyed upsert-skip
semantics (the Mongo unique-index behavior) via left-anti before
append.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# §1 schemas — one per reference collection / stage.
LINKS_SCHEMA = T.StructType(
    [
        T.StructField("lastmod", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

ARTICLES_RAW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("menu_submenu", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("subtitle", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
        T.StructField("topic_name", T.ArrayType(T.StringType())),
        T.StructField("topic_url", T.ArrayType(T.StringType())),
        T.StructField("images", T.ArrayType(T.StringType())),
        T.StructField("link", T.StringType()),
    ]
)

ARTICLES_PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("date", T.TimestampType()),
        T.StructField("menu_submenu", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("subtitle", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("article_clean", T.StringType()),
        T.StructField("n_words_clean", T.IntegerType()),
    ]
)

TOPIC_LABELS_SCHEMA = T.StructType(
    [
        T.StructField("topic_num", T.IntegerType()),
        T.StructField("topic_label", T.StringType()),
    ]
)

SENTIMENTS_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType()),
        T.StructField("polarity", T.DoubleType()),
        T.StructField("subjectivity", T.DoubleType()),
        T.StructField("title", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)


def read_stage(spark: SparkSession, root: str, name: str, schema: T.StructType | None = None) -> DataFrame:
    """S5: read a stage table. Schema arg asserts the contract."""
    df = spark.read.parquet(os.path.join(root, name))
    if schema is not None:
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
    return df


def append_stage(df: DataFrame, root: str, name: str) -> None:
    """S6: append to a stage table (Mongo insert_many analog)."""
    df.write.mode("append").parquet(os.path.join(root, name))


def _read_existing(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """The table at ``path``, or None if the path does not exist. Every
    other read failure raises: a writer that took it for "no table yet"
    would append or overwrite blindly."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def upsert_skip(
    spark: SparkSession, df: DataFrame, root: str, name: str, key: str
) -> None:
    """S7/J4: unique-key insert-or-skip — new rows only, via left-anti
    against the existing table (bbc_news_dag.py:34-38's
    DuplicateKeyError skip). Idempotent re-runs append nothing.

    Only a missing table counts as empty. Any other read failure (a
    corrupt part file, a stored key of another type) raises:
    treating it as empty would append every row again. The existing
    keys are read under the key's own schema, so the read plans
    without a schema-inference job.

    Scale: the anti-join shuffles on the key; with a Delta/Iceberg
    sink this becomes MERGE WHEN NOT MATCHED (jar not in this image).
    """
    path = os.path.join(root, name)
    existing = _read_existing(spark, path, df.select(key).schema)
    out = df if existing is None else df.join(existing, key, "left_anti")
    out = out.dropDuplicates([key])
    out.write.mode("append").parquet(path)


def export_csv(df: DataFrame, path: str, columns: list[str]) -> None:
    """S8: CSV sink with explicit column projection
    (pipelines.py:76-102's CsvItemExporter fields_to_export)."""
    df.select(*columns).write.option("header", True).mode("overwrite").csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
) -> None:
    """Bucketed stage-table writer — the co-located-join scale path.

    Pre-hashes rows into ``num_buckets`` files per partition keyed on
    ``bucket_cols`` at WRITE time, so every later join/aggregation on
    those keys reads with the required hash distribution already in
    place: no Exchange on the fact side, ever. This is the standing
    answer to "tpch_q3-style joins stop broadcasting at 100 TB" —
    bucket orders and lineitem by orderkey once, join shuffle-free
    forever after (see PLANS.md and tests/test_sources.py, which
    asserts the Exchange-free plan).

    Pick num_buckets ≈ total-table-bytes / 128 MB at the target scale;
    both join sides must use the SAME bucket count (or an integer
    multiple) for co-location.

    Uses ``saveAsTable`` (bucketing metadata lives in the session
    catalog; plain ``.parquet(path)`` cannot carry it), so the table
    is read back with ``spark.table(table)``: the parquet path would
    discard the bucketing.
    """
    df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    ).saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Hive-style partitioned stage writer — the data-SKIPPING scale
    path (complement of ``write_bucketed``'s co-location path).

    Lays files out as ``path/col=value/...`` so any later read whose
    filter touches ``partition_cols`` prunes whole directories at
    PLANNING time (``PartitionFilters`` in the scan node) — a
    predicate on the partition column over a 100 TB table reads only
    the matching slices, zero I/O for the rest. This is the standard
    layout for time-partitioned event/training corpora: partition by
    ingest day (low cardinality, ~uniform volume), bucket or sort
    within partitions for join keys.

    Keep partition cardinality ≤ ~10^4: each value is a directory
    (namenode pressure, tiny files below ~128 MB/partition). High-
    cardinality keys belong in ``write_bucketed``, not here.
    ``tests/test_sources.py::test_partition_pruning_in_plan`` asserts
    both the layout and that a filtered read's plan carries the
    pruned ``PartitionFilters`` with no pushed data filter left.
    ``spark.read.parquet(path)`` reads it back, rebuilding the
    partition columns from the directory names.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    bits_per_col: int = 16,
    curve: str = "morton",
) -> None:
    """Z-order (Morton-curve) clustered writer — MULTI-column data
    skipping, the third layout tool next to ``write_partitioned``
    (one low-cardinality column, directory pruning) and
    ``write_bucketed`` (join co-location).

    A single-column sort makes parquet row-group min/max stats
    selective for THAT column only; a filter on any other column
    still reads every row group. Z-ordering sorts by the interleaved
    bits of several columns' rank positions, so rows cluster in a
    space-filling curve: each file/row group covers a small rectangle
    of the multi-dimensional key space, and a point or range filter
    on ANY of the z-columns overlaps only ~N^((d-1)/d) of the files
    instead of all of them. This is how 100 TB scan-heavy tables
    serve selective filters on two or three dimensions without
    duplicating the data per sort order (same mechanism as Delta
    OPTIMIZE ZORDER BY).

    Implementation is pure DataFrame ops: each column is min-max
    scaled to ``bits_per_col`` bits (one tiny agg collect for the
    bounds — numeric and timestamp columns supported), bits are
    interleaved by ``operators/layout.py::morton_interleave`` (the
    shared, oracle-checked Morton kernel — codegen'd shift/mask
    chain), then ``repartitionByRange`` + ``sortWithinPartitions`` on
    the z-key cluster the rows; the z-key itself is not written.
    ``tests/test_sources.py`` asserts per-file min/max rectangles
    shrink vs an unclustered write on BOTH dimensions;
    ``tests/test_layout.py`` counts the row groups a boxed scan
    actually skips.

    ``curve="hilbert"`` (2 columns only) clusters by the Hilbert
    index instead of Morton: every curve step is a unit grid step
    (no Z-shaped jumps), so each file covers a more compact blob and
    boxed scans touch at most as many units — Delta OPTIMIZE's
    documented motivation for its Hilbert mode.
    ``tests/test_layout.py::test_hilbert_skipping_at_least_matches_morton``
    measures that parity on real row-group stats.
    """
    from ..operators.layout import hilbert_d2, morton_interleave

    def to_long(c: str):
        f = next(fld for fld in df.schema.fields if fld.name == c)
        col = F.col(c)
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            col = col.cast("timestamp_ltz")
        return col.cast("double")

    bounds = df.agg(
        *[F.min(to_long(c)).alias(f"mn_{c}") for c in cols],
        *[F.max(to_long(c)).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scale = (1 << bits_per_col) - 1
    ranked = []
    for c in cols:
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        span = (mx - mn) or 1.0
        ranked.append(
            F.least(
                F.lit(scale),
                ((to_long(c) - F.lit(mn)) / F.lit(span) * scale).cast("long"),
            )
        )
    if curve == "hilbert":
        if len(cols) != 2:
            raise ValueError("curve='hilbert' supports exactly 2 columns")
        out = hilbert_d2(
            df.withColumns({"__cx": ranked[0], "__cy": ranked[1]}),
            "__cx",
            "__cy",
            bits_per_col,
            out="__z",
        ).drop("__cx", "__cy")
    elif curve == "morton":
        out = df.withColumn("__z", morton_interleave(ranked, bits_per_col))
    else:
        raise ValueError(f"unknown curve {curve!r}")
    n = num_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    (
        out.repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_stage(
    spark: SparkSession,
    root: str,
    name: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a stage table so its parquet
    files approach ``target_file_bytes`` — the maintenance pass every
    long-lived 100 TB table needs (streaming sinks and incremental
    appends accrete kilobyte files; scan throughput then dies on
    open/footer costs and the driver on file-listing).

    File count = ceil(current_bytes / target); the rewrite is one
    round-robin repartition (no key shuffle, no skew sensitivity) to
    a temp location, then an atomic-as-practical swap. Returns the
    new file count. At real scale run per partition-directory so one
    compaction never rewrites the whole table (pair with
    write_partitioned); bucketed tables must NOT pass through here —
    recompact those with write_bucketed to preserve bucket metadata.
    """
    import math
    import shutil

    src = os.path.join(root, name)
    cur_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(cur_bytes / target_file_bytes))
    tmp = os.path.join(root, f"__compact_{name}")
    spark.read.parquet(src).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    old = os.path.join(root, f"__old_{name}")
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old)
    return n_files


def read_stage_evolving(
    spark: SparkSession, root: str, name: str
) -> DataFrame:
    """Schema-drift-tolerant stage read: ``mergeSchema`` unions the
    column sets of every parquet footer (new columns appear as NULL in
    old files) — the read path for long-lived stage tables whose
    producers add fields over time. Costs a footer scan per file (so
    compact first — see compact_stage); pinned-schema readers should
    keep using read_stage, which casts to the declared contract."""
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, name))
    )


def export_jsonl_sharded(
    df: DataFrame, path: str, rows_per_shard: int = 100_000
) -> int:
    """Training-data handoff sink: newline-delimited JSON in evenly
    sized shards — the format LLM data loaders consume (one shard
    per worker, resumable by file). Shard count is derived from ONE
    count action (ceil(n / rows_per_shard)), then a round-robin
    repartition spreads rows evenly; compression and row format ride
    Spark's native JSON writer (whole-stage codegen serialization,
    no Python). Returns the shard count. At 100 TB prefer
    rows_per_shard sized so a shard ~ a few hundred MB compressed —
    small enough to retry, big enough to amortize open/close."""
    n = df.count()
    shards = max(1, -(-n // rows_per_shard))
    (
        df.repartition(shards)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(path)
    )
    return shards
