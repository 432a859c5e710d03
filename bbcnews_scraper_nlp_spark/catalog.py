"""Testdata catalog: lazy parquet readers for the driver tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under a
scale-factor directory. All reads are plain parquet scans so Catalyst
gets full pushdown/pruning.

Schema inference is NOT free: parquet carries its schema, but
``spark.read.parquet(path)`` reads it back with a footer-merge Spark
job (~40 ms) plus ~50 ms of planning on every call, and a query that
re-reads three tables paid it three times per run. ``read_parquet``
infers each file's schema once per process and hands it to
``spark.read.schema(...)`` afterwards, which starts no job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change the types parquet inference produces: a
# schema inferred under one setting must not serve a read under another.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schemas: dict[tuple, T.StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet FILE, inferring its schema only on first sight.

    The cache key is the absolute path, the file's ``st_mtime_ns`` and
    ``st_size``, and the session confs that change inferred types, so
    a rewritten file is re-inferred as long as its size or mtime moved.
    Any other path (a directory, or a file the local stat cannot see
    on a remote filesystem) falls back to plain inference: a dataset
    directory can gain or rewrite part files without its own stat
    telling.
    """
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    schema = _schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def widen_scan(
    spark: SparkSession, df: DataFrame, barrier: bool = False
) -> DataFrame:
    """Scan-width guard for compute-heavy consumers.

    Single-row-group parquet files scan as ONE partition no matter how
    maxPartitionBytes is set, so every downstream narrow op (regex
    tokenize, shingling, vectorize) runs on one core. When the scan is
    narrower than the cluster, repartition up to defaultParallelism —
    one cheap round-robin shuffle buys full-width codegen stages.

    ``barrier=True`` additionally defeats filter pushdown below the
    widen exchange: Catalyst pushes every deterministic filter below
    a bare RepartitionOperation (alias-substituting predicates on
    derived columns on the way down), so for a heavy-predicate
    consumer (prepare_corpus's language/quality/repetition chain) the
    expensive text predicates land right back on the one-partition
    scan side and run single-threaded. ``localCheckpoint(eager=False)``
    makes the widened table a real materialization barrier (lazy, at
    first use, executor-local blocks) below which nothing pushes, and
    multi-consumer plans re-read the blocks instead of re-running the
    scan. It is opt-in because it also BLOCKS beneficial pushdown and
    adds a materialization pass — consumers whose downstream work is
    shuffle-bound (e.g. minhash clustering) measured 2x slower with
    it, while the predicate-bound corpus pipeline measured ~2x faster.

    Self-disabling at scale: a 100 TB table has file splits >= cores,
    the guard sees npart >= parallelism and returns the scan
    untouched — full pushdown/pruning semantics, no shuffle, no
    materialization. The widening (and optional barrier) exists only
    in the under-split small-file regime, where the whole table is by
    definition cheap to materialize.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        wide = df.repartition(target)
        return wide.localCheckpoint(eager=False) if barrier else wide
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | str = False
) -> DataFrame:
    """``widen``: False = plain scan; True = widen_scan;
    ``"barrier"`` = widen_scan with the pushdown-defeating
    materialization barrier (heavy-predicate consumers only)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if widen:
        return widen_scan(
            spark, load_table(spark, sf_dir, name), barrier=widen == "barrier"
        )
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects. Read nanos as long, then integer-
        # divide to micros ("div", NOT fp division — nanos exceed
        # double's 2^53 exact-integer range) — matching DuckDB's
        # truncating nanos->micros conversion.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
