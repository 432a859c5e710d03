"""SparkSession factory tuned for the target execution profile.

Local testing runs one JVM with N threads; production intent is a
multi-executor cluster at ~100 TB. Every knob here is cluster-safe:
AQE handles post-shuffle coalescing and skew joins at any scale,
shuffle partitions default to cores locally (override via
``spark.sql.shuffle.partitions`` on a real cluster), and the session
timezone is pinned UTC so timestamp semantics are environment-free.

Codegen cache: every whole-stage-codegen plan compiles a Java class,
and Spark keeps compiled classes in a driver-side LRU keyed by source
text (``spark.sql.codegen.cache.maxEntries``, default 100). A run that
cycles through more distinct plans than that evicts each class before
its next use and recompiles it on every repeat: a warm pass of the
analyst_graph benchmark workload recompiled 109-164 of its ~181
classes. ``CODEGEN_CACHE_ENTRIES`` is sized from the working set of a
full ``tools/check_oracles.py`` pass (all registry queries) with
eviction effectively off: 4129 compiles at sf0.01, doubled and
rounded up to a power of two. Repeats then compile nothing new. The
conf is static: it takes effect only when the session is built here.
Cached classes live in driver Metaspace (``metaspace_used_bytes``).

The cache is keyed by source text, and by default every whole-stage
class name carries its codegen stage id
(``spark.sql.codegen.useIdInClassName``). AQE re-plans each run and
can hand one plan's stages other ids the next time, so the same plan
produces new source text and recompiles. Leaving the ids out cut a
full ``tools/check_oracles.py`` pass at sf0.01 from 4094 to 3142
compiles (243/243 green both ways). The ids only label classes in
stack traces and generated-code dumps, so they are always left out.
"""

from __future__ import annotations

import os
import sys
import traceback

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CODEGEN_CACHE_ENTRIES = 16384

# Disk-backed streaming state: at 100 TB the watermarked-dedup and
# session-window state stores outgrow executor heaps (the default
# HDFSBackedStateStoreProvider keeps every version in memory);
# RocksDB spills to local SSD with incremental checkpointing. It is a
# per-QUERY-START conf: set spark.sql.streaming.stateStore.providerClass
# to it (spark.conf.set, or extra_conf) before .start().
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "bbcnews_scraper_nlp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    The streaming state-store provider is the
    ``spark.sql.streaming.stateStore.providerClass`` conf; set it to
    ``ROCKSDB_STATE_STORE`` for the disk-backed provider (production
    default at scale; smoke-tested in tests/test_streaming.py).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # InferFiltersFromGenerate rewrites explode(f(x)) into
        # Filter(size(f(x))>0 AND isnotnull(f(x))) + explode(f(x)) —
        # i.e. it EVALUATES the generator input two extra times per
        # row once pushdown substitutes the alias. Every explode in
        # this engine generates from a COMPUTED array (shingling,
        # banding, pair expansion — interpreted HOF chains, the
        # priciest expressions we run), so the inferred filter is pure
        # recompute: measured 5.4x on the contamination check at
        # sf0.1, with bit-identical results (the rule only adds
        # redundant pre-filters; explode drops empty/null arrays
        # anyway). The trade-off would flip only for explodes of
        # STORED array columns feeding a shuffle, which this engine
        # does not do.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    # deployment-specific overrides without code edits (cluster sizing,
    # A/B measurement): semicolon-separated key=value pairs, applied
    # before per-call extra_conf so callers still win
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_blocks(spark: SparkSession) -> None:
    """Free every cached and checkpointed block and every temp view in
    the session.

    Block lifetime is owned by the caller that runs the action, not by
    the operators:

    - operators may ``persist`` or ``localCheckpoint`` whatever their
      lazy plan re-reads, and never release it themselves (the returned
      plan still reads those blocks);
    - the blocks live until the caller has finished its action
      (collect, count, write) and calls ``release_blocks``;
    - no DataFrame obtained before the call may be used after it:
      checkpointed lineage is gone with the blocks, and a drained
      stream's rows (``streaming.ingest.drain``) with its sink view.

    Order: ``clearCache()`` drops catalog-cached relations; a blocking
    unpersist of every persistent RDD drops ``localCheckpoint`` blocks,
    which ContextCleaner would otherwise free only after a JVM GC
    notices the dead RDD (its periodic GC fires every 30 min); temp
    views are dropped, so the memory-sink views that drains register
    do not pile up; the final ``System.gc()`` lets ContextCleaner drop
    broadcast blocks of executed joins. Cleanup is untimed
    housekeeping, so a failure is logged to stderr rather than raised:
    one bad release must not end a multi-query run.
    """
    try:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        for v in spark.sql("SHOW VIEWS").collect():
            if v.isTemporary:
                spark.catalog.dropTempView(v.viewName)
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """Classes compiled so far in this driver JVM, and seconds spent
    compiling them. Both count cache misses only; a class served from
    the codegen cache adds nothing. Take differences around a region."""
    jvm = spark.sparkContext._jvm
    compiles = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )
    nanos = (
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime()
    )
    return int(compiles), nanos / 1e9


def metaspace_used_bytes(spark: SparkSession) -> int:
    """Driver JVM Metaspace in use (where compiled codegen classes live)."""
    jvm = spark.sparkContext._jvm
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return int(pool.getUsage().getUsed())
    return -1
