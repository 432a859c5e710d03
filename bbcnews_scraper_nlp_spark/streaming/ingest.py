"""Incremental ingestion as Structured Streaming (SURVEY §2.10).

The reference's 30-minute Airflow crawl with URL dedup is a
micro-batch upsert stream (bbc_news_dag.py:78-84 + the unique-index
skip at :34-38). Spark-native shape:

  file stream -> withWatermark -> dropDuplicates(key)
  -> sink, Trigger.AvailableNow for catch-up batch runs.

- watermark bounds the dedup state store (the reference's unbounded
  Mongo index becomes bounded streaming state — the 100 TB fix);
  the 90-day horizon mirrors archive_scraper.py:28's 3-month cutoff.
- Trigger.AvailableNow processes everything present then stops: the
  exact semantics of one cron tick (catchup=False).
- checkpointLocation gives the cross-run state handoff the reference
  does through XCom + Mongo (bbc_news_dag.py:60-67).

Every query here goes through three shared functions:

- ``file_stream`` is the only parquet reader (file or directory);
- ``drain`` is the only memory sink: it runs a query to completion,
  deletes its throwaway checkpoint and returns the emitted rows;
- ``_foreach_batch`` is the only foreachBatch start, for the sinks
  that keep state across runs in a caller-owned checkpoint.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..catalog import read_parquet

# State partitions for the bounded certification drains below. A
# stateful streaming operator opens, commits, and snapshots ONE state
# store per shuffle partition per micro-batch — a fixed per-partition
# cost that dwarfs row work when partitions outnumber the keys'
# throughput (measured: the sf0.1 interval outer join drain is 2.4x
# faster at 8 state partitions than at the batch session's 32). State
# partitioning is a durable property of the CHECKPOINT, not the
# session, so it should be sized to key cardinality x arrival rate —
# at production scale raise it (or leave the conf alone) so each
# store's state fits memory; these drains run minutes of synthetic
# data into throwaway checkpoints.
STATE_PARTITIONS = 8

# Event-time settings of the watermarked operators: tumbling windows
# and sessions close a day behind the newest event; deduplication and
# the click/view join keep an hour of state.
WINDOW_LEN = "1 day"
WINDOW_WATERMARK = "1 day"
DEDUP_WATERMARK = "1 hour"
JOIN_LOOKBACK = "30 minutes"  # views a click joins: the preceding 30 min
JOIN_WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"
SESSION_WATERMARK = "1 day"


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` via the Hadoop FS API, so
    probes work on s3a/hdfs as well as local paths."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet file stream over ``path``, a dataset directory or a
    single file. A file source lists directories, so a single file is
    streamed as its parent narrowed by ``pathGlobFilter`` to the
    file's name. The schema comes from ``catalog.read_parquet``
    (inferred once per file); ``max_files_per_trigger`` caps the files
    per micro-batch (forces a multi-batch drain)."""
    fs, p = _hadoop_path(spark, path)
    reader = spark.readStream.schema(read_parquet(spark, path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fs.getFileStatus(p).isDirectory():
        return reader.parquet(path)
    parent, leaf = os.path.split(path.rstrip("/"))
    return reader.option("pathGlobFilter", leaf).parquet(parent)


def drain(spark: SparkSession, df: DataFrame, mode: str = "append") -> DataFrame:
    """Run the streaming ``df`` to completion (``Trigger.AvailableNow``)
    into a memory sink and return the emitted rows as a batch
    DataFrame; ``mode`` is the output mode.

    The query gets a unique name and a throwaway checkpoint, removed
    once the query has stopped (the sink keeps its rows on the driver,
    not in the checkpoint). From start to termination the session's
    ``spark.sql.shuffle.partitions`` is pinned to ``STATE_PARTITIONS``
    — a new query fixes its state-partition count from it when its
    first batch plans — and restored afterwards. The returned frame
    reads the sink's temp view, which the caller owns as it owns
    cached blocks: ``session.release_blocks`` drops it."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    checkpoint = tempfile.mkdtemp(prefix="ckpt_")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name)


def checkpoint_lineage(spark: SparkSession, checkpoint: str) -> str:
    """The checkpoint lineage id: Spark writes ``{"id": <uuid>}`` to
    ``<checkpoint>/metadata`` at first query start and preserves it
    across restarts from the same checkpoint; a FRESH checkpoint gets
    a fresh id. foreachBatch batch ids restart at 0 per checkpoint,
    so any state keyed by batch id alone collides across lineages —
    sinks here scope their partition keys / commit tags with this id.
    Read via the Hadoop FS API (checkpoints may live on s3a/hdfs).
    Only valid once the query has started — call from inside
    foreachBatch, not at stream-construction time."""
    import json as _json

    fs, p = _hadoop_path(spark, f"{checkpoint}/metadata")
    stream = fs.open(p)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return str(_json.loads(raw)["id"])


def _foreach_batch(stream: DataFrame, checkpoint: str, process) -> StreamingQuery:
    """Start ``stream`` with ``Trigger.AvailableNow`` into
    ``process(batch, batch_id, lineage)``, one call per non-empty
    micro-batch. ``lineage`` is ``checkpoint_lineage`` of
    ``checkpoint``, read once, at the first non-empty batch (the
    metadata exists only after the query has started). Returns the
    started query; the caller owns the checkpoint."""
    lineage: list[str] = []

    def run(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if not lineage:
            lineage.append(checkpoint_lineage(batch.sparkSession, checkpoint))
        process(batch, int(batch_id), lineage[0])

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _overwrite_batch(df: DataFrame, path: str, lineage: str, batch_id: int) -> None:
    """Write ``df`` as the ``(__lineage, __batch)`` partition of the
    parquet table at ``path`` by dynamic partition overwrite: a
    replayed epoch replaces its own partition instead of appending a
    second copy, and another lineage's partitions are never touched."""
    (
        df.withColumn("__lineage", F.lit(lineage))
        .withColumn("__batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__lineage", "__batch")
        .parquet(path)
    )


USER_STATS_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"
_STATE_SCHEMA = "n bigint, total bigint"


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value total, emitted once per
    micro-batch per updated key.

    This is the engine's slot for operators Structured Streaming
    lacks natively (the reference's cross-run XCom/Mongo state,
    bbc_news_dag.py:60-67, generalized). State is a 2-field tuple per
    key — GroupState keeps it in the state store (RocksDB/HDFS at
    scale), bounded by key cardinality, checkpointed for exactly-once
    recovery.

    The value total is carried as integer CENTS, scaled JVM-side
    (Spark ROUND semantics) before the Python boundary: an integer
    fold is exact in any batch/partition arrival order, which is what
    makes the drained result hash-comparable against a batch SQL
    aggregate (a float running total differs in the last bits per
    arrival order). One pandas int sum per key per batch.
    """
    import pandas as pd

    stream = stream.withColumn(
        "__cents", F.round(F.col("value") * 100).cast("long")
    )

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["__cents"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def user_stats_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stateful per-user stats over all available input and
    return the FINAL state per user as a batch DataFrame. The update-
    mode memory sink keeps one row per key per micro-batch that
    touched it; n_events only grows, so the final state is the
    max-(n_events, total_cents) struct per user — deterministic even
    when AvailableNow splits the input into several batches."""
    return (
        drain(spark, running_user_stats(event_stream(spark, sf_dir)), "update")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("__s"))
        .select("user_id", "__s.n_events", "__s.total_cents")
    )


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical
    Structured Streaming shape for late data: counts per (day window,
    event_type); the watermark both bounds aggregation state and
    defines the late-data cutoff (append mode emits a window only
    once the watermark passes its end, i.e. it can no longer change).
    """
    return (
        stream.withWatermark(ts_col, WINDOW_WATERMARK)
        .groupBy(F.window(F.col(ts_col), WINDOW_LEN), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def windowed_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the watermarked windowed aggregation with AvailableNow
    and return the emitted (closed) windows as a batch DataFrame."""
    return drain(spark, windowed_event_counts(event_stream(spark, sf_dir)))


def incremental_dedup_batch(
    spark: SparkSession, sf_dir: str, key: str = "event_id"
) -> DataFrame:
    """End-to-end: stream -> watermark -> dropDuplicates -> collect
    the drained micro-batches as a batch DataFrame (synchronous; used
    by the rows-only driver check). The 90-day watermark bounds the
    dedup state (see the module docstring)."""
    stream = event_stream(spark, sf_dir).withWatermark("ts", "90 days")
    return drain(spark, stream.dropDuplicates([key]))


def event_stream(spark: SparkSession, sf_dir: str, ts_col: str = "ts") -> DataFrame:
    """Streaming reader for the events table (schema pinned from the
    parquet footer; NANOS ts normalized to micros exactly as the
    batch reader does).

    The event-time column is normalized to TIMESTAMP (LTZ):
    watermarks REQUIRE it (`withWatermark` on TIMESTAMP_NTZ throws
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and tz-less parquet reads
    as NTZ in Spark 4. Session timezone is pinned UTC
    (session.get_spark), so the cast relabels the same wall clock."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = file_stream(spark, f"{sf_dir}/events.parquet")
    if dict(stream.dtypes).get(ts_col) == "bigint":
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    return stream


def dedup_within_watermark(
    stream: DataFrame,
    key: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """dropDuplicatesWithinWatermark: dedup keys whose duplicates
    arrive within the watermark delay of each other. Unlike
    dropDuplicates (state lives forever per key unless the watermark
    column is part of the key), state here is *evicted by event
    time* — the store holds only ~(keys seen in the last watermark
    window), the right bound for an infinite-retention stream whose
    duplicates are bursty (retries, re-crawls) rather than eternal.
    The reference's unique-url index (bbc_news_dag.py:34-38) is the
    unbounded version; this is what survives years of uptime."""
    return stream.withWatermark(
        ts_col, DEDUP_WATERMARK
    ).dropDuplicatesWithinWatermark([key])


def interval_join_clicks_views(
    clicks: DataFrame,
    views: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each click joins the
    same user's views from the preceding ``JOIN_LOOKBACK`` window
    (``how``: ``"inner"`` or ``"left_outer"``).

    Both sides carry watermarks so the state store can discard rows
    once no future match is possible (buffered-state bound =
    watermark + interval width — without both bounds a stream-stream
    join buffers forever). The join condition is an equi-key
    (user_id, shuffled symmetrically) plus the time-range predicate
    evaluated within each key's buffered rows."""
    c = clicks.withWatermark("click_ts", JOIN_WATERMARK)
    v = views.withWatermark("view_ts", JOIN_WATERMARK)
    return c.join(
        v,
        F.expr(
            "c_user_id = v_user_id AND "
            f"view_ts BETWEEN click_ts - INTERVAL {JOIN_LOOKBACK} AND click_ts"
        ),
        how,
    )


def interval_join_batch(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """Drain the stream-stream interval join over all available input
    (two independent file-stream readers over the same table, as a
    real pipeline would read two topics).

    ``how="left_outer"``: matched rows emit immediately; unmatched
    clicks emit null-padded only once the global watermark (min of
    both sides' max event time minus the delay) passes their
    timestamp — state for them can then never match. Tail clicks
    above the final watermark stay withheld at drain end: that is the
    API's contract, and the oracle encodes exactly this cutoff."""

    def side(event_type: str, ts_alias: str, cols: list) -> DataFrame:
        s = event_stream(spark, sf_dir)
        return s.filter(F.col("event_type") == event_type).select(
            *cols, F.col("ts").alias(ts_alias)
        )

    clicks = side(
        "click",
        "click_ts",
        [F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user_id")],
    )
    views = side(
        "view",
        "view_ts",
        [F.col("user_id").alias("v_user_id"), F.col("value").alias("view_value")],
    )
    joined = interval_join_clicks_views(clicks, views, how=how)
    return drain(spark, joined).select(
        "click_id", "c_user_id", "click_ts", "view_ts", "view_value"
    )


def upsert_foreach_batch(
    stream: DataFrame,
    root: str,
    name: str,
    key: str,
    checkpoint_dir: str,
):
    """Idempotent streaming sink: every micro-batch MERGEs into the
    stage table via foreachBatch + upsert_skip (left-anti + append).
    foreachBatch is the bridge from exactly-once streaming to
    batch-only sinks: replayed micro-batches (failure recovery)
    re-run the anti-join and append nothing — idempotence replaces
    sink-side transactionality."""
    from ..sources.stage_io import upsert_skip

    def sink(batch: DataFrame, batch_id: int, lineage: str) -> None:
        upsert_skip(batch.sparkSession, batch, root, name, key)

    return _foreach_batch(stream, checkpoint_dir, sink)


def session_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization via ``F.session_window`` — DYNAMIC
    windows that extend while events keep arriving within ``SESSION_GAP`` of
    the session's end (vs the fixed grid of ``F.window``). State per
    open session; the watermark closes sessions whose possible-extend
    horizon has passed, so append mode emits each session exactly
    once and state is bounded by (active keys × open sessions).

    Semantics note (pinned by the batch-equivalence test): a session
    window is half-open — an event arriving EXACTLY ``SESSION_GAP`` after the
    last one starts a NEW session (merge condition is strict `<`).
    The batch twin (`relational.sessionize`) therefore needs `>=` as
    its new-session test to agree on boundary gaps.

    window.end = last event ts + gap (the "horizon"), per Spark's
    definition — not the last event's timestamp.
    """
    return (
        stream.withWatermark(ts_col, SESSION_WATERMARK)
        .groupBy(F.session_window(F.col(ts_col), SESSION_GAP), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def session_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the streaming sessionization with AvailableNow and return
    the emitted (closed) sessions as a batch DataFrame."""
    return drain(spark, session_window_counts(event_stream(spark, sf_dir)))


def enrich_stream_static(
    stream: DataFrame, dim: DataFrame, key_expr, payload_cols: list[str]
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension
    table. Spark plans the static side as a broadcast (re-resolved
    per micro-batch, so a refreshed dim parquet is picked up without
    restarting the query); the stream side never shuffles and no
    join state accumulates — unlike stream-stream joins, the static
    side is always fully available, so no watermark is needed.
    ``key_expr`` is the join condition; ``payload_cols`` the dim
    columns carried onto the stream."""
    from pyspark.sql import functions as F  # noqa: F811

    return stream.join(F.broadcast(dim), key_expr, "left").select(
        *[stream[c] for c in stream.columns], *[dim[c] for c in payload_cols]
    )


def enrich_stream_static_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a stream-static enrichment: the events file-stream joined
    to a small static user-segment dimension (broadcast per
    micro-batch, no stream shuffle, no join state)."""
    from ..catalog import load_table

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("u_user_id"),
            F.concat(
                F.lit("seg_"), F.pmod(F.xxhash64("user_id"), F.lit(4))
            ).alias("segment"),
        )
    )
    stream = event_stream(spark, sf_dir)
    enriched = enrich_stream_static(
        stream,
        users,
        stream["user_id"] == users["u_user_id"],
        ["segment"],
    )
    return drain(spark, enriched)


def near_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    jaccard_threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming NEAR-dedup with persistent LSH state: each
    micro-batch (a) probes the on-disk MinHash-LSH index for
    near-duplicates of anything already accepted, (b) drops intra-
    batch near-dups (min-id canonical via the one-shot pair finder),
    (c) appends the survivors' signatures to the index and their
    rows to the accepted sink. The approximate twin of the exact
    cross-run Bloom dedup (relational.filter_unseen): state lives in
    parquet — restart-safe, never recomputed. Epoch replays are
    idempotent by construction: the accepted sink AND the index
    appends are partitioned by ``(__lineage, __batch)`` and written
    as dynamic partition overwrites, so a crash mid-batch followed by
    checkpoint replay replaces exactly that batch's rows instead of
    duplicating them. The lineage key (``checkpoint_lineage``) scopes
    the batch id to THIS checkpoint: foreachBatch ids restart at 0
    per checkpoint, so without it a second pipeline — or a restart
    after checkpoint loss — would silently overwrite the first
    lineage's ``__batch=0`` partitions. Cross-lineage replays are
    additionally made no-ops by the id replay-guard: a doc id already
    present in the index was accepted before (this lineage or any
    other) and is skipped — upsert-skip semantics, the reference's
    unique-key insert (F6/S7), which is also why the index CAN be
    shared by multiple pipelines so long as doc ids are globally
    unique (the ingest contract). Accepted-sink and index writes are
    ordered so every crash point replays to the identical end state
    (see the in-body comments). Returns the started query
    (AvailableNow: drains what exists, then stops)."""
    from pyspark import StorageLevel

    from ..operators.dedup import (
        MINHASH_BANDS,
        MINHASH_NUM_HASHES,
        SHINGLE_MODE,
        SHINGLE_N,
        append_lsh_index,
        lsh_index_meta,
        lsh_pairs,
        lsh_signatures,
        query_lsh_index,
        save_lsh_index,
    )

    def _index_exists() -> bool:
        # Hadoop FS probe, not os.path: index_path may be s3a://hdfs://
        fs, p = _hadoop_path(spark, f"{index_path}/meta")
        return fs.exists(p)

    def process(batch: DataFrame, batch_id: int, lineage: str) -> None:
        have_index = _index_exists()
        params = (
            lsh_index_meta(spark, index_path)
            if have_index
            else {
                "num_hashes": MINHASH_NUM_HASHES, "bands": MINHASH_BANDS,
                "shingle_mode": SHINGLE_MODE, "shingle_n": SHINGLE_N,
                "shingle_hash": "xxhash64",
            }
        )
        # ONE signature pass per batch, threaded through intra-batch
        # dedup, the index probe, and the index append (each would
        # otherwise re-tokenize/shingle/hash the same text); params
        # come from the index meta so intra-batch and cross-run pairs
        # are judged in the SAME signature space.
        base = lsh_signatures(
            batch, id_col, text_col, params["num_hashes"],
            params["shingle_mode"], params["shingle_n"],
            params["shingle_hash"],
        ).persist(StorageLevel.MEMORY_AND_DISK)
        dup_ids = None
        new_ids = None
        try:
            # (b) intra-batch near-dedup: min-id survives each pair
            losers = (
                lsh_pairs(
                    base, id_col, params["num_hashes"], params["bands"],
                    jaccard_threshold,
                )
                .select(F.col("id_2").alias(id_col))
                .distinct()
            )
            kept = batch.join(losers, id_col, "left_anti")
            kept_base = base.join(losers, id_col, "left_anti")
            if have_index:
                # replay/resubmit guard (upsert-skip, the reference's
                # unique-key insert semantics F6/S7): an id already in
                # the index was accepted by an earlier batch — in THIS
                # lineage (crash replay) or a previous one (checkpoint
                # loss re-drain). Skipping it makes cross-lineage
                # replays no-ops instead of duplicates. Materialized
                # via localCheckpoint BEFORE any index partition is
                # overwritten below (a lazy plan would re-read deleted
                # files mid-write). At 100 TB swap the sets-scan for
                # the Bloom seen-set (relational.save_bloom) — same
                # contract, constant-size probe.
                seen = spark.read.parquet(f"{index_path}/sets").select(
                    F.col("id").alias(id_col)
                )
                new_ids = (
                    kept.select(id_col)
                    .join(seen, id_col, "left_anti")
                    .localCheckpoint(eager=True)
                )
                kept = kept.join(new_ids, id_col, "left_semi")
                kept_base = kept_base.join(new_ids, id_col, "left_semi")
                # (a) cross-run near-dedup against everything accepted
                hits = query_lsh_index(
                    kept, id_col, text_col, index_path, jaccard_threshold,
                    base=kept_base, base_params=params,
                )
                # materialize the probe too, same reason as new_ids;
                # if the cached copy is lost the batch fails and
                # replays — idempotent.
                dup_ids = (
                    hits.select(F.col("new_id").alias(id_col))
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                kept = kept.join(dup_ids, id_col, "left_anti")
                kept_base = kept_base.join(dup_ids, id_col, "left_anti")
            # lineage+batch-partitioned dynamic overwrite: a replayed
            # epoch replaces its own partition — idempotent accepted
            # sink, scoped to this checkpoint lineage. Written BEFORE
            # the index append: a crash between the two replays with
            # these ids absent from the index, so the sink rewrite is
            # identical and the index catches up — the reverse order
            # would let the id-guard skip rows the sink never got.
            _overwrite_batch(kept, out_path, lineage, batch_id)
            if have_index:
                append_lsh_index(
                    kept, id_col, text_col, index_path,
                    base=kept_base, base_params=params, batch_id=batch_id,
                    lineage=lineage,
                )
            else:
                save_lsh_index(
                    kept, id_col, text_col, index_path,
                    base=kept_base, base_params=params, batch_id=batch_id,
                    lineage=lineage,
                )
        finally:
            base.unpersist()
            if new_ids is not None:
                new_ids.unpersist()
            if dup_ids is not None:
                dup_ids.unpersist()  # releases the localCheckpoint blocks

    return _foreach_batch(file_stream(spark, docs_dir), checkpoint, process)


def cms_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_path: str,
    checkpoint: str,
    key: str,
    depth: int = 5,
    width: int = 256,
):
    """Streaming frequency tracking with PERSISTENT count-min state:
    each micro-batch builds its own CMS counter delta
    (``profiling.build_cms``) and writes it as a ``__batch``
    partition of the sketch table; the merged sketch at any moment is
    one cell-wise SUM over all partitions (``read_cms_sketch``).
    CMS counters are mergeable by addition, so this is the sketch
    analog of the persistent LSH/Bloom state — heavy-hitter and
    frequency queries over the full history at any time, without
    rescanning raw input.

    Exactly-once without a transactional sink: the delta write is a
    dynamic partition overwrite keyed by ``(__lineage, __batch)`` —
    the lineage (``checkpoint_lineage``) scopes the restart-at-0
    batch ids to this checkpoint, so an epoch replay REPLACES its own
    partition instead of double-counting, and a DIFFERENT pipeline
    (or a post-checkpoint-loss restart) can never overwrite this
    lineage's partitions. Because md5-based CMS is fully
    deterministic, the replayed delta is bit-identical. The drained
    merged sketch therefore equals the batch-built sketch of the same
    input exactly (pytest-pinned). One sketch table binds to exactly
    ONE checkpoint lineage — re-draining the same input under a fresh
    checkpoint would ADD a second lineage's counts, so
    ``read_cms_sketch`` refuses mixed-lineage tables instead of
    silently double-counting.

    Sketch table size: n_batches x (<= depth*width) skinny rows —
    compact with ``stage_io.compact_stage`` (re-aggregating to one
    partition) when batch count grows.
    """
    from ..operators.profiling import build_cms

    return _sketch_stream(
        spark, input_dir, sketch_path, checkpoint, None,
        lambda batch: build_cms(batch, key, depth=depth, width=width),
    )


def _sketch_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_path: str,
    checkpoint: str,
    where: str | None,
    delta,
) -> StreamingQuery:
    """The body of ``cms_stream`` and ``kmv_stream``: each non-empty
    micro-batch's ``delta(batch)`` sketch is written as its
    ``(__lineage, __batch)`` partition of ``sketch_path``."""
    stream = file_stream(spark, input_dir)
    if where is not None:
        # pre-sketch row filter (e.g. one event_type per pipeline) —
        # a narrow predicate the scan absorbs, so each state scope
        # only ever sees its own slice
        stream = stream.filter(where)

    def process(batch: DataFrame, batch_id: int, lineage: str) -> None:
        _overwrite_batch(delta(batch), sketch_path, lineage, batch_id)

    return _foreach_batch(stream, checkpoint, process)


def _single_lineage_deltas(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The per-batch deltas of a sketch table, refusing a table that
    holds deltas from MORE than one checkpoint lineage: a merge across
    lineages double-counts (CMS) or mixes the scopes (KMV) of any
    input drained by both — the silent-corruption mode the lineage
    partition key exists to surface."""
    deltas = spark.read.parquet(sketch_path)
    if "__lineage" in deltas.columns:
        n_lineages = deltas.select("__lineage").distinct().count()
        if n_lineages > 1:
            raise ValueError(
                f"{sketch_path} holds deltas from {n_lineages} checkpoint "
                "lineages; keep one sketch table per pipeline lineage "
                "(clear the table when resetting the checkpoint)."
            )
    return deltas


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merge the per-batch CMS deltas into the current sketch:
    cell-wise integer sum (associative/commutative — any merge order
    gives the identical counter table). Refuses a mixed-lineage table
    (``_single_lineage_deltas``)."""
    deltas = _single_lineage_deltas(spark, sketch_path)
    return deltas.groupBy("row_i", "col_j").agg(F.sum("cnt").alias("cnt"))


def kmv_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_path: str,
    checkpoint: str,
    key: str,
    group_cols: list[str],
    k: int = 64,
    where: str | None = None,
):
    """Streaming DISTINCT-count tracking with persistent KMV state —
    the set-cardinality sibling of ``cms_stream`` (frequencies).
    Each micro-batch writes its own per-group k-min sketch
    (``profiling.kmv_sketch``) as a ``(__lineage, __batch)`` dynamic
    partition; the merged sketch at any moment is the k smallest
    DISTINCT hashes across all deltas (``read_kmv_sketch``) — KMV
    merges by k-min-of-union, not by addition, which is what makes
    it also INTERSECTABLE across groups (kmv_distinct_setops).

    Exactly-once by the cms_stream argument, and stronger than it
    needs to be: md5 hashing makes each delta bit-identical on epoch
    replay, and even a DOUBLE-counted delta would be absorbed by the
    distinct-union merge (k-min is idempotent under duplication —
    the lineage guard still applies so mixed pipelines fail loudly
    rather than silently mixing scopes).

    Sketch table size: n_batches × (≤ k rows per group per batch).
    """
    from ..operators.profiling import kmv_sketch

    return _sketch_stream(
        spark, input_dir, sketch_path, checkpoint, where,
        lambda batch: kmv_sketch(batch, key, group_cols, k=k),
    )


def read_kmv_sketch(
    spark: SparkSession, sketch_path: str, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Merge the per-batch KMV deltas into the current sketch: the k
    smallest DISTINCT hashes per group (idempotent and
    order-independent — k-min of a union). Same mixed-lineage guard
    as read_cms_sketch."""
    from pyspark.sql import Window

    deltas = _single_lineage_deltas(spark, sketch_path)
    hv = deltas.select(*group_cols, "hv").distinct()
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        hv.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def commit_stream_batch(
    batch: DataFrame, table_root: str, batch_id: int, lineage: str = ""
) -> int | None:
    """Commit one micro-batch to a manifest-versioned table,
    exactly-once within a checkpoint lineage: the commit is tagged
    ``batch:{lineage}:{id}`` (Delta's ``txn`` appId+version shape)
    and a replayed batch whose tag is already committed is a no-op.
    foreachBatch ids restart at 0 per checkpoint, so the bare id is
    only unique WITHIN a lineage — without the scope, a restart after
    checkpoint loss would replay new input as batch 0, match the old
    ``batch:0`` tag, and silently DROP those rows. With it, a fresh
    lineage re-commits everything it drains: across lineages the sink
    degrades to at-least-once (duplicates, visible and reconcilable
    via time travel), never to silent loss. Factored out of
    ``versioned_sink_stream`` so replay idempotency is unit-testable
    without forcing a checkpoint crash. Returns the committed version
    or None if skipped (replay / empty)."""
    from ..sources.versioned import commit_version, committed_tags

    if batch.isEmpty():
        return None
    tag = f"batch:{lineage}:{int(batch_id)}"
    if tag in committed_tags(table_root):
        return None
    return commit_version(batch, table_root, mode="append", tag=tag)


def versioned_sink_stream(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint: str,
):
    """Exactly-once streaming parquet sink via the versioned-table
    log: each micro-batch lands as ONE atomic manifest commit
    (readers never see a torn batch — they resolve a manifest, which
    either includes the batch or doesn't), and foreachBatch's
    at-least-once delivery is de-duplicated by the lineage-scoped
    ``batch:{lineage}:{id}`` commit tag (see ``commit_stream_batch``
    for the exactly-once-within-a-lineage / at-least-once-across-
    lineages contract). This is the transactional upgrade of the raw
    ``(__lineage, __batch)`` partition-overwrite sinks used by
    near_dedup_stream / cms_stream — same idempotency, plus snapshot
    isolation and time travel per micro-batch."""

    def sink(batch: DataFrame, batch_id: int, lineage: str) -> None:
        commit_stream_batch(batch, table_root, batch_id, lineage=lineage)

    return _foreach_batch(file_stream(spark, input_dir), checkpoint, sink)


def streaming_decode_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode INSIDE Structured Streaming: stream the
    documents table, synthesize real PNG payloads and decode them
    back (operators/multimodal.decode_image_pixels — the same
    Arrow-batched mapInPandas stage the batch query uses) per
    micro-batch, drain with AvailableNow into an append-mode memory
    sink. The stage is stateless and 1:1 per document, so the drained
    result is deterministic regardless of how AvailableNow splits the
    input — which is why the batch query's closed-form oracle applies
    unchanged. This is the shape of a production media-ingest
    pipeline: decode work rides the stream, no shuffle, bounded
    per-batch memory via Arrow batch sizing."""
    from ..operators.multimodal import (
        attach_gradient_image_payload,
        decode_image_pixels,
    )

    stream = file_stream(spark, os.path.join(sf_dir, "documents.parquet"))
    # spread the decode across the cluster: a single-file source
    # plans ONE input partition per micro-batch, which serialized the
    # whole Python decode stage onto one core (profiled: a 7.6 s
    # single-task batch at sf0.1). Repartition BEFORE the payload
    # attach so only the skinny document rows shuffle, never the
    # synthesized image bytes (guide: move heavy bytes zero times).
    # At scale a multi-file source already splits; the shuffle then
    # just rebalances skew. Stateless 1:1 stage, so the drained row
    # set is unchanged.
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    decoded = decode_image_pixels(
        attach_gradient_image_payload(stream, "doc_id")
    )
    return drain(spark, decoded)


def static_join_view_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join + view aggregation: maintain a revenue-by-
    priority join view over an append-only orders stream against the
    static lineitem dimension — the native Structured Streaming form
    of incremental join-view maintenance (each micro-batch joins ONLY
    its new rows: the engine executes exactly the |Δ|-bounded delta
    leg of ``relational.delta_join_legs``, and the complete-mode agg
    state IS the materialized view). The drained view over the whole
    table equals the batch join aggregate exactly — integer cents,
    arrival-order-free — so the direct-join SQL is the oracle. At
    100 TB the static side is a real dimension table (broadcast or
    pre-bucketed); view cardinality (5 priorities) bounds the agg
    state."""
    stream = file_stream(spark, f"{sf_dir}/orders.parquet")
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    view = (
        stream.select("o_orderkey", "o_orderpriority")
        .join(li, "o_orderkey")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
    )
    return drain(spark, view, "complete")


def streaming_quality_gate_batch(
    spark, sf_dir: str, max_files_per_trigger: int | None = None
):
    """The published Gopher word-level quality gate INSIDE Structured
    Streaming (the production shape: documents are quality-scored as
    they arrive, before anything downstream sees them): stream the
    documents table, compute the Rae et al. 2021 Table A1 word-level
    stats as PURE per-row HOF expressions
    (operators/textstats.gopher_stats_columns — no explode, no
    groupBy, no watermark), drain with AvailableNow into an
    append-mode memory sink. Stateless and 1:1 per document, so the
    drained result is deterministic regardless of micro-batch splits
    — the BATCH gopher_quality_flags oracle applies unchanged (same
    integer truncating divisions, two plan shapes for one
    semantics)."""
    from ..operators.textstats import gopher_stats_columns

    stream = file_stream(
        spark, os.path.join(sf_dir, "documents.parquet"), max_files_per_trigger
    )
    flagged = stream.select("doc_id", *gopher_stats_columns(F.col("text")))
    return drain(spark, flagged)


def streaming_hrw_route_batch(spark, sf_dir: str, n_shards: int):
    """Rendezvous-hash ROUTING inside Structured Streaming — the
    ingest-placement gate: every arriving document is assigned its
    shard by the same pure-projection HRW expression the batch
    topology audit (consistent_hash_shards) certifies. Stateless and
    1:1 per document (no explode, no groupBy, no watermark), so the
    AvailableNow drain is append-mode and split-invariant, and the
    BATCH per-doc assignment SQL is the oracle unchanged — the hash
    match certifies that the streaming router and the batch audit
    compute the identical placement."""
    from ..operators.relational import hrw_shard

    stream = file_stream(spark, os.path.join(sf_dir, "documents.parquet"))
    routed = stream.select(
        "doc_id", hrw_shard(F.col("doc_id"), n_shards).alias("shard")
    )
    return drain(spark, routed)


def streaming_blocklist_gate_batch(spark, sf_dir: str, patterns: list[str]):
    """Aho-Corasick blocklist matching inside Structured Streaming —
    the ingest-side content gate: every arriving document exits with
    its per-pattern match counts from the SAME goto/fail automaton
    walk the batch query (aho_corasick_matches) certifies. The
    automaton is built once on the driver side (bounded: one row per
    pattern prefix) and closure-broadcast into the stateless
    mapInPandas stage; no watermark, no state, so the AvailableNow
    drain is append-mode and split-invariant and the BATCH
    position-scan SQL is the oracle unchanged — streaming gate and
    batch audit provably compute identical matches."""
    from ..operators.ahocorasick import automaton_frame, match_counts

    stream = file_stream(spark, os.path.join(sf_dir, "documents.parquet"))
    auto = automaton_frame(spark, patterns)
    return drain(spark, match_counts(stream, "doc_id", "text", auto))
