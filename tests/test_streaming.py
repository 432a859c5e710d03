"""Structured Streaming ingest: availableNow drain equals batch
dedup; dedup key actually deduplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.catalog import load_table
from bbcnews_scraper_nlp_spark.streaming.ingest import incremental_dedup_batch


def test_drain_removes_its_checkpoint_and_stops(spark, sf_dir, tmp_path, monkeypatch):
    import tempfile

    from bbcnews_scraper_nlp_spark.streaming.ingest import drain, event_stream

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = drain(spark, event_stream(spark, sf_dir))
    assert list(tmp_path.iterdir()) == []
    assert spark.streams.active == []
    assert out.count() == load_table(spark, sf_dir, "events").count()


def test_stateful_user_stats_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.streaming.ingest import user_stats_batch

    out = user_stats_batch(spark, sf_dir)
    final = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in out.collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("t"),
        )
        .collect()
    }
    # integer-cents fold -> EXACT equality, not epsilon comparison
    assert final == batch


def test_streaming_dedup_matches_batch(spark, sf_dir):
    out = incremental_dedup_batch(spark, sf_dir, key="event_id")
    batch = load_table(spark, sf_dir, "events")
    assert out.count() == batch.select("event_id").distinct().count()
    assert set(out.columns) == set(batch.columns)
    # timestamps survived the nanos fix-up into real timestamps
    assert dict(out.dtypes)["ts"] == "timestamp"


def test_windowed_counts_match_batch_closed_windows(spark, sf_dir):
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.streaming.ingest import windowed_counts_batch

    out = windowed_counts_batch(spark, sf_dir)
    streamed = {
        (r["window_start"], r["window_end"], r["event_type"]): r["n"]
        for r in out.collect()
    }
    assert streamed, "watermark should have closed at least one window"

    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["ws"], r["we"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            "event_type",
            "n",
        )
        .collect()
    }
    # every emitted window is final: exact match with the batch count
    for k, n in streamed.items():
        assert batch[k] == n, k
    # append-mode cutoff: only windows fully past the watermark
    # (max ts - 1 day) were emitted, the newer ones are still open
    max_ts = ev.agg(F.max("ts")).first()[0]
    unemitted = set(batch) - set(streamed)
    import datetime

    cutoff = max_ts - datetime.timedelta(days=1)
    for start, end, _ in streamed:
        assert end <= cutoff + datetime.timedelta(days=1)
    assert all(end > cutoff - datetime.timedelta(seconds=1) for _, end, _ in unemitted)


def test_interval_join_matches_batch(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.streaming.ingest import interval_join_batch

    got = interval_join_batch(spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    want = clicks.join(
        views,
        (F.col("c_user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "c_user_id", "click_ts", "view_ts", "view_value")
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(want)


def test_dedup_within_watermark_drops_burst_dups(spark, tmp_path):
    import uuid

    from bbcnews_scraper_nlp_spark.streaming.ingest import dedup_within_watermark

    # two files: key 1 duplicated within the hour (dropped), key 2
    # unique, key 3 duplicated across files but still within watermark
    src = tmp_path / "src"
    src.mkdir()
    df1 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (2, "2024-01-01 10:20:00"),
            (3, "2024-01-01 10:30:00"),
        ],
        "event_id long, ts_s string",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"))
    df1.write.parquet(str(src / "a.parquet"))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .parquet(str(src) + "/*")
    )
    out = dedup_within_watermark(stream, key="event_id")
    name = f"wmdedup_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table(name).collect())
    assert got == [1, 2, 3]


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.streaming.ingest import upsert_foreach_batch

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b2")], "k long, v string"
    ).write.parquet(str(src / "a.parquet"))
    stream = spark.readStream.schema("k long, v string").parquet(str(src) + "/*")
    q = upsert_foreach_batch(
        stream, str(tmp_path), "stage", "k", str(tmp_path / "ck1")
    )
    q.awaitTermination()
    n1 = spark.read.parquet(str(tmp_path / "stage")).count()
    assert n1 == 2  # in-batch dup collapsed
    # replay from a fresh checkpoint (simulates re-run): appends nothing
    q2 = upsert_foreach_batch(
        stream, str(tmp_path), "stage", "k", str(tmp_path / "ck2")
    )
    q2.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "stage")).count() == n1


def test_session_windows_match_batch_sessionize(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.streaming.ingest import session_counts_batch

    got = session_counts_batch(spark, sf_dir)

    # Batch twin: lag + cumsum sessionization with session_window's
    # half-open boundary (new session when gap >= 30 min), then the
    # same (start, last+gap, count) projection. Only sessions CLOSED
    # by the final watermark (horizon <= max_ts - 1 day) are emitted
    # by append mode.
    from bbcnews_scraper_nlp_spark.operators.relational import epoch_us

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    us = epoch_us("ts")
    gap_us = us - F.lag(us).over(w)
    is_new = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    expect = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("interval 30 minutes")).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("session_id")
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    expect = expect.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("interval 1 day")
    ).select("session_start", "session_end", "user_id", "n_events")

    got_rows = {tuple(r) for r in got.collect()}
    exp_rows = {tuple(r) for r in expect.collect()}
    assert len(exp_rows) > 0
    assert got_rows == exp_rows


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        enrich_stream_static_batch,
    )

    out = enrich_stream_static_batch(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.count()  # left join on complete dim
    # every row got a segment, and deterministically the same one
    segs = {r["user_id"]: r["segment"] for r in out.collect()}
    batch = {
        r["user_id"]: f"seg_{r['s']}"
        for r in ev.select("user_id")
        .distinct()
        .select("user_id", F.pmod(F.xxhash64("user_id"), F.lit(4)).alias("s"))
        .collect()
    }
    assert segs == batch


def test_rocksdb_state_store_results_identical(spark, sf_dir):
    # 100 TB path: watermarked dedup + session windows must produce
    # the same output under the disk-backed RocksDB provider as under
    # the default in-memory HDFSBacked one. providerClass is read at
    # query start, so a runtime conf flip covers the shared session.
    from bbcnews_scraper_nlp_spark.session import ROCKSDB_STATE_STORE
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        session_counts_batch,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    default_dedup = {
        tuple(r) for r in incremental_dedup_batch(spark, sf_dir).collect()
    }
    default_sessions = {
        tuple(r) for r in session_counts_batch(spark, sf_dir).collect()
    }
    before = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_STATE_STORE)
    try:
        assert spark.conf.get(key) == ROCKSDB_STATE_STORE
        rocks_dedup = {
            tuple(r) for r in incremental_dedup_batch(spark, sf_dir).collect()
        }
        rocks_sessions = {
            tuple(r) for r in session_counts_batch(spark, sf_dir).collect()
        }
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert rocks_dedup == default_dedup and len(rocks_dedup) > 0
    assert rocks_sessions == default_sessions and len(rocks_sessions) > 0


def test_near_dedup_stream_cross_run_lsh_state(spark, tmp_path):
    """Two streaming runs over a growing docs dir: run 2 must drop a
    near-duplicate of a doc ACCEPTED IN RUN 1 purely via the on-disk
    LSH index (no recompute of run-1 text)."""
    import random

    from bbcnews_scraper_nlp_spark.streaming.ingest import near_dedup_stream

    vocab = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega".split()
    )
    rng = random.Random(5)

    def fresh():
        return " ".join(rng.choice(vocab) for _ in range(60))

    def mutate(t):
        w = t.split()
        w[4], w[19] = "changed", "altered"
        return " ".join(w)

    docs_dir = str(tmp_path / "docs")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")

    base = [(i, fresh()) for i in range(8)]
    # batch file 1: 8 fresh docs + one intra-batch near-dup of doc 2
    spark.createDataFrame(
        base + [(50, mutate(base[2][1]))], "doc_id long, text string"
    ).write.mode("append").parquet(docs_dir)
    q = near_dedup_stream(spark, docs_dir, idx, out, ckpt, 0.5)
    q.awaitTermination()
    accepted1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert accepted1 == set(range(8))  # 50 dropped intra-batch

    # batch file 2: near-dup of run-1 doc 5 + one genuinely new doc
    spark.createDataFrame(
        [(60, mutate(base[5][1])), (61, fresh())], "doc_id long, text string"
    ).write.mode("append").parquet(docs_dir)
    q2 = near_dedup_stream(spark, docs_dir, idx, out, ckpt, 0.5)
    q2.awaitTermination()
    accepted2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert accepted2 == set(range(8)) | {61}  # 60 dropped via the index


def test_near_dedup_stream_epoch_replay_idempotent(spark, tmp_path):
    """A replayed epoch (crash-after-write + checkpoint loss forces
    the worst case: EVERY batch replays) must not duplicate accepted
    rows or index entries — the batch-partitioned dynamic-overwrite
    sinks replace their own partition instead of appending."""
    import shutil

    from bbcnews_scraper_nlp_spark.streaming.ingest import near_dedup_stream

    docs_dir = str(tmp_path / "docs")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta theta") for i in range(6)],
        "doc_id long, text string",
    ).write.mode("append").parquet(docs_dir)

    near_dedup_stream(spark, docs_dir, idx, out, ckpt, 0.5).awaitTermination()
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    n_bands_1 = spark.read.parquet(f"{idx}/bands").count()
    n_sets_1 = spark.read.parquet(f"{idx}/sets").count()
    assert first == list(range(6))

    # lose the checkpoint -> the whole input replays as the same
    # batch ids; idempotent sinks must leave everything unchanged
    shutil.rmtree(ckpt)
    near_dedup_stream(spark, docs_dir, idx, out, ckpt, 0.5).awaitTermination()
    again = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert again == first  # no duplicated accepted rows
    assert spark.read.parquet(f"{idx}/bands").count() == n_bands_1
    assert spark.read.parquet(f"{idx}/sets").count() == n_sets_1


def test_cms_stream_merged_sketch_equals_batch_and_replay_idempotent(
    spark, sf_dir, tmp_path
):
    from bbcnews_scraper_nlp_spark.operators.profiling import (
        build_cms,
        cms_estimate,
    )
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        cms_stream,
        read_cms_sketch,
    )

    docs_dir = f"{sf_dir}/documents.parquet"
    sketch = str(tmp_path / "sketch")

    q = cms_stream(
        spark, docs_dir, sketch, str(tmp_path / "ck1"), key="source",
        depth=3, width=32,
    )
    q.awaitTermination()
    merged = {
        (r["row_i"], r["col_j"]): r["cnt"]
        for r in read_cms_sketch(spark, sketch).collect()
    }
    batch_df = spark.read.parquet(docs_dir)
    want = {
        (r["row_i"], r["col_j"]): r["cnt"]
        for r in build_cms(batch_df, "source", depth=3, width=32).collect()
    }
    # md5 CMS is deterministic: streaming-merged == batch-built EXACTLY
    assert merged == want

    # epoch replay WITHIN the lineage (crash + checkpoint replay of a
    # batch): the delta write is a dynamic overwrite of that batch's
    # own (__lineage, __batch) partition and the md5 CMS delta is
    # bit-identical -> no double counting. Simulated by re-running a
    # batch's write exactly as foreachBatch would.
    deltas = spark.read.parquet(sketch)
    lineage = deltas.select("__lineage").first()["__lineage"]
    replay_bid = deltas.select("__batch").first()["__batch"]
    (
        build_cms(batch_df, "source", depth=3, width=32)
        .withColumn("__lineage", F.lit(lineage))
        .withColumn("__batch", F.lit(int(replay_bid)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__lineage", "__batch")
        .parquet(sketch)
    )
    again = {
        (r["row_i"], r["col_j"]): r["cnt"]
        for r in read_cms_sketch(spark, sketch).collect()
    }
    assert again == want

    # re-draining under a FRESH checkpoint is a new lineage: merging
    # would double-count, so read_cms_sketch surfaces it instead
    q2 = cms_stream(
        spark, docs_dir, sketch, str(tmp_path / "ck2"), key="source",
        depth=3, width=32,
    )
    q2.awaitTermination()
    import pytest

    with pytest.raises(ValueError, match="lineages"):
        read_cms_sketch(spark, sketch).collect()
    # recovery path: drop the stray lineage's partitions, sketch intact
    import shutil as _sh

    for d in list(__import__("os").listdir(sketch)):
        if d.startswith("__lineage=") and lineage not in d:
            _sh.rmtree(f"{sketch}/{d}")
    again2 = {
        (r["row_i"], r["col_j"]): r["cnt"]
        for r in read_cms_sketch(spark, sketch).collect()
    }
    assert again2 == want

    # probing the persistent sketch matches exact counts (width 32 >>
    # 5 sources x depth, so no collisions at this cardinality)
    probes = batch_df.select("source").distinct()
    est = {
        r["source"]: r["est_count"]
        for r in cms_estimate(
            read_cms_sketch(spark, sketch), probes, "source",
            depth=3, width=32,
        ).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in batch_df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)


def test_versioned_sink_stream_exactly_once(spark, sf_dir, tmp_path):
    from bbcnews_scraper_nlp_spark.sources.versioned import (
        read_version,
        rollback,
        table_versions,
    )
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        commit_stream_batch,
        versioned_sink_stream,
    )

    docs_dir = f"{sf_dir}/documents.parquet"
    root = str(tmp_path / "tbl")

    ck = str(tmp_path / "ck")
    q = versioned_sink_stream(spark, docs_dir, root, ck)
    q.awaitTermination()
    n_input = spark.read.parquet(docs_dir).count()
    assert read_version(spark, root).count() == n_input
    n_versions = len(table_versions(root))

    # at-least-once replay of an already-committed batch WITHIN the
    # lineage: no-op (tags are scoped batch:{lineage}:{id})
    from bbcnews_scraper_nlp_spark.streaming.ingest import checkpoint_lineage

    lineage = checkpoint_lineage(spark, ck)
    batch = spark.read.parquet(docs_dir)
    for bid in range(n_versions):
        assert commit_stream_batch(batch, root, bid, lineage=lineage) is None
    assert len(table_versions(root)) == n_versions
    assert read_version(spark, root).count() == n_input

    # a DIFFERENT lineage replaying batch 0 re-commits (at-least-once
    # across lineages — never the silent drop a bare batch:{id} tag
    # would cause after checkpoint loss over grown input)
    v_other = commit_stream_batch(batch, root, 0, lineage="other-lineage")
    assert v_other == n_versions
    assert read_version(spark, root).count() == 2 * n_input
    rollback(root, to_version=n_versions - 1)
    assert read_version(spark, root).count() == n_input
    n_versions = len(table_versions(root))

    # a genuinely new batch commits one new version, atomically
    extra = spark.range(3).selectExpr(*[
        f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
        if f.name != "doc_id" else "id + 1000000 AS doc_id"
        for f in batch.schema.fields
    ])
    v = commit_stream_batch(extra, root, 999)
    assert v == n_versions
    assert read_version(spark, root).count() == n_input + 3
    # time travel: the pre-append version is untouched
    assert read_version(spark, root, version=v - 1).count() == n_input


def test_kmv_stream_merged_sketch_equals_batch_and_replay_idempotent(
    spark, sf_dir, tmp_path
):
    from bbcnews_scraper_nlp_spark.operators.profiling import (
        kmv_estimate,
        kmv_sketch,
    )
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        kmv_stream,
        read_kmv_sketch,
    )

    docs_dir = f"{sf_dir}/documents.parquet"
    sketch = str(tmp_path / "kmv")

    q = kmv_stream(
        spark, docs_dir, sketch, str(tmp_path / "ck1"),
        key="doc_id", group_cols=["source"], k=8,
    )
    q.awaitTermination()
    merged = read_kmv_sketch(spark, sketch, ["source"], k=8)
    got = {(r["source"], r["hv"]) for r in merged.collect()}
    batch_df = spark.read.parquet(docs_dir)
    want_sketch = kmv_sketch(batch_df, "doc_id", ["source"], k=8)
    want = {(r["source"], r["hv"]) for r in want_sketch.collect()}
    # md5 KMV is deterministic: streaming-merged == batch-built EXACTLY
    assert got == want

    # estimates off the merged sketch equal the batch path too
    est_s = {
        r["source"]: r["est"]
        for r in kmv_estimate(merged, ["source"], k=8).collect()
    }
    est_b = {
        r["source"]: r["est"]
        for r in kmv_estimate(want_sketch, ["source"], k=8).collect()
    }
    assert est_s == est_b

    # epoch replay: re-write one batch's delta exactly as foreachBatch
    # would — k-min-of-union is idempotent under duplication
    deltas = spark.read.parquet(sketch)
    lineage = deltas.select("__lineage").first()["__lineage"]
    replay_bid = deltas.select("__batch").first()["__batch"]
    (
        kmv_sketch(batch_df, "doc_id", ["source"], k=8)
        .withColumn("__lineage", F.lit(lineage))
        .withColumn("__batch", F.lit(int(replay_bid)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__lineage", "__batch")
        .parquet(sketch)
    )
    again = {
        (r["source"], r["hv"])
        for r in read_kmv_sketch(spark, sketch, ["source"], k=8).collect()
    }
    assert again == want

    # a FRESH checkpoint is a new lineage: the reader refuses the mix
    q2 = kmv_stream(
        spark, docs_dir, sketch, str(tmp_path / "ck2"),
        key="doc_id", group_cols=["source"], k=8,
    )
    q2.awaitTermination()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lineage"):
        read_kmv_sketch(spark, sketch, ["source"], k=8)


def test_quality_gate_stream_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split-invariance of the streaming Gopher gate, actually
    exercised: the corpus re-written as 4 files and drained with
    maxFilesPerTrigger=1 (4 micro-batches) must produce EXACTLY the
    batch flags — the stateless-1:1 property the registry query's
    oracle certification relies on."""
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.textstats import (
        gopher_stats_columns,
    )
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        streaming_quality_gate_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    multi = str(tmp_path / "docs" / "documents.parquet")
    docs.repartition(4).write.parquet(multi)
    n_files = len([
        p for p in __import__("os").listdir(multi) if p.endswith(".parquet")
    ])
    assert n_files >= 4
    got = sorted(
        tuple(r) for r in streaming_quality_gate_batch(
            spark, str(tmp_path / "docs"), max_files_per_trigger=1
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id", *gopher_stats_columns(F.col("text"))
        ).collect()
    )
    assert got == want
    assert len(got) == docs.count()
