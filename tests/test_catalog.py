"""Catalog reads: a file's parquet schema is inferred once, then reused
without a Spark job, and never outlives a rewrite of the file or a
change of the confs that decide inferred types."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.catalog import load_table, read_parquet


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, f"{group} probe")
    try:
        out = fn()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    return out, jobs


def test_second_load_table_starts_no_job(spark, sf_dir):
    first = load_table(spark, sf_dir, "orders")
    again, jobs = _jobs_in_group(
        spark, "schema-cache-probe", lambda: load_table(spark, sf_dir, "orders")
    )
    assert jobs == [], f"cached-schema read launched Spark jobs: {jobs}"
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]  # served from the cache
    pq.write_table(
        pa.table({"b": ["x", "y", "z"], "c": pa.array([1.5, 2.5, 3.5])}), path
    )
    df = read_parquet(spark, path)
    assert dict(df.dtypes) == {"b": "string", "c": "double"}
    assert df.count() == 3


def test_directory_schema_is_never_cached(spark, tmp_path):
    # rewriting a part file in place leaves the directory's own stat
    # unchanged, so a directory must be inferred on every read
    part = tmp_path / "ds" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(part))
    assert read_parquet(spark, str(part.parent)).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"]}), str(part))
    assert read_parquet(spark, str(part.parent)).columns == ["b"]


def test_schema_cache_keys_on_type_confs(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"v": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(read_parquet(spark, path).dtypes)["v"] == "binary"
        spark.conf.set(key, "true")
        assert dict(read_parquet(spark, path).dtypes)["v"] == "string"
    finally:
        spark.conf.set(key, old)


def test_events_ts_stays_timestamp(spark, sf_dir, tmp_path):
    for _ in range(2):  # cold inference, then the cached schema
        assert dict(load_table(spark, sf_dir, "events").dtypes)["ts"] in (
            "timestamp",
            "timestamp_ntz",
        )
    # TIMESTAMP(NANOS) events, as generated tables store them: the
    # cached schema must keep the nanos-as-long route to micros
    # (truncating, as DuckDB does).
    nanos = [1704067201000001500, 1704153600000000000]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(nanos, pa.timestamp("ns"))}),
        os.path.join(tmp_path, "events.parquet"),
    )
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
        assert got == [n // 1000 for n in nanos]
