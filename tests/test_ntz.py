"""Timestamp-flavor regression suite.

Spark 4 reads tz-less parquet timestamps as TIMESTAMP_NTZ, which
rejects ``unix_micros`` / direct long casts / ``withWatermark`` —
exactly the breakage the driver's testdata surfaced (round 3:
sessionize, interarrival, every watermark path red on NTZ input).
Every time-keyed operator must therefore accept BOTH flavors and
produce identical results (session timezone is pinned UTC, so the
flavors label the same wall clock). Unit fixtures elsewhere build
TimestampType frames, which is why this slipped through — these
tests parametrize the flavor explicitly.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.operators import relational as R

FLAVORS = ["timestamp", "timestamp_ntz"]


def _events(spark, flavor):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions (gap of 31 min between idx 1 and 2),
        # sub-second offsets so truncated-seconds math would misjudge
        (1, base + dt.timedelta(seconds=0, microseconds=500_000), "view", 1.0),
        (1, base + dt.timedelta(minutes=5), "click", 2.0),
        (1, base + dt.timedelta(minutes=36, microseconds=400_000), "view", 3.0),
        (2, base + dt.timedelta(minutes=1), "view", 4.0),
        (2, base + dt.timedelta(minutes=2), "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    )
    return df.withColumn("ts", F.col("ts").cast(flavor))


@pytest.mark.parametrize("flavor", FLAVORS)
def test_epoch_helpers_both_flavors(spark, flavor):
    df = _events(spark, flavor)
    out = df.select(
        R.epoch_us("ts").alias("us"), R.epoch_seconds("ts").alias("s")
    ).orderBy("us")
    rows = out.collect()
    assert rows[0]["us"] == 1704067200500000
    assert rows[0]["s"] == 1704067200  # truncated, not rounded
    assert all(r["us"] // 1_000_000 == r["s"] for r in rows)


@pytest.mark.parametrize("flavor", FLAVORS)
def test_sessionize_both_flavors(spark, flavor):
    out = R.sessionize(_events(spark, flavor), "user_id", "ts")
    per_user = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id")
        .agg(F.max("session_id").alias("n"))
        .collect()
    }
    assert per_user == {1: 2, 2: 1}


@pytest.mark.parametrize("flavor", FLAVORS)
def test_sessionize_subsecond_boundary(spark, flavor):
    # gap = 30 min + 0.1 s -> new session ONLY at full precision;
    # truncated-seconds math would call this exactly 1800 s (same
    # session). Guards the micros-precision contract.
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base + dt.timedelta(microseconds=900_000)),
            (1, base + dt.timedelta(minutes=30, seconds=1)),
        ],
        "user_id long, ts timestamp",
    ).withColumn("ts", F.col("ts").cast(flavor))
    out = R.sessionize(df, "user_id", "ts")
    assert out.agg(F.max("session_id")).collect()[0][0] == 2


@pytest.mark.parametrize("flavor", FLAVORS)
def test_asof_join_both_flavors(spark, flavor):
    ev = _events(spark, flavor)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = R.asof_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    assert [r["asof_value"] for r in out.collect()] == [1.0]


@pytest.mark.parametrize("flavor", FLAVORS)
def test_range_join_binned_both_flavors(spark, flavor):
    ev = _events(spark, flavor)
    base = dt.datetime(2024, 1, 1)
    intervals = spark.createDataFrame(
        [("w1", base, base + dt.timedelta(minutes=10))],
        "name string, start timestamp, end timestamp",
    ).select(
        "name",
        F.col("start").cast(flavor).alias("start"),
        F.col("end").cast(flavor).alias("end"),
    )
    out = R.range_join_binned(
        ev, "ts", intervals, "start", "end", bin_seconds=600
    )
    assert out.count() == 4  # all but the minute-36 event


@pytest.mark.parametrize("flavor", FLAVORS)
def test_watermark_path_both_flavors(spark, tmp_path, flavor):
    # event_stream normalizes the parquet-read flavor to LTZ so every
    # downstream withWatermark is legal; exercised via a real file
    # stream over both flavors.
    from bbcnews_scraper_nlp_spark.streaming.ingest import (
        dedup_within_watermark,
        drain,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    # single-file layout like the driver's testdata; the parquet
    # flavor (isAdjustedToUTC) decides what Spark reads it back as
    src = tmp_path / flavor
    src.mkdir()
    ts_type = (
        pa.timestamp("us", tz="UTC") if flavor == "timestamp" else pa.timestamp("us")
    )
    pdf = (
        _events(spark, "timestamp")
        .withColumn("event_id", F.monotonically_increasing_id())
        .toPandas()
    )
    tbl = pa.Table.from_pandas(pdf).set_column(
        pdf.columns.get_loc("ts"),
        "ts",
        pa.Table.from_pandas(pdf)["ts"].cast(ts_type),
    )
    pq.write_table(tbl, str(src / "events.parquet"))
    from bbcnews_scraper_nlp_spark.streaming.ingest import event_stream

    stream = event_stream(spark, str(src))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    deduped = dedup_within_watermark(stream, key="event_id")
    assert drain(spark, deduped).count() == 5


@pytest.mark.parametrize("flavor", FLAVORS)
def test_range_frame_and_ohlc_both_flavors(spark, flavor):
    from pyspark.sql import Window

    df = _events(spark, flavor).withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    # range-frame trailing sum over epoch micros (the
    # range_frame_trailing_sum shape)
    w = (
        Window.partitionBy("user_id")
        .orderBy(R.epoch_us("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    sums = df.select(
        "user_id", F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("s")
    )
    got = sorted(r["s"] for r in sums.collect())
    assert got == sorted([100, 300, 600, 400, 900])  # cumulative within 1h
    # ohlc hour bucketing via integer div on epoch micros
    b = df.select(
        R.epoch_us("ts").alias("__us"), "value"
    ).withColumn("hr", F.expr("__us div 3600000000"))
    hrs = {r["hr"] for r in b.collect()}
    assert hrs == {473352}  # 1704067200 // 3600: 2024-01-01T00 UTC
    # day-grain cast used by rolling_distinct_users_7d
    days = {r["d"] for r in df.select(F.col("ts").cast("date").alias("d")).collect()}
    assert len(days) == 1 and str(next(iter(days))) == "2024-01-01"
