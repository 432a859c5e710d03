"""Sources: sitemap parsing, stage IO upsert-skip idempotence, CSV
export, tokenize edge cases."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.functions import tokenize as TK
from bbcnews_scraper_nlp_spark.sources import stage_io
from bbcnews_scraper_nlp_spark.sources.sitemap import filter_news_links, parse_sitemap

XML = (
    "<urlset>"
    "<url><loc>https://www.bbc.com/news/uk-1</loc>"
    "<lastmod>2022-06-01T00:00:00Z</lastmod></url>"
    "<url><loc>https://www.bbc.com/sport/f1-2</loc>"
    "<lastmod>2022-06-02T00:00:00Z</lastmod></url>"
    "<url><loc>https://www.bbc.com/news/world-3</loc>"
    "<lastmod>2022-01-01T00:00:00Z</lastmod></url>"
    "</urlset>"
)


def test_parse_and_filter_sitemap(spark):
    pages = spark.createDataFrame([(XML,)], "xml string")
    parsed = parse_sitemap(pages).collect()
    assert len(parsed) == 3
    news = filter_news_links(
        parse_sitemap(pages), cutoff_lastmod="2022-05-24T14:54:50Z"
    ).collect()
    assert [r["url"] for r in news] == ["https://www.bbc.com/news/uk-1"]


def test_upsert_skip_idempotent(spark, tmp_path):
    root = str(tmp_path)
    df = spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u2", "b2")], "url string, v string"
    )
    stage_io.upsert_skip(spark, df, root, "links", key="url")
    assert spark.read.parquet(os.path.join(root, "links")).count() == 2
    # re-run: nothing new appended
    stage_io.upsert_skip(spark, df, root, "links", key="url")
    assert spark.read.parquet(os.path.join(root, "links")).count() == 2
    # new key appended
    df2 = spark.createDataFrame([("u3", "c")], "url string, v string")
    stage_io.upsert_skip(spark, df2, root, "links", key="url")
    assert spark.read.parquet(os.path.join(root, "links")).count() == 3


def test_upsert_skip_raises_on_unreadable_table(spark, tmp_path):
    import pytest

    root = str(tmp_path)
    path = os.path.join(root, "links")
    df = spark.createDataFrame([("u1", "a"), ("u2", "b")], "url string, v string")
    stage_io.upsert_skip(spark, df, root, "links", key="url")
    # two identical upserts: the second appends no row
    stage_io.upsert_skip(spark, df, root, "links", key="url")
    assert spark.read.parquet(path).count() == 2
    # a corrupt part file (sorting first, so schema inference would
    # touch it too) must fail the upsert, not turn it into an append
    with open(os.path.join(path, "part-0-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    new = spark.createDataFrame([("u3", "c")], "url string, v string")
    with pytest.raises(Exception):
        stage_io.upsert_skip(spark, new, root, "links", key="url")
    os.remove(os.path.join(path, "part-0-corrupt.parquet"))
    assert sorted(r["url"] for r in spark.read.parquet(path).collect()) == [
        "u1",
        "u2",
    ]


def test_export_csv_projection(spark, tmp_path):
    df = spark.createDataFrame([(1, "x", "drop")], "a int, b string, c string")
    out = str(tmp_path / "csv")
    stage_io.export_csv(df, out, ["a", "b"])
    back = spark.read.option("header", True).csv(out)
    assert back.columns == ["a", "b"]
    assert back.count() == 1


def test_shingles_edge_cases(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "text string"
    )
    out = df.select(
        TK.word_shingles(F.split("text", " "), 3).alias("w"),
        TK.char_shingles(F.col("text"), 5).alias("c"),
    ).collect()
    assert out[0]["w"] == ["a b c", "b c d"]
    assert out[1]["w"] == []  # shorter than n -> empty, not [0,-1] junk
    assert out[2]["w"] == []
    assert out[1]["c"] == []  # 3 chars < k=5
    assert out[0]["c"] == ["a b c", " b c ", "b c d"]


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("it's a test-1 çase",)], "text string")
    toks = df.select(TK.bpe_ish_tokens(F.col("text")).alias("t")).first()["t"]
    # contractions split off, punctuation isolated, non-ascii falls in
    # the symbol class
    assert toks == ["it", "'s", "a", "test", "-", "1", "ç", "ase"]


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.sources.stage_io import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "bkt_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(
        lineitem, "bkt_lineitem", ["l_orderkey"], num_buckets=8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so distribution requirements bite
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_orders").join(
            spark.table("bkt_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing satisfied both sides
        n = joined.count()
        # every lineitem matches exactly one order
        assert n == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.sources.stage_io import write_partitioned

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_day")
    write_partitioned(events, out, ["day"])

    # hive layout: one directory per day value
    days = sorted(
        d for d in os.listdir(out) if d.startswith("day=")
    )
    assert len(days) == events.select("day").distinct().count()

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("day") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the day predicate must be a planning-time PartitionFilter,
    # not a per-row data filter
    assert "PartitionFilters: [" in plan
    assert "day" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the scan must read exactly the one pruned directory
    scan_files = one_day.select(F.input_file_name()).distinct().collect()
    assert all("day=2024-01-05" in r[0] for r in scan_files)
    # round-trip correctness vs an unpartitioned filter
    expect = events.filter(F.col("day") == "2024-01-05").count()
    assert one_day.count() == expect


def test_sitemap_datasource_reads_shards(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.sources.sitemap import (
        filter_news_links,
    )
    from bbcnews_scraper_nlp_spark.sources.sitemap_datasource import (
        register_sitemap_source,
    )

    # two shard files -> two input partitions
    (tmp_path / "shard-0.xml").write_text(XML)
    (tmp_path / "shard-1.xml").write_text(
        "<urlset><url><loc>https://www.bbc.com/news/tech-9</loc>"
        "<lastmod>2022-07-01T00:00:00Z</lastmod></url></urlset>"
    )
    register_sitemap_source(spark)
    df = (
        spark.read.format("sitemap")
        .option("path", str(tmp_path / "shard-*.xml"))
        .load()
    )
    rows = df.collect()
    assert len(rows) == 4
    assert df.rdd.getNumPartitions() == 2  # one per shard
    assert {r["shard_path"].rsplit("/", 1)[-1] for r in rows} == {
        "shard-0.xml", "shard-1.xml",
    }
    # downstream Catalyst filters compose on the custom source
    news = filter_news_links(df, cutoff_lastmod="2022-05-24T14:54:50Z")
    assert sorted(r["url"] for r in news.collect()) == [
        "https://www.bbc.com/news/tech-9",
        "https://www.bbc.com/news/uk-1",
    ]


def test_zorder_write_clusters_both_dims(spark, sf_dir, tmp_path):
    """write_zordered: per-file min/max rectangles are narrow on BOTH
    z columns, while a single-column sort leaves the second column's
    per-file range at ~full width (no skipping possible)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )

    def frac_ranges(path):
        files = sorted(str(p) for p in Path(path).glob("*.parquet"))
        lo = {c: [] for c in ("l_orderkey", "l_partkey")}
        gmin = {c: li.agg(F.min(c)).collect()[0][0] for c in lo}
        gmax = {c: li.agg(F.max(c)).collect()[0][0] for c in lo}
        for f in files:
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            for c in lo:
                mn = min(
                    md.row_group(g).column(cols[c]).statistics.min
                    for g in range(md.num_row_groups)
                )
                mx = max(
                    md.row_group(g).column(cols[c]).statistics.max
                    for g in range(md.num_row_groups)
                )
                lo[c].append((mx - mn) / max(gmax[c] - gmin[c], 1))
        return {c: sum(v) / len(v) for c, v in lo.items()}

    zpath = str(tmp_path / "zorder")
    stage_io.write_zordered(li, zpath, ["l_orderkey", "l_partkey"], num_files=8)
    spath = str(tmp_path / "sorted")
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.parquet(spath)

    zfrac = frac_ranges(zpath)
    sfrac = frac_ranges(spath)
    # z-order: both dims clustered (files cover small rectangles)
    assert zfrac["l_orderkey"] <= 0.6, zfrac
    assert zfrac["l_partkey"] <= 0.6, zfrac
    # single-column sort: second dim unclustered -> no skipping
    assert sfrac["l_orderkey"] <= 0.3, sfrac
    assert sfrac["l_partkey"] >= 0.8, sfrac
    # layout changes nothing about content
    back = spark.read.parquet(zpath)
    assert back.count() == li.count()


def test_compact_stage_reduces_file_count(spark, tmp_path):
    import os

    from bbcnews_scraper_nlp_spark.sources.stage_io import compact_stage

    root = str(tmp_path)
    # simulate streaming-sink accretion: 64 tiny files
    df = spark.range(10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(os.path.join(root, "accreted"))
    src = os.path.join(root, "accreted")
    before = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert before >= 32

    n = compact_stage(spark, root, "accreted", target_file_bytes=1 << 30)
    assert n == 1
    after = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(after) == 1
    # data survives the swap byte-for-byte (count + checksum)
    got = spark.read.parquet(src)
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).first()[0] == sum(range(10_000))


def test_read_stage_evolving_merges_drifted_schema(spark, tmp_path):
    import os

    from bbcnews_scraper_nlp_spark.sources.stage_io import read_stage_evolving

    root = str(tmp_path)
    path = os.path.join(root, "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(path)
    got = {r["k"]: r for r in read_stage_evolving(spark, root, "t").collect()}
    assert set(got[1].asDict()) == {"k", "v", "score"}
    assert got[1]["score"] is None and got[2]["score"] == 9.5


def test_export_jsonl_sharded_round_trip(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.sources.stage_io import (
        export_jsonl_sharded,
    )

    df = spark.range(250).selectExpr("id", "concat('doc-', id) AS text")
    out = str(tmp_path / "jsonl")
    shards = export_jsonl_sharded(df, out, rows_per_shard=100)
    assert shards == 3
    import glob

    files = glob.glob(f"{out}/part-*.json.gz")
    assert len(files) == 3
    back = spark.read.json(out)
    assert back.count() == 250
    assert {r["text"] for r in back.collect()} == {
        f"doc-{i}" for i in range(250)
    }
