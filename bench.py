"""Benchmark runner (driver contract).

Runs every registry query, in registry order, at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS]. Writes the
raw per-query timings to BENCH_RAW.json (``tools/round_start.py``
min-merges it into the BENCH_FULL.json floor) and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The set covers every execution shape the engine claims: scan-heavy
multi-agg, selective join + top-k, window trend, regex-chain text
cleaning, lexicon sentiment, exact + LSH + relational dedup,
similarity search, and the full LDA topic pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    get_spark,
    release_blocks,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # Warm the JVM once so per-query times measure the plans, not
    # first-touch JIT: a tiny aggregate (codegen paths), a tiny
    # online-LDA fit (MLlib/breeze JIT — otherwise the first fit pays
    # ~3s of compilation), and a tiny pandas-UDF roundtrip (Arrow
    # serialization path).
    spark.range(32).groupBy((F.col("id") % 4).alias("g")).count().count()
    tiny = spark.range(32).select(
        F.col("id"), F.array(F.lit("a"), F.lit("b")).alias("tokens")
    )
    try:
        from bbcnews_scraper_nlp_spark.operators.topics import lda_pipeline

        lda_pipeline(tiny, "id", "tokens", k=2, max_iter=2, min_df=1.0).count()
    except Exception:
        pass
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        kmdf = spark.range(8).select(
            array_to_vector(
                F.array((F.col("id") % 2).cast("double"), F.lit(0.0))
            ).alias("__v")
        )
        KMeans(k=2, seed=1, featuresCol="__v", maxIter=2).fit(kmdf)
    except Exception:
        pass
    tiny.mapInPandas(lambda it: it, "id long, tokens array<string>").count()
    # ... and one miniature stream-stream join drain: the first
    # streaming query of that shape pays ~3-4s of state-store
    # provider/class init that otherwise lands on whichever
    # streaming_* entry runs first (measured: 9.4s first vs 2.6s
    # steady for the same drain).
    try:
        import tempfile

        from bbcnews_scraper_nlp_spark.streaming.ingest import (
            interval_join_clicks_views,
            scoped_state_partitions,
        )

        wdir = tempfile.mkdtemp(prefix="bench_warm_")
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "user_id int, ts string"
        ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts").write.mode(
            "overwrite"
        ).parquet(f"{wdir}/ev")
        sch = spark.read.parquet(f"{wdir}/ev").schema
        s = spark.readStream.schema(sch).parquet(f"{wdir}/ev")
        c = s.select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts"))
        v = s.select(F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts"))
        with scoped_state_partitions(spark):
            q = (
                interval_join_clicks_views(c, v)
                .writeStream.outputMode("append")
                .format("memory")
                .queryName("bench_warm_ssj")
                .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_w_"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    except Exception:
        pass

    # Best of 2 full executions per query: single-shot times swing
    # 1.5-2x from JIT/GC/AQE noise in one JVM; the min measures the
    # plan. Each run re-executes end to end (operator-internal caches
    # are per-invocation DataFrames, never reused across runs).
    # Per-query fault isolation: one red query must never zero out
    # the round's perf evidence (rounds 2-3 produced NO bench JSON
    # because the runner died at the first failing query). Failures
    # are reported in an "errors" key; timing totals cover the
    # queries that ran. Each query's blocks are released (untimed) so
    # the next one starts from an empty storage pool: accumulated
    # blocks otherwise push mid-run queries into eviction thrash
    # (observed 5x on dedup_minhash_lsh mid-run vs fresh-JVM).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, q in REGISTRY.items():
        best, n = float("inf"), 0
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                n = df.count()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: FAILED ({errors[name][:120]})", file=sys.stderr)
        finally:
            release_blocks(spark)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # The driver's artifact keeps only the LAST ~1900 bytes of stdout
    # (BENCH_r06.json: "tail" holds the end of the JSON, "parsed":
    # null because the head was cut). Full per-query timings therefore
    # go to BENCH_RAW.json (named by the "full" key), and stdout gets
    # ONE compact line guaranteed to fit the tail window whole.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if errors:
        full["errors"] = errors
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RAW.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    # Headline subset: the perf-critical operators the verdicts track
    # (dedup family, ANN, pipeline composite, graph, streaming,
    # sentiment/clean chains) — chosen so the compact line stays well
    # under the driver's tail capture.
    headline = [
        "prepare_corpus_pipeline",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_minhash_clusters",
        "dedup_cc_clusters",
        "dedup_simhash",
        "dedup_exact_content",
        "semdedup_embeddings",
        "ann_topk_cosine",
        "ann_topk_batch",
        "similarity_pq_adc_topk",
        "bm25_topk_docs",
        "tpch_q1_pricing_summary",
        "tpch_q9_product_profit",
        "tpch_q21_waiting_suppliers",
        "p4_p12_clean_text",
        "m6_m7_sentiment_scores",
        "lda_topics",
        "s4_html_extract",
        "streaming_interval_join_outer",
        "pagerank_copurchase",
        "shortest_paths_suppliers",
        "textrank_keywords",
        "pii_scrub_text",
        "chunk_documents",
        "fuzzy_entity_clusters",
    ]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "full": "BENCH_RAW.json",
        "queries": {n: timings[n] for n in headline if n in timings},
    }
    line = json.dumps(out, separators=(",", ":"))
    # Hard guarantee: the line must survive a ~1900-byte tail capture.
    while len(line) > 1500 and out["queries"]:
        out["queries"].popitem()
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
