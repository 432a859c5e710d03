"""Benchmark runner (driver contract).

Runs every registry query, in registry order, at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], each
through ``time_query``. Writes the raw per-query timings to
BENCH_RAW.json (``tools/round_start.py`` min-merges its ``queries``
map into the BENCH_FULL.json floor), with each query's full
``time_query`` record under ``records``, and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
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
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    codegen_stats,
    get_spark,
    release_blocks,
)
from perfbench.counters import last_job_id  # noqa: E402

# Best of 2 full executions per query: single-shot times swing 1.5-2x
# from JIT/GC/AQE noise in one JVM, and the first run also pays
# first-touch JIT and class loading for its operators; the min keeps
# the warm run and measures the plan. Each run re-executes end to end
# (operator-internal caches are per-invocation DataFrames, never
# reused across runs).
REPS = 2


def time_query(spark, name: str, sf_dir: str) -> dict:
    """Time registry query ``name``: ``REPS`` runs, keep the fastest.

    Each run times ``fn(spark, sf_dir)`` as ``build_s`` (Python, Catalyst
    analysis, eager checkpoint jobs) and ``.count()`` as ``exec_s``. A
    ``streaming_*`` query runs its stream to completion inside ``fn``
    (through ``streaming.ingest.drain``, the one memory sink, unless it
    keeps foreachBatch state), so its ``build_s`` includes the drain
    and ``exec_s`` only reads the result. It
    also records ``rows``, the ``jobs`` it started (the job-id range
    from ``first_job``, which counts streaming micro-batch jobs too) and
    the codegen ``compiles``/``compile_s`` it paid. The runs' jobs carry
    ``name`` as their Spark job description, cleared when the runs end
    (a stream's micro-batch jobs keep Spark's per-batch description).
    The record is the best run's fields plus ``best_s`` = build_s +
    exec_s and every run under ``runs``. If any run raises, the record
    is ``{"error": ...}`` with no timing: a query that fails half the
    time is not benched.
    Bookkeeping runs outside the timed regions. The query's blocks are
    released (untimed) in a ``finally`` so the next query starts from an
    empty storage pool: accumulated blocks otherwise push mid-run
    queries into eviction thrash (observed 5x on dedup_minhash_lsh
    mid-run vs fresh-JVM). A release that raises is reported and does
    not end the caller's loop.
    """
    sc = spark.sparkContext
    runs = []
    try:
        sc.setJobDescription(name)
        for _ in range(REPS):
            job0, (compiles0, compile_s0) = last_job_id(sc), codegen_stats(spark)
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            rows = df.count()
            t2 = time.perf_counter()
            compiles, compile_s = codegen_stats(spark)
            runs.append({
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "rows": rows,
                "first_job": job0 + 1,
                "jobs": last_job_id(sc) - job0,
                "compiles": compiles - compiles0,
                "compile_s": round(compile_s - compile_s0, 3),
            })
        best = min(runs, key=lambda r: r["build_s"] + r["exec_s"])
        rec = {**best, "best_s": round(best["build_s"] + best["exec_s"], 3), "runs": runs}
        print(f"# {name}: {rec['best_s']:.3f}s ({rec['rows']} rows)", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        rec = {"error": f"{type(e).__name__}: {e}"[:300]}
        print(f"# {name}: FAILED ({rec['error'][:160]})", file=sys.stderr)
    finally:
        sc.setLocalProperty("spark.job.description", None)
        try:
            release_blocks(spark)
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # Per-query fault isolation: one red query must never zero out
    # the round's perf evidence (rounds 2-3 produced NO bench JSON
    # because the runner died at the first failing query). Failures
    # are reported in an "errors" key; timing totals cover the
    # queries that ran.
    records = {name: time_query(spark, name, sf_dir) for name in REGISTRY}
    timings = {n: r["best_s"] for n, r in records.items() if "error" not in r}
    errors = {n: r["error"] for n, r in records.items() if "error" in r}

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
        "records": records,
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
