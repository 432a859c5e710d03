"""``bench.time_query``: the one timing loop every runner uses."""

from __future__ import annotations

import pytest

import bench
from bbcnews_scraper_nlp_spark.queries import REGISTRY
from bbcnews_scraper_nlp_spark.queries_base import Query


def test_time_query_record_fields(spark, sf_dir):
    rec = bench.time_query(spark, "w1_rolling_trend", sf_dir)
    assert "error" not in rec
    assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["best_s"], abs=1e-9)
    assert rec["best_s"] == pytest.approx(
        min(r["build_s"] + r["exec_s"] for r in rec["runs"]), abs=1e-9
    )
    assert len(rec["runs"]) == bench.REPS
    assert rec["jobs"] >= 1
    assert rec["compiles"] >= 0 and rec["compile_s"] >= 0
    assert rec["rows"] == REGISTRY["w1_rolling_trend"].fn(spark, sf_dir).count()


def test_time_query_partial_failure_is_an_error(spark, monkeypatch):
    # Run 1 succeeds and run 2 raises: the query is an error with no
    # timing. A raising release still runs and does not stop the next
    # query from being timed.
    calls = {"flaky": 0}

    def persisted(spark):
        df = spark.range(100).persist()
        df.count()
        return df

    def flaky(spark, sf_dir):
        calls["flaky"] += 1
        if calls["flaky"] == 2:
            raise RuntimeError("second run fails")
        return persisted(spark)

    real_release = bench.release_blocks

    def release_then_raise(spark):
        real_release(spark)
        raise RuntimeError("release failed")

    monkeypatch.setitem(REGISTRY, "_flaky", Query(flaky, None))
    monkeypatch.setitem(REGISTRY, "_steady", Query(lambda s, _: persisted(s), None))
    monkeypatch.setattr(bench, "release_blocks", release_then_raise)

    records = {n: bench.time_query(spark, n, "") for n in ("_flaky", "_steady")}

    assert records["_flaky"] == {"error": "RuntimeError: second run fails"}
    assert records["_steady"]["rows"] == 100
    assert records["_steady"]["best_s"] > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_time_query_names_its_jobs(spark, sf_dir):
    rec = bench.time_query(spark, "w1_rolling_trend", sf_dir)
    store = spark.sparkContext._jsc.sc().statusStore()
    for run in rec["runs"]:
        for job_id in range(run["first_job"], run["first_job"] + run["jobs"]):
            desc = store.job(job_id).description()
            assert desc.isDefined() and desc.get() == "w1_rolling_trend", job_id
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
