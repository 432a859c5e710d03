"""Pins the raw run-record schema and per-op fault isolation.

Runs a four-op workload end to end (own Spark session): one op that
always raises must be logged, counted and skipped, and the run must go on.
"""

from dataclasses import fields

import pytest

from bbcnews_scraper_nlp_spark.queries import REGISTRY
from bbcnews_scraper_nlp_spark.queries_base import Query

import harness
import run
import workloads

RECORD_KEYS = {
    "schema", "workload", "seed", "seconds", "trace", "started", "env", "summary",
    "ops", "failures", "correct", "attempted", "failed", "metrics",
}
ENV_KEYS = {"git_commit", "cores", "driver_mem", "pyspark", "python", "seed"}


def boom(spark, sf_dir):
    raise RuntimeError("planted failure")


@pytest.fixture
def tiny_workload(monkeypatch):
    monkeypatch.setitem(REGISTRY, "pytest_boom", Query(boom, None))
    ops = {
        "a1_count_rows": ("operators.relational", "checksum"),
        "s2_sitemap_parse": ("sources.sitemap", "append"),
        "streaming_dedup": ("streaming", "checksum"),
        "pytest_boom": ("operators.relational", "checksum"),
    }
    monkeypatch.setitem(workloads.WORKLOADS, "pytest_tiny", (ops, 0.001))
    return "pytest_tiny"


def test_traced_run_record(tiny_workload):
    r = harness.Run(tiny_workload, seed=3, seconds=0, trace=True, root=run.ROOT, work=run.WORK)
    result = r.execute()
    rec = r.record(result, started=0.0)

    assert set(rec) == RECORD_KEYS
    assert rec["schema"] == harness.RECORD_SCHEMA
    assert set(rec["env"]) == ENV_KEYS
    assert {f.name for f in fields(harness.OpRun)} == set(rec["ops"][0])

    passes = 1 + harness.MIN_PASSES
    assert rec["attempted"] == 4 * passes
    assert rec["failed"] == passes  # only the planted op, once per pass
    assert not rec["correct"]
    assert {f["op"] for f in rec["failures"]} == {"pytest_boom"}
    assert all(o["ok"] for o in rec["ops"] if o["op"] != "pytest_boom")

    names = {name for name, _, _ in workloads.per_layer_metrics()}
    assert set(rec["metrics"]) == names
    assert all(set(m) == {"value", "unit"} for m in rec["metrics"].values())
    assert rec["metrics"]["operators.relational.jobs"]["value"] >= 1
    assert rec["metrics"]["sources.stage_io.files_written"]["value"] >= 1
    # the stream's micro-batches run under its own job group and still count:
    # one schema job and one result job are in the op's groups, the rest not
    assert rec["metrics"]["streaming.jobs"]["value"] >= 3


def test_run_ends_when_every_op_fails(monkeypatch):
    monkeypatch.setitem(REGISTRY, "pytest_boom", Query(boom, None))
    ops = {"pytest_boom": ("operators.relational", "checksum")}
    monkeypatch.setitem(workloads.WORKLOADS, "pytest_all_fail", (ops, 0.001))
    r = harness.Run("pytest_all_fail", seed=3, seconds=5, trace=False, root=run.ROOT, work=run.WORK)
    result = r.execute()
    # pass 0 and one timed pass, then the loop stops: no time was measured
    assert (result["attempted"], result["failed"], result["correct"]) == (2, 2, False)
