"""BENCHMARK.json names exactly what the benchmark prints."""

import json
import os

import run
import workloads


def load():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in load()["workloads"]] == list(workloads.WORKLOADS)


def test_per_layer_metrics_match():
    declared = [(m["name"], m["unit"], m["better"]) for m in load()["per_layer"]]
    assert declared == workloads.per_layer_metrics()
    assert len(declared) <= 128


def test_every_op_has_an_oracle_and_a_known_sink():
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    for ops, _ in workloads.WORKLOADS.values():
        for op, (layer, sink) in ops.items():
            assert REGISTRY[op].sql is not None, op
            assert sink in ("checksum", "append", "upsert", "csv"), op
            assert layer in workloads.OP_LAYERS
