"""Workload definitions, the op -> layer table and the metric names.

A workload is a list of registry queries (ops) run against one generated
input. Each op ends in a sink that reads every output column:

- ``checksum``: row count plus ``sum(xxhash64(all columns) & 0xFFFFFFFF)``
  (the mask keeps the sum inside a long under ANSI mode);
- ``append``: ``stage_io.append_stage`` into the pass's own stage root;
- ``upsert``: ``stage_io.upsert_skip`` keyed on ``url`` into a stage root
  shared by every pass of the run (re-crawled articles append nothing);
- ``csv``: ``stage_io.export_csv`` of every column into the pass's root.

Which end-to-end metric each layer metric should move (written before
measuring; ``L`` is a layer, ``op.<query>.s`` follows its layer):

| layer metric                              | moves                | on             | should stay flat on                          |
|-------------------------------------------|----------------------|----------------|----------------------------------------------|
| functions.*.s, functions.*.cpu_util       | wall_s               | news_dag       | analyst_graph                                |
| operators.topics.build_s, .jobs           | wall_s               | news_dag       | analyst_graph                                |
| operators.graph/dedup .jobs, .build_s     | wall_s, op_geomean_s | analyst_graph  | news_dag                                     |
| operators.relational/similarity .tasks,   |                      |                |                                              |
|   .shuffle_bytes, .spill_bytes            | wall_s               | analyst_graph  | operators.graph/dedup .s must not rise       |
| sources.stage_io.write_s, .bytes_written, |                      |                |                                              |
|   .files_written                          | wall_s               | news_dag       | analyst_graph (read-only)                    |
| catalog.input_bytes                       | wall_s               | analyst_graph  | -                                            |
| session.warm_s                            | setup_s              | all            | warm-up moved into an op: setup_s down,      |
|                                           |                      |                | wall_s up                                    |
"""

from __future__ import annotations

from collections import Counter

# op -> (layer, sink). The layer is the package module doing the op's work.
# The comments give one traced warm pass at sf0.01 on a 4-vCPU VM (seeds
# 501 to 506): op seconds as build + exec, Spark jobs (tasks), shuffle
# read + write bytes. Build is everything before the sink starts, eager
# checkpoints and streaming drains included. At this size every op is
# bound by per-job and per-plan overhead, not by data volume.
NEWS_DAG = {  # 500 documents, 10 000 events; ~9 s a pass
    "streaming_dedup": ("streaming", "append"),  # 1.4 + 0.2 s, 4 jobs (22), 648 kB
    "s2_sitemap_parse": ("sources.sitemap", "append"),  # 0.2 + 0.3 s, 2 jobs (2), 0 B
    "s4_html_extract": ("sources.html_extract", "upsert"),  # 0.3 + 0.9 s, 6 jobs (10), 177 kB
    "p4_p12_clean_text": ("functions.text_clean", "append"),  # 0.5 + 0.3 s, 3 jobs (6), 168 kB
    "p13_lemmatize": ("functions.lemmatize", "append"),  # 0.9 + 0.4 s, 3 jobs (6), 168 kB
    "lda_topics": ("operators.topics", "append"),  # 2.4 + 0.8 s, 32 jobs (54), 196 kB
    "m6_m7_sentiment_scores": ("functions.sentiment", "append"),  # 0.2 + 0.3 s, 3 jobs (6), 168 kB
    "w1_rolling_trend": ("operators.relational", "csv"),  # 0.2 + 0.4 s, 4 jobs (4), 13 kB
}

# Read-only analyst queries and checkpoint-heavy fixpoints in one workload:
# a run of each workload pays a JVM start and a cold pass (15-25 s), and
# two workloads are what the benchmark's whole time budget holds.
ANALYST_GRAPH = {  # 60 000 lineitem, 15 000 orders, 500 documents, 100 suppliers; ~7-8 s a pass
    "tpch_q3_top_revenue": ("operators.relational", "checksum"),  # 0.5 + 0.4 s, 7 jobs (7), 61 kB
    "tpch_q21_waiting_suppliers": ("operators.relational", "checksum"),  # 0.6 + 0.8 s, 10 jobs (10), 1.2 MB
    "ann_topk_cosine": ("operators.similarity", "checksum"),  # 0.4 + 0.4 s, 5 jobs (12), 268 kB
    "dedup_cc_clusters": ("operators.dedup", "checksum"),  # 3.5 + 0.3 s, 52 jobs (60), 242 kB
    "kcore_suppliers": ("operators.graph", "checksum"),  # 2.9 + 0.4 s, 37 jobs (45), 3.7 MB
}

# name -> (ops, generator scale factor)
WORKLOADS = {
    "news_dag": (NEWS_DAG, 0.01),
    "analyst_graph": (ANALYST_GRAPH, 0.01),
}

OP_LAYERS = sorted({layer for ops, _ in WORKLOADS.values() for layer, _ in ops.values()})
GENERIC = ("s", "build_s", "exec_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "failed_tasks", "cpu_util")
UNITS = {
    "s": "s", "build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "failed_tasks": "count", "cpu_util": "ratio",
}
# (name, unit, better) for metrics that belong to one layer only
SPECIFIC = (
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("catalog.input_bytes", "bytes", "lower"),
    ("sources.stage_io.write_s", "s", "lower"),
    ("sources.stage_io.bytes_written", "bytes", "lower"),
    ("sources.stage_io.files_written", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.skipped_stages", "count", "higher"),
)


def shared_layer_ops() -> list[str]:
    """Ops whose layer also does other ops. Every other op is the only op
    of its layer, so its ``op.<query>.s`` and ``.jobs`` would repeat
    ``<layer>.s`` and ``.jobs``; they are left out to stay within 128."""
    layer_of = {op: layer for ops, _ in WORKLOADS.values() for op, (layer, _) in ops.items()}
    n = Counter(layer_of.values())
    return sorted(op for op, layer in layer_of.items() if n[layer] > 1)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run prints."""
    out = [
        (f"{layer}.{m}", UNITS[m], "higher" if m == "cpu_util" else "lower")
        for layer in OP_LAYERS
        for m in GENERIC
    ]
    per_op = [(f"op.{op}.{m}", UNITS[m], "lower") for op in shared_layer_ops() for m in ("s", "jobs")]
    return out + list(SPECIFIC) + per_op
