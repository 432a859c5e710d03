"""Physical-plan contracts for hot-path queries.

These lock in the plan properties PLANS.md claims — a regression that
reintroduces a Python eval node, loses a broadcast, or drops a
pushed filter should fail CI, not surface as a 10x slowdown at scale.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from bbcnews_scraper_nlp_spark.queries import REGISTRY


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name",
    ["p13_lemmatize", "sentiment_full_lexicon", "f1_contains_filter",
     "a6_top_orders", "tpch_q6_revenue_scan", "nb_lang_confusion",
     "item_item_recs_topk", "query_likelihood_topk",
     "rake_keyphrases", "kmv_distinct_setops",
     "nb_lang_confusion_hashed"],
)
def test_no_python_eval_nodes(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        f"{name} regressed to a Python eval node"
    )


def test_sentiment_lexicon_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sentiment_full_lexicon")
    assert "BroadcastHashJoin" in plan  # 2.1k-row lexicon must broadcast
    # shuffles: widen repartition + the per-doc re-aggregation, plus
    # the lexicon BroadcastExchange — the join must NOT add a fact-side
    # Exchange (count node-detail headers, each node appears once)
    nodes = re.findall(r"^\(\d+\) (?:Broadcast)?Exchange", plan, re.M)
    assert len(nodes) <= 3, nodes


def test_f1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "f1_contains_filter")
    assert re.search(r"PushedFilters:.*StringContains", plan), plan[:800]


def test_top_orders_uses_takeordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a6_top_orders")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort


def test_q6_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6_revenue_scan")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual" in m.group(1) and "LessThan" in m.group(1)


# ---- expensive-tier contracts (round 5) --------------------------------


def test_minhash_signature_stage_is_codegen_hashagg(spark, sf_dir):
    # The signature stage must be min(pmod(a*h+b, P)) hash aggregation
    # with MAP-SIDE partials (whole-stage-codegen), never an
    # interpreted aggregate() HOF fold over shingle arrays (3.5x
    # measured regression), and never a Python eval node.
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert re.search(r"partial_min\(pmod\(", plan), (
        "signature stage lost its map-side partial min"
    )
    assert "aggregate(" not in plan, "interpreted HOF fold reappeared"
    assert "EvalPython" not in plan


def test_bloom_semi_join_gather_is_only_python(spark, sf_dir):
    # Bitmap build is a distributed BIT_OR aggregate (relational.py:
    # bloom build — keys never reach the driver; only <= n_bits/64
    # bitmap words do). The probe side is ONE vectorized Arrow gather
    # plus an exact LeftSemi cleanup — any BatchEvalPython
    # (row-at-a-time) or loss of the semi join is a regression.
    plan = _plan(spark, sf_dir, "bloom_semi_join_lineitems")
    assert "BatchEvalPython" not in plan, "row-at-a-time Python reappeared"
    assert "ArrowEvalPython" in plan  # the vectorized gather
    assert "LeftSemi" in plan  # exact cleanup join survives
    assert "xxhash64" in plan  # JVM-side hash positions, not Python


def test_range_join_no_nested_loop(spark, sf_dir):
    # The ship-window range join must stay an equi-join on the
    # coarse time bucket + residual range filter — never degrade to
    # BroadcastNestedLoopJoin / CartesianProduct (O(n*m) at scale).
    plan = _plan(spark, sf_dir, "range_join_ship_window")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_contamination_check_broadcasts_benchmark(spark, sf_dir):
    # The benchmark (contaminant) side is tiny relative to the
    # corpus: it must broadcast; a shuffle join here moves the whole
    # corpus n-gram table at 100 TB.
    plan = _plan(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_pattern_sentiment_single_shuffle_no_python(spark, sf_dir):
    # pattern_scores: lexicon broadcast + ONE doc-key shuffle shared
    # by the LAG/LEAD window and the re-aggregation (Exchange reuse),
    # zero Python, no rejoin for zero-hit docs (conditional agg).
    plan = _plan(spark, sf_dir, "sentiment_pattern_rules")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # 2.1k-row lexicon broadcast
    assert len(re.findall(r"\(\d+\) (?:SortMerge|ShuffledHash)Join", plan)) == 0
    # exchanges: widen-scan repartition + broadcast + the single
    # window/agg shuffle — a lost partitioning reuse would add more
    assert len(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan)) <= 3


def test_time_bucket_rollup_single_expand(spark, sf_dir):
    # ROLLUP grouping sets must compile to exactly ONE Expand node
    # feeding one aggregation — re-expressing it as a union of
    # per-level aggregates would rescan the fact table per level.
    plan = _plan(spark, sf_dir, "time_bucket_rollup")
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1


# ---- round-5 session-2 contracts ---------------------------------------


def test_semdedup_no_cartesian_and_no_python(spark, sf_dir):
    # the only nested-loop joins allowed are the broadcast x 16-row
    # centroid table (cell assignment); the within-cell pair pass must
    # be a hash/merge join on the cell key, never CartesianProduct;
    # the whole operator stays JVM-side
    plan = _plan(spark, sf_dir, "semdedup_embeddings")
    assert "CartesianProduct" not in plan, "pair pass lost its cell key"
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan  # centroid table broadcast


def test_pq_adc_broadcast_and_topk(spark, sf_dir):
    # codebook + query distance table must broadcast (codes side never
    # shuffles for the joins) and the final top-k must be per-partition
    # heaps, not a global sort
    plan = _plan(spark, sf_dir, "similarity_pq_adc_topk")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_dsir_stats_join_broadcast_pure_jvm(spark, sf_dir):
    # the 4096-row bucket-stats table must broadcast onto the gram
    # stream (documents never shuffle for the join); the op is pure
    # Catalyst — no Python eval nodes anywhere
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_video_meta_is_map_only(spark, sf_dir):
    # attach + demux are projection/mapInPandas stages: no key shuffle
    # anywhere (the widen repartition is round-robin, not a join/agg
    # exchange)
    plan = _plan(spark, sf_dir, "multimodal_video_meta")
    assert "hashpartitioning" not in plan, "video meta gained a key shuffle"


def test_ivfadc_broadcast_index_and_topk(spark, sf_dir):
    # centroids/codebooks/distance table all broadcast; candidate
    # scoring joins codes on (cell, j, code) — no CartesianProduct,
    # no Python nodes, top-k via per-partition heaps
    plan = _plan(spark, sf_dir, "similarity_ivfadc_topk")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_lsh_batch_join_is_hash_not_nested_loop(spark, sf_dir):
    # probe-bucket explode keeps the query join a hash join; an
    # OR-condition (base-or-split bucket) would silently degenerate
    # to BroadcastNestedLoopJoin and score the whole corpus per query
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    df = S.rp_lsh_topk_batch(
        emb, "embedding", "vec_id", q, "qid", "embedding", dim=64
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]
    assert "CartesianProduct" not in plan
    # the full ann_recall_eval plan keeps exactly the ONE intended
    # nested-loop: the exact baseline's broadcast crossJoin
    full = _plan(spark, sf_dir, "ann_recall_eval")
    assert full.count("BroadcastNestedLoopJoin") <= 2  # node + detail


def test_pagerank_edges_reused_across_iterations(spark, sf_dir):
    # the iteration joins must read the persisted edge/node tables,
    # not re-derive the orders-x-lineitem subtree per iteration
    plan = _plan(spark, sf_dir, "pagerank_copurchase")
    assert "InMemoryTableScan" in plan, "edge persist lost"
    assert "CartesianProduct" not in plan


def test_prefix_sum_windows_are_bucket_partitioned(spark, sf_dir):
    # the full-data window must be partitioned by the range bucket;
    # a single-partition exchange may only feed the 256-row totals
    # window (and the final collect), never the full corpus
    plan = _plan(spark, sf_dir, "corpus_token_offsets")
    assert re.search(r"hashpartitioning\(__bucket", plan), plan[:1500]
    full_windows = re.findall(r"^\(\d+\) Window", plan, re.M)
    assert len(full_windows) == 2, full_windows


def test_vocab_probe_is_broadcast(spark, sf_dir):
    # the top-100 vocab membership probe must broadcast — the corpus
    # token table never shuffles for the join
    plan = _plan(spark, sf_dir, "vocab_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-K vocab, no full sort


def test_link_prediction_pairs_via_codegen_join(spark, sf_dir):
    # pair generation must be the customer-keyed equi join (codegen,
    # AQE-skew-splittable) — never a nested loop, never an
    # interpreted HOF pair explosion
    plan = _plan(spark, sf_dir, "link_prediction_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20, no global sort


def test_bm25_idf_broadcasts_and_prunes_terms(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bm25_topk_docs")
    assert "BroadcastHashJoin" in plan  # 3-row idf side broadcasts
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cms_probe_broadcasts_sketch_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cms_user_event_counts")
    # the depth x width counter table must be the broadcast BUILD side
    # of the probe join — the probe stream never shuffles for it
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_zorder_cells_takeordered_no_shuffle_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "zorder_event_cells")
    # interleave is a pure codegen projection; output is capped by a
    # per-partition heap, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the only exchange is the widen repartition (+ its AQE shuffle
    # read); the z computation itself must add none
    nodes = re.findall(r"^\(\d+\) (?:Broadcast)?Exchange", plan, re.M)
    assert len(nodes) <= 1, nodes


def test_scalar_quant_stats_broadcast_vectors_never_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_scalar_quant")
    # 1-row min/max stats broadcast onto the scan: a nested-loop
    # against ONE row is the intended broadcast shape; the only
    # allowed Exchange is the stats aggregate's SinglePartition
    # combine (<= n_tasks rows) on the BUILD side — the vector table
    # itself never shuffles
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    nodes = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(nodes) <= 1, nodes
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_shortest_paths_no_python_joins_on_node(spark, sf_dir):
    plan = _plan(spark, sf_dir, "shortest_paths_suppliers")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # since r13 each hop ends in a LAZY localCheckpoint (the carry +
    # relax double reference doubled the analyzed tree per hop), so
    # the final plan reads the hop-4 checkpoint
    assert "Scan ExistingRDD" in plan
    # the persisted-cut contract moves to the operator level: a hop
    # frame over persisted edges must read InMemoryTableScan, and the
    # checkpoint boundary truncates the carried lineage
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.graph import (
        bounded_shortest_paths,
    )

    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7), (1, 3, 20)], "src int, dst int, w int"
    ).persist()
    try:
        out = bounded_shortest_paths(
            e, "src", "dst", "w",
            e.agg(F.min("src").alias("node")), hops=2,
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        hop_plan = buf.getvalue()
        assert "Scan ExistingRDD" in hop_plan
        rows = {tuple(r) for r in out.collect()}
        assert rows == {(1, 0), (2, 5), (3, 12)}
    finally:
        e.unpersist()


def test_textrank_no_python_uses_takeordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "textrank_keywords")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # vocab cut + final keyword cut are per-partition heaps
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    ["multimodal_image_decode", "multimodal_image_resize",
     "multimodal_gif_decode", "multimodal_jpeg_decode",
     "multimodal_jpeg_sa_decode", "multimodal_jpeg_color_decode",
     "multimodal_audio_decode", "multimodal_g711_decode",
     "multimodal_audio_meta", "multimodal_video_meta",
     "multimodal_video_frames", "multimodal_video_frame_decode"],
)
def test_codec_decode_payloads_never_shuffle(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # synth (pandas_udf) -> decode (mapInPandas) must be consecutive
    # narrow map stages: every Exchange sits BELOW the payload synth
    # (the widen repartition moves 8-byte ids), never above it —
    # binary payloads never shuffle, the property that matters when
    # media is MB/row at 100 TB. Node ids grow toward the root in
    # explain("formatted"), so assert max(Exchange id) < synth id.
    assert "MapInPandas" in plan
    synth = [int(m) for m in re.findall(r"^\((\d+)\) ArrowEvalPython", plan, re.M)]
    exchanges = [
        int(m)
        for m in re.findall(r"^\((\d+)\) (?:Broadcast)?Exchange", plan, re.M)
    ]
    assert synth, plan[:400]
    assert all(e < min(synth) for e in exchanges), (
        f"{name} shuffles its payloads: exchanges {exchanges} above "
        f"synth {synth}"
    )


@pytest.mark.parametrize(
    "name",
    ["hard_negatives_topk", "dedup_embedding_cosine",
     "semdedup_embeddings", "ann_topk_batch",
     "similarity_ivf_fixed_topk", "similarity_ivfadc_topk"],
)
def test_pair_scoring_norms_hoisted(spark, sf_dir, name):
    """Pair/fan-out cosine loops must score with a precomputed norm:
    no physical node may evaluate SQRT (a norm) in the same
    projection as zip_with (a pair dot product). Regressing this
    recomputes each vector's norm once per partner — 3x the
    interpreted-HOF work on the operator's dominant stage (measured
    18.2s -> 8.6s on hard_negatives_topk at sf0.1)."""
    plan = _plan(spark, sf_dir, name)
    blocks = re.split(r"\n\s*\n", plan)
    offenders = [
        b.splitlines()[0]
        for b in blocks
        if "SQRT" in b and "zip_with" in b
    ]
    assert not offenders, (
        f"{name} computes norms inside a pair-scoring node: {offenders}"
    )


def test_kmv_topk_is_two_level_window_group_limit(spark, sf_dir):
    """kmv_distinct_setops: the k-min rank window must plan as the
    two-level WindowGroupLimit — a PARTIAL per-partition top-k below
    the group Exchange and the final one above it. This is the
    property that makes the sketch 100 TB-safe (only <= k rows per
    (partition, group) shuffle); losing it re-shuffles every
    distinct (group, hash) row."""
    plan = _plan(spark, sf_dir, "kmv_distinct_setops")
    nodes = re.findall(r"^\s*:?\s*\+?- (WindowGroupLimit|Exchange)",
                       plan, re.M)
    # at least one WindowGroupLimit pair sandwiching an Exchange
    joined = ">".join(nodes)
    assert "WindowGroupLimit>Exchange>WindowGroupLimit" in joined, nodes
    detail = re.findall(r"\(\d+\) WindowGroupLimit\n(?:.*\n)*?"
                        r"Arguments: .*?(Partial|Final)", plan)
    assert "Partial" in detail and "Final" in detail, detail


def test_nb_class_stats_broadcast_no_cartesian(spark, sf_dir):
    """nb_lang_confusion: the few-row class-stats fan-outs must be
    broadcast nested-loop (BuildRight) — never CartesianProduct —
    and the (token, class) model join must stay a hash join."""
    plan = _plan(spark, sf_dir, "nb_lang_confusion")
    assert "CartesianProduct" not in plan, plan[:400]
    assert re.search(r"BroadcastNestedLoopJoin \w+ BuildRight", plan)


def test_item_cf_no_cartesian_no_python(spark, sf_dir):
    """item_item_recs_topk: pair-gen must be the user-keyed hash
    self-join (codegen, AQE-skew-splittable) — no nested-loop or
    Python nodes anywhere."""
    plan = _plan(spark, sf_dir, "item_item_recs_topk")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in item_item_recs_topk plan"


def test_hard_negatives_window_reuses_anchor_partitioning(spark, sf_dir):
    """hard_negatives_topk pins the negative side as the broadcast
    BUILD side (F.broadcast(b)); BroadcastNestedLoopJoin then
    preserves the streamed anchor side's hashpartitioning(anchor_id),
    so the rank window sits directly on the join output. The plan
    must contain exactly ONE shuffle Exchange (the tiny anchor table,
    pre-pair) — a second one means the n^2 pair rows are being
    shuffled, which is the failure mode if the planner flips the
    broadcast side."""
    plan = _plan(spark, sf_dir, "hard_negatives_topk")
    assert re.search(r"BroadcastNestedLoopJoin \w+ BuildRight", plan), (
        plan[:600]
    )
    hashed = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashed == ["anchor_id"], (
        f"expected the anchor-side shuffle only, got {hashed}"
    )


def test_nb_kfold_no_cartesian_no_python(spark, sf_dir):
    """nb_kfold_eval: the fold-grid fan-outs are driven by a
    broadcast k-row frame (BroadcastNestedLoopJoin/BroadcastHashJoin
    builds) — never CartesianProduct — and the per-fold model join
    stays JVM-side (no Python eval nodes)."""
    plan = _plan(spark, sf_dir, "nb_kfold_eval")
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in nb_kfold_eval plan"


def test_random_walks_persist_adjacency_once(spark, sf_dir):
    """graph_random_walks: the ranked adjacency table must be read
    from the persisted block (InMemoryTableScan) by every unrolled
    step — without it each step re-derives the kNN pair join (the
    pagerank edge-table contract). No Python nodes anywhere."""
    plan = _plan(spark, sf_dir, "graph_random_walks")
    assert "InMemoryTableScan" in plan, plan[:600]
    for bad in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct"):
        assert bad not in plan, f"{bad} in graph_random_walks plan"


def test_modularity_label_joins_no_python(spark, sf_dir):
    """community_modularity: the two label joins and both
    community-keyed aggs stay JVM-side; 2m fans out via a 1-row
    broadcast (BroadcastNestedLoopJoin), never CartesianProduct."""
    plan = _plan(spark, sf_dir, "community_modularity")
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in community_modularity plan"


def test_node2vec_no_python_no_cartesian(spark, sf_dir):
    """node2vec_biased_walks: candidate fan-out and near-flag probes
    are hash joins on node-shaped keys; the per-walk windows are
    partitioned (no single-task global window); zero Python nodes."""
    plan = _plan(spark, sf_dir, "node2vec_biased_walks")
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in node2vec_biased_walks plan"
    assert "InMemoryTableScan" in plan, plan[:600]


def test_ivm_join_delta_legs_broadcast(spark, sf_dir):
    """ivm_join_view_refresh: the three delta legs must carry the
    broadcast hint (BroadcastHashJoin builds) — a delta leg falling
    back to sort-merge means the refresh rescans/shuffles a base
    table, defeating the |delta|-bounded maintenance contract."""
    plan = _plan(spark, sf_dir, "ivm_join_view_refresh")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3, plan[:800]
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in ivm_join_view_refresh plan"


def test_c4_flags_no_python_no_cartesian(spark, sf_dir):
    """c4_quality_flags: sentence assembly, span hashing and all
    flag projections stay JVM-side; the sentence-rank span joins are
    equi-joins on (doc_id, rk) — never CartesianProduct; the
    sentence-id running sum is a doc_id-partitioned bounded frame
    (no single-task global window)."""
    plan = _plan(spark, sf_dir, "c4_quality_flags")
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in c4_quality_flags plan"
    # the (doc, sentence) table is checkpointed once: the final plan
    # reads ExistingRDD blocks and contains NO Generate (explode) —
    # without the materialization the token explode + running-sum
    # window re-derives per consumer (measured 6 copies: 3 span
    # aliases + agg + dps legs)
    assert "Scan ExistingRDD" in plan, plan[:600]
    assert "Generate" not in plan, "sentence explode re-derived"


def test_pmi_embedding_checkpoints_and_no_python(spark, sf_dir):
    """pmi_embedding_vectors: the walk corpus and PPMI matrix are
    materialized once (each M*v round reads checkpointed blocks, not
    the kNN pair join); per-dim rescale rides a broadcast 4-row
    frame; zero Python nodes, zero CartesianProduct."""
    plan = _plan(spark, sf_dir, "pmi_embedding_vectors")
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in pmi_embedding_vectors plan"
    # final iteration reads checkpointed RDD scans, not re-derived
    # lineage: Scan ExistingRDD appears for corpus/mat/vn/u blocks
    assert "Scan ExistingRDD" in plan, plan[:600]
    assert "BroadcastExchange" in plan, plan[:600]


def test_gopher_repetition_single_window_no_python(spark, sf_dir):
    """gopher_repetition_flags: every n-gram (n=2..10) must be a
    projection of the ONE checkpointed 9-deep LEAD window — no per-n
    re-explode of the corpus (the final plan reads ExistingRDD
    blocks, zero Generate nodes except the bounded per-duplicated-
    instance coverage sequences); no Python nodes, no cartesian."""
    plan = _plan(spark, sf_dir, "gopher_repetition_flags")
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in gopher_repetition_flags plan"
    assert "Scan ExistingRDD" in plan, plan[:600]
    # the only explodes left are the 6 coverage sequence fan-outs
    # (one per dup-n leg, each bounded by n rows per duplicated
    # instance) — a 7th means a gram leg regressed to re-exploding
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) <= 6, (
        "unexpected explode beyond the coverage legs"
    )


def test_embedding_recall_broadcast_pairs_no_dim_join(spark, sf_dir):
    """embedding_edge_recall: pair scoring must be the ANN-family
    shape — one side broadcast, dot product unrolled to codegen
    arithmetic — never a dim-keyed self-join (only |dims|=4 join
    keys: pathological reducer skew). No Python nodes; the kNN edge
    probe reads the checkpointed edge blocks."""
    plan = _plan(spark, sf_dir, "embedding_edge_recall")
    for bad in ("ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in embedding_edge_recall plan"
    assert "BroadcastNestedLoopJoin" in plan, plan[:600]
    assert "Scan ExistingRDD" in plan
    # a SortMergeJoin keyed on the dim column would be the skew shape
    assert not __import__("re").search(
        r"SortMergeJoin \[dim", plan
    ), "pair scoring regressed to the dim-keyed self-join"


# ---------------------------------------------------------------------------
# round-10 continuation queries
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["kmeans_lloyd_embeddings", "consistent_hash_shards",
     "temperature_mix_weights", "poisson_bootstrap_ci",
     "kl_divergence_sources", "bigram_llr_collocations",
     "degree_assortativity", "lsa_doc_embeddings",
     "url_canonicalize_dedup", "scd2_type_history", "calibration_ece"],
)
def test_r10b_no_python_no_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        f"{name} regressed to a Python eval node"
    )
    assert "CartesianProduct" not in plan, (
        f"{name} regressed to a cartesian product"
    )


def test_kmeans_persists_points_once(spark, sf_dir):
    # the quantized point table must come back from cache in the
    # final assignment (per-iteration passes already consumed it)
    plan = _plan(spark, sf_dir, "kmeans_lloyd_embeddings")
    assert "InMemoryTableScan" in plan, plan[:800]


def test_consistent_hash_assignment_is_projection(spark, sf_dir):
    # the HRW argmax must stay a pure projection: no join anywhere,
    # and the only exchanges carry the <=9-row count partials plus
    # the spine joins' broadcasts
    plan = _plan(spark, sf_dir, "consistent_hash_shards")
    assert "greatest" in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_poisson_bootstrap_single_replicate_agg(spark, sf_dir):
    # the 32x fan-out must be a projection (explode), collapsed by a
    # map-side-combined (type, b) hash agg — if the explode ever
    # lands above the aggregate the shuffle carries 32x rows
    plan = _plan(spark, sf_dir, "poisson_bootstrap_ci")
    gens = re.findall(r"^\(\d+\) Generate", plan, re.M)
    assert len(gens) == 1, gens
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_scd2_single_user_shuffle(spark, sf_dir):
    # LAG, running SUM, run-collapse agg and LEAD must all ride ONE
    # user-keyed exchange (plus AQE reads); a second hashpartitioning
    # on a different key means the islands chain broke
    plan = _plan(spark, sf_dir, "scd2_type_history")
    keys = set(re.findall(r"hashpartitioning\(([a-z_]+)#", plan))
    assert keys <= {"user_id"}, keys


def test_lsa_matrix_checkpointed_once(spark, sf_dir):
    # the tf-idf matrix feeds three multiply rounds; it must be a
    # checkpoint scan (ExistingRDD), not three re-derivations
    plan = _plan(spark, sf_dir, "lsa_doc_embeddings")
    assert "ExistingRDD" in plan or "InMemoryTableScan" in plan


def test_wordpiece_folds_over_types_only(spark, sf_dir):
    # the greedy-match HOF must sit above the word-TYPE distinct, and
    # there is no Python node anywhere
    plan = _plan(spark, sf_dir, "wordpiece_encode")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "aggregate(" in plan.lower()  # the fold expression survives


# ---------------------------------------------------------------
# round 11 contracts
# ---------------------------------------------------------------


def test_suffix_spans_no_cartesian_no_python_no_global_window(spark, sf_dir):
    """The suffix ranking must stay pure-JVM keyed joins/aggs: no
    Python nodes, no cartesian product, and the only unpartitioned
    window is the constant bucket-totals scan (merge islands and
    bucket windows are partitioned). A naive dense_rank would show a
    'Window' with an empty partition spec over the full pair table —
    locked out by forbidding single-partition Exchange on the big
    tables (SinglePartition appears only under broadcast-size
    subtrees)."""
    plan = _plan(spark, sf_dir, "suffix_array_spans")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_hilbert_is_map_only_codegen(spark, sf_dir):
    """2*bits Hilbert projections must fuse: no shuffle other than
    the final top-k and no Python anywhere."""
    plan = _plan(spark, sf_dir, "hilbert_event_cells")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_aho_corasick_single_arrow_stage(spark, sf_dir):
    """Matching must be exactly ONE Arrow-batched python stage (the
    goto/fail walk) — never a row-at-a-time PythonUDF."""
    plan = _plan(spark, sf_dir, "aho_corasick_matches")
    # formatted explain prints each node in the tree AND the detail
    # section — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_kneser_ney_single_token_shuffle_jvm_only(spark, sf_dir):
    """All KN smoothing statistics are marginals of the bigram table:
    no Python nodes, top-100 via TakeOrderedAndProject, and the NT
    side rides a broadcast (never an extra big exchange)."""
    plan = _plan(spark, sf_dir, "kneser_ney_bigram_lm")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_containment_topk_and_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "shingle_containment_pairs")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_butterfly_prune_precedes_item_explode(spark, sf_dir):
    """The co >= 2 prune must sit below the per-item union/agg (it
    exists to shrink that input); verify it survives optimization as
    a filter on the pair-count aggregate. Since r13 the post-prune
    pair table is eager-checkpointed (the broadcast global total
    otherwise re-executes the wedge self-join per consumer), so the
    prune contract is asserted on the pre-checkpoint pair frame and
    the checkpoint boundary + top-k on the full query plan."""
    plan = _plan(spark, sf_dir, "butterfly_counts_bipartite")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    # the full plan reads the checkpointed pair table, not a re-run
    # of the wedge join
    assert "Scan ExistingRDD" in plan, plan[:500]
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.operators.relational import cap_hot_keys

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ia = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    ia = cap_hot_keys(ia, "u", 10_000)
    a = ia.select("u", F.col("i").alias("i1"))
    b = ia.select("u", F.col("i").alias("i2"))
    pair = (
        a.join(b, "u")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= 2)
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        pair.explain("formatted")
    pplan = buf.getvalue()
    assert re.search(r"co#\d+L?\) >= 2|\(co.* >= 2\)", pplan), pplan[:500]


# ---------------------------------------------------------------
# round 12 contracts
# ---------------------------------------------------------------


def _draw_filter_contract(plan: str) -> None:
    """The draw must survive as a Filter condition (or fold into the
    deg-join condition) — never a Project/agg above the pair stage."""
    draw_lines = [ln for ln in plan.splitlines() if "dimsum-v1" in ln]
    assert draw_lines, "the md5 draw was optimized away?"
    assert all(
        ln.lstrip().startswith(("Join condition:", "Condition"))
        for ln in draw_lines
    ), draw_lines[:1]


def test_dimsum_draw_filter_below_pair_count_exchange(spark, sf_dir):
    """DIMSUM's whole point is that the per-ENTRY md5 Bernoulli draw
    filters the interaction table BEFORE the pair self-join, so both
    the join and the (i, j) count exchange see only sampled entries
    — everything JVM (no Python nodes), no cartesian product."""
    plan = _plan(spark, sf_dir, "item_item_recs_dimsum")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    _draw_filter_contract(plan)


def test_dimsum_draw_filter_butterfly_operator(spark, sf_dir):
    """butterfly_counts_sampled shares the draw, but since r13 its
    query plan reads the eager-checkpointed post-prune pair table
    (the broadcast total otherwise re-executes the wedge join per
    consumer) — so the draw-position contract is asserted on the
    operator frame that feeds the checkpoint, and the no-Python /
    no-cartesian / checkpoint-boundary contract on the full query."""
    plan = _plan(spark, sf_dir, "butterfly_counts_sampled")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan, plan[:500]
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.operators.relational import cap_hot_keys
    from bbcnews_scraper_nlp_spark.q_graph import butterfly_sampled_counts

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ia = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    ia = cap_hot_keys(ia, "u", 10_000)
    bf = butterfly_sampled_counts(ia, gamma=6)
    buf = io.StringIO()
    with redirect_stdout(buf):
        bf.explain("formatted")
    _draw_filter_contract(buf.getvalue())


def test_suffix_span_removal_no_python_no_cartesian(spark, sf_dir):
    """The removal transform inherits the suffix-ranking contract
    (keyed joins/aggs only) and adds one linear coverage explode +
    anti-join + sort-in-array reassembly — still zero Python nodes,
    zero cartesian products."""
    plan = _plan(spark, sf_dir, "suffix_span_removal")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_nb_fused_single_token_pass(spark, sf_dir):
    """The fused NB train+predict paths (r13) materialize ONE
    per-document tf table (lazy localCheckpoint → Scan ExistingRDD)
    and derive every model count as a marginal of it: the token
    explode must not appear in the SQL plan at all — it lives once
    inside the checkpointed lineage. A visible Generate here means
    the single-token-pass fusion regressed to per-consumer explodes."""
    for name in ("nb_lang_confusion", "nb_kfold_eval"):
        plan = _plan(spark, sf_dir, name)
        assert "Scan ExistingRDD" in plan, f"{name} lost the fused tf table"
        assert "Generate" not in plan, (
            f"{name} re-grew a visible token explode"
        )
