"""Fold-order independence: the repo's central cross-engine claim is
that integer-scaled arithmetic makes results independent of partial-
aggregation order. Partition count is the lever that actually changes
that order at runtime — so run representative queries under different
shuffle widths and assert bit-identical results."""

from __future__ import annotations

import pytest

from bbcnews_scraper_nlp_spark.queries import REGISTRY

QUERIES = [
    "pagerank_copurchase",       # iterative integer rank propagation
    "bm25_topk_docs",            # milli-quantized score sums
    "corpus_token_offsets",      # two-level prefix sum
    "seasonal_decompose_daily",  # integral div decomposition
    "mad_outliers_per_type",     # percentile + integer counts
    "link_prediction_suppliers", # ppm jaccard over self-join pairs
    "ols_trend_per_type",        # integer-rational regression
    "concurrent_sessions_sweep", # sweep-line running sum
    # shared graph inputs; the first three freeze a width-dependent
    # repartition into a checkpoint
    "item_item_recs_topk",       # capped interaction table
    "community_detection_suppliers",  # supplier Jaccard kNN + LPA
    "walk_skipgram_pmi",         # walk corpus -> skip-gram PMI
    "ppr_related_entities",      # seeded pagerank
    # shared text and vector stages
    "semdedup_embeddings",       # Forgy cells + within-cell pairs
    "similarity_ivfadc_topk",    # Forgy cells + PQ encode/ADC
    "suffix_span_removal",       # suffix coverage + shared reassembly
    "item_item_recs_dimsum",     # shared DIMSUM md5 draw
    # shared scan, pair and scoring steps
    "skyline_pareto_parts",      # two-level max scan
    "kn_perplexity_buckets",     # two-level global rank
    "nb_kfold_eval",             # per-fold naive-Bayes model + argmax
    "sentiment_full_lexicon",    # broadcast lexicon join, milli sums
    "butterfly_counts_sampled",  # pair-table rollup
    "hits_copurchase",           # HITS half-rounds
]


def _rows(spark, name, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_under_shuffle_width(spark, sf_dir, name):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = _rows(spark, name, sf_dir)
        spark.conf.set("spark.sql.shuffle.partitions", "31")
        wide = _rows(spark, name, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert narrow == wide, f"{name} varies with partition count"
