"""Scale-killer caps: bounded fanout under adversarial skew.

Two uncapped hot spots flagged at 100 TB scale:
- ``ngram_jaccard_pairs`` (threshold < 0.5 path): a shingle with
  document frequency f yields f² candidate pairs — one stopword-like
  shingle shared by most docs explodes the stage.
- LSH bucket joins (``cosine_pairs`` / ``rp_lsh_topk``): verify cost
  is O(Σ bucket²) — a degenerate embedding region becomes one giant
  bucket.

These tests build fixtures where ONE shingle / bucket holds ≥50% of
docs and assert the capped paths bound the work, while normal
fixtures return identical results capped vs uncapped.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.operators.dedup import ngram_jaccard_pairs
from bbcnews_scraper_nlp_spark.operators.similarity import (
    _SUBBUCKET_BITS,
    _bucket_expr,
    _subbucketed,
    cosine_pairs,
    make_planes,
    rp_lsh_topk,
)


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # 200 docs, ALL sharing the hot shingle "the quick fox"; each doc
    # otherwise unique. Uncapped low-t pairing => 200*199/2 ≈ 20k
    # pairs from the hot shingle alone.
    rows = [
        (i, f"the quick fox unique{i} alpha{i} beta{i} gamma{i}")
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_maxdf_bounds_skewed_fanout(spark, skewed_docs):
    # hot shingle df=200 > max_df=50 -> dropped before pairing; no
    # doc pair shares any other shingle, so zero pairs survive
    out = ngram_jaccard_pairs(
        skewed_docs, "doc_id", "text", threshold=0.2, max_df=50
    )
    assert out.count() == 0
    # uncapped twin proves the fixture is genuinely adversarial
    uncapped = ngram_jaccard_pairs(
        skewed_docs.limit(40), "doc_id", "text", threshold=0.2,
        max_df=None,
    )
    assert uncapped.count() == 0  # jaccard 1/7 < 0.2 — threshold kills them
    # ...but the candidate fanout existed: lower the threshold and the
    # hot-shingle pairs all surface
    flood = ngram_jaccard_pairs(
        skewed_docs.limit(40), "doc_id", "text", threshold=0.1,
        max_df=None,
    )
    assert flood.count() == 40 * 39 // 2


def test_ngram_maxdf_identical_on_normal_corpus(spark):
    # normal fixture: shingle df far below the default cap -> capped
    # and uncapped results identical
    rows = [
        (1, "spark shuffles data across the cluster for joins"),
        (2, "spark shuffles data across the cluster for aggregations"),
        (3, "completely different text about streaming watermarks here"),
        (4, "spark shuffles data across the cluster for joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.3, prefix_filter=False)
    capped = ngram_jaccard_pairs(df, "doc_id", "text", **kw).collect()
    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", max_df=None, **kw
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    assert len(capped) >= 2  # (1,2) partial + (1,4) exact


def test_ngram_maxdf_jaccard_exact_over_kept_universe(spark):
    # docs 1/2 share a HOT shingle ("x y z", df=62 > cap=50) plus a
    # rare one ("y z p", df=2). Kept universe per doc: {"y z p",
    # "z p q|r"} -> jaccard = 1/(2+2-1) = 1/3. A deflated
    # pruned-numerator/full-denominator mix would give 1/(3+3-1)=0.2
    # and wrongly drop the pair at threshold 0.3.
    rows = [(1, "x y z p q"), (2, "x y z p r")] + [
        (100 + i, "x y z") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.3, max_df=50,
        prefix_filter=False,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_1, r.id_2) == (1, 2)
    assert abs(r.jaccard - round(1 / 3, 6)) < 1e-9


@pytest.fixture(scope="module")
def skewed_vectors(spark):
    # 120 vectors: 100 nearly identical (one degenerate LSH bucket,
    # >80% of rows) + 20 spread out
    rows = []
    for i in range(100):
        rows.append((i, [1.0, 0.5, 0.25, 1.0 + i * 1e-6]))
    for i in range(20):
        sign = -1.0 if i % 2 else 1.0
        rows.append((100 + i, [sign * (i + 1), -0.5 * i, float(i % 7), -1.0]))
    return spark.createDataFrame(rows, "id long, vec array<double>")


def test_subbucket_cap_bounds_bucket_width(spark, skewed_vectors):
    r, dim = 4, 4
    planes = make_planes(dim, r)
    withb = skewed_vectors.withColumn(
        "__bucket", _bucket_expr(F.col("vec"), planes)
    )
    base_max = (
        withb.groupBy("__bucket").count().agg(F.max("count")).collect()[0][0]
    )
    assert base_max >= 100  # fixture really is degenerate
    capped = _subbucketed(withb, "vec", dim, r, max_bucket=30)
    sizes = {
        r2["__bucket"]: r2["count"]
        for r2 in capped.groupBy("__bucket").count().collect()
    }
    # the hot bucket was split into sub-buckets; row count conserved
    assert sum(sizes.values()) == 120
    assert len(sizes) > len(
        {r2["__bucket"] for r2 in withb.select("__bucket").distinct().collect()}
    ) - 1
    # near-identical vectors share every extra sign bit -> they stay
    # together in ONE sub-bucket (recall preserved for true dups);
    # id space of split buckets is disjoint from unsplit base ids
    assert all(b < (1 << r) or b >= (1 << (r + _SUBBUCKET_BITS)) for b in sizes)


def test_cosine_pairs_capped_matches_uncapped_normal(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.98, 0.05]),
        (5, [-1.0, -1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    capped = cosine_pairs(df, "vec", "id", threshold=0.9, dim=3).collect()
    uncapped = cosine_pairs(
        df, "vec", "id", threshold=0.9, max_bucket=None, dim=3
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    assert {(r["id_1"], r["id_2"]) for r in capped} == {(1, 2), (3, 4)}


def test_cosine_pairs_cap_still_finds_true_dups_in_hot_bucket(
    spark, skewed_vectors
):
    # with the hot bucket split, near-identical rows still pair up
    # (they agree on the extra sign bits)
    out = cosine_pairs(
        skewed_vectors, "vec", "id", threshold=0.999999, max_bucket=30, dim=4
    )
    n = out.filter((F.col("id_1") < 100) & (F.col("id_2") < 100)).count()
    assert n == 100 * 99 // 2


def test_rp_lsh_topk_capped_matches_uncapped(spark, skewed_vectors):
    query = [1.0, 0.5, 0.25, 1.0]
    capped = rp_lsh_topk(
        skewed_vectors, "vec", "id", query, k=5, r=4, max_bucket=30
    ).collect()
    uncapped = rp_lsh_topk(
        skewed_vectors, "vec", "id", query, k=5, r=4, max_bucket=None
    ).collect()
    # the query lands in the hot bucket; its sub-bucket still holds
    # every near-identical vector, so top-k agrees
    assert [r["id"] for r in capped] == [r["id"] for r in uncapped]


# ---------------------------------------------------------------
# planted-skew: cap_hot_keys pair bound + salted_join key split
# ---------------------------------------------------------------


def _pair_count(ia):
    a = ia.select("u", F.col("i").alias("i1"))
    b = ia.select("u", F.col("i").alias("i2"))
    return (
        a.join(b, "u")
        .filter(F.col("i1") < F.col("i2"))
        .count()
    )


def test_cap_hot_keys_bounds_pair_fanout_planted_skew(spark):
    from bbcnews_scraper_nlp_spark.operators.relational import cap_hot_keys

    # one hot user touching 500 items: C(500,2) = 124750 pairs from
    # that key alone; 20 normal users with 5 items: C(5,2)*20 = 200
    hot = spark.range(500).select(
        F.lit(0).alias("u"), F.col("id").alias("i")
    )
    normal = spark.range(20 * 5).select(
        (F.col("id") % 20 + 1).alias("u"), F.col("id").alias("i")
    )
    ia = hot.union(normal)
    assert _pair_count(ia) == 124750 + 200
    capped = cap_hot_keys(ia, "u", 50)
    # the hot key is gone entirely, normal keys untouched
    assert capped.filter(F.col("u") == 0).count() == 0
    assert capped.count() == 100
    assert _pair_count(capped) == 200


def test_salted_join_splits_planted_hot_key(spark):
    from bbcnews_scraper_nlp_spark.operators.relational import salted_join

    hot = spark.range(2000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(50).select(
        (F.col("id") + 2).alias("k"), F.col("id").alias("payload")
    )
    skewed = hot.union(cold).repartition(8)
    dim = spark.range(60).select(
        (F.col("id") + 1).alias("k"), (F.col("id") * 10).alias("attr")
    )
    confs = {
        # force a real shuffle join (broadcast would hide the salt)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # and keep AQE from coalescing the tiny test partitions back
        # together — partition ids are the observable under test
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plain = skewed.join(dim, "k")
        salted = salted_join(skewed, dim, "k", n_salts=16)
        # row-identical (already pinned elsewhere; cheap to re-assert)
        assert salted.count() == plain.count() == 2050
        # the physical exchange hashes on (k, __salt) — the salt is
        # really in the shuffle key, not projected away pre-join
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan
        # observable split: the hot key's joined rows land in >1
        # reducer partition salted, exactly 1 unsalted
        def key_partitions(df):
            return (
                df.filter(F.col("k") == 1)
                .select(F.spark_partition_id().alias("p"))
                .distinct()
                .count()
            )

        assert key_partitions(plain) == 1
        assert key_partitions(salted) > 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_skew_join_splits_planted_hot_partition(spark):
    """Executed-plan witness for the 100 TB skew story: under AQE a
    planted-skew shuffle join must actually be re-planned as a skew
    join — `SortMergeJoin(skew=true)` with `AQEShuffleRead skewed`
    legs in the FINAL adaptive plan — not merely produce equal rows.
    Thresholds are lowered so the toy hot partition qualifies by the
    real detection rule (size > factor x median AND > threshold);
    the split is additionally observed at task level: the hot key's
    joined rows land in >1 reducer partition."""
    confs = {
        # force a real shuffle join (broadcast would hide the skew)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # toy-size the detection rule and the split target
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pad = "x" * 64
        hot = spark.range(20000).select(
            F.lit(1).alias("k"),
            F.concat(F.lit(pad), F.col("id").cast("string")).alias("pay"),
        )
        cold = spark.range(200).select(
            (F.col("id") + 2).alias("k"),
            F.col("id").cast("string").alias("pay"),
        )
        skewed = hot.union(cold).repartition(8)
        dim = spark.range(4000).select(
            (F.col("id") % 300 + 1).alias("k"),
            F.concat(F.lit(pad), (F.col("id") * 10).cast("string")).alias(
                "attr"
            ),
        )
        j = skewed.join(dim, "k")
        # execute THIS frame (count() would plan a different query
        # whose execution the assertion could not see)
        hot_parts = (
            j.filter(F.col("k") == 1)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
        assert hot_parts > 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
