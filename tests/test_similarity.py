"""Similarity search: Spark cosine vs numpy; LSH subset-of-brute-force."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.operators import similarity as S


def _emb_df(spark, n=80, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim)).astype("float32")
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), mat


def test_cosine_matches_numpy(spark):
    df, mat = _emb_df(spark)
    q = [float(x) for x in mat[0]]
    got = {
        r["vec_id"]: r["cosine"]
        for r in S.cosine_topk(df, "embedding", "vec_id", q, k=80).collect()
    }
    qv = np.asarray(q, dtype="float64")
    m64 = mat.astype("float64")
    expected = m64 @ qv / (np.linalg.norm(m64, axis=1) * np.linalg.norm(qv))
    for i in range(80):
        assert abs(got[i] - round(float(expected[i]), 6)) < 2e-6


def test_lsh_topk_subset_of_bruteforce_ranking(spark):
    df, mat = _emb_df(spark)
    q = [float(x) for x in mat[0]]
    brute = {
        r["vec_id"]: r["cosine"]
        for r in S.cosine_topk(df, "embedding", "vec_id", q, k=80).collect()
    }
    lsh = S.rp_lsh_topk(df, "embedding", "vec_id", q, k=10, r=4).collect()
    assert 0 < len(lsh) <= 10
    # every LSH hit carries the same cosine the exact scan computed
    for r in lsh:
        assert abs(brute[r["vec_id"]] - r["cosine"]) < 1e-9
    # the query's own bucket must contain the query vector itself
    assert lsh[0]["cosine"] >= 0.999999  # vec 0 vs itself


def test_ivf_topk_recall(spark):
    df, mat = _emb_df(spark, n=200, dim=16)
    q = [float(x) for x in mat[0]]
    brute = [r["vec_id"] for r in S.cosine_topk(df, "embedding", "vec_id", q, k=10).collect()]
    ivf = [
        r["vec_id"]
        for r in S.ivf_topk(
            df, "embedding", "vec_id", q, n_centroids=8, n_probe=4
        ).collect()
    ]
    # probing half the cells should recover most of the true top-10
    recall = len(set(brute) & set(ivf)) / 10
    assert recall >= 0.5, f"recall {recall}: {ivf} vs {brute}"
    assert 0 in ivf  # the query vector itself lives in the probed cell


def test_cosine_pairs_bruteforce_vs_lsh(spark):
    # near-identical planted pair
    base = [1.0, 0.5, -0.25, 0.125] * 4
    near = [x * 1.001 for x in base]
    far = [-x for x in base]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id long, embedding array<float>"
    )
    bf = S.cosine_pairs(df, "embedding", "vec_id", threshold=0.99, brute_force=True).collect()
    assert {(r["id_1"], r["id_2"]) for r in bf} == {(0, 1)}
    lsh = S.cosine_pairs(df, "embedding", "vec_id", threshold=0.99, r=3, dim=16).collect()
    assert {(r["id_1"], r["id_2"]) for r in lsh} == {(0, 1)}


def test_cosine_pairs_construction_runs_no_job(spark):
    # plan CONSTRUCTION must be lazy: no hidden df.first() scan.
    # Tag a job group and assert no Spark job lands in it while the
    # DataFrame is being built (jobs would only run on an action).
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    df.count()  # materialize the local-relation conversion outside the probe
    sc = spark.sparkContext
    sc.setJobGroup("construction-probe", "cosine_pairs lazy-construction probe")
    try:
        out = S.cosine_pairs(df, "embedding", "vec_id", threshold=0.5, dim=8)
        jobs = sc.statusTracker().getJobIdsForGroup("construction-probe")
        assert list(jobs) == [], f"construction launched Spark jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")
    assert out.count() >= 1  # ...and the plan still executes
    with pytest.raises(ValueError, match="dim"):
        S.cosine_pairs(df, "embedding", "vec_id", threshold=0.5)


def test_cosine_topk_pandas_matches_jvm(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pandas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    jvm = cosine_topk(base, "embedding", "vec_id", query, k=10).collect()
    arrow = cosine_topk_pandas(base, "embedding", "vec_id", query).collect()
    assert [r["vec_id"] for r in jvm] == [r["vec_id"] for r in arrow]
    for a, b in zip(jvm, arrow):
        assert abs(a["cosine"] - b["cosine"]) <= 1e-6


def test_ivf_fixed_topk_deterministic_and_recall(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    got = S.ivf_fixed_topk(emb, "embedding", "vec_id").collect()
    again = S.ivf_fixed_topk(emb, "embedding", "vec_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    assert len(got) == 10
    # recall vs brute force: probing 3/16 cells must still find a
    # majority of the true top-10 on the synthetic embeddings
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    brute = {
        r["vec_id"]
        for r in S.cosine_topk(
            emb.filter(F.col("vec_id") != 0),
            "embedding",
            "vec_id",
            [float(x) for x in q],
        ).collect()
    }
    ivf = {r["vec_id"] for r in got}
    assert len(ivf & brute) >= 5, (ivf, brute)


def test_semdedup_planted_dups(spark):
    # centroid seeds = ids 0,1 (n_centroids=2). Vectors 10/11 are
    # near-identical and near vec 0's direction -> same cell, cosine
    # ~1 -> 11 (higher id) flagged dup, 10 kept. Vector 20 is
    # orthogonal -> its own cell, never a dup.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.9, 0.1, 0.0, 0.0]),
        (11, [0.9, 0.1001, 0.0, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in S.semdedup(
            df, "embedding", "vec_id", n_centroids=2, threshold=0.999,
            max_cell=None,
        ).collect()
    }
    assert len(out) == 5
    assert not out[10]["is_dup"]
    assert out[11]["is_dup"]
    assert not out[20]["is_dup"]
    assert out[10]["cell"] == out[11]["cell"] == 0
    # keep-first is transitive within the cell: 0 itself kept
    assert not out[0]["is_dup"]


def test_semdedup_max_cell_split_keeps_near_identical_pairs(spark):
    # force the cell cap to trigger (max_cell=2 on a 4-wide cell):
    # near-identical vectors agree on the extra hyperplane signs, so
    # the planted dup survives the re-split
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])] + [
        (10 + i, [0.9, 0.1 + i * 1e-4, 0.0, 0.0]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        r["vec_id"]: r["is_dup"]
        for r in S.semdedup(
            df, "embedding", "vec_id", n_centroids=2, threshold=0.999,
            max_cell=2, dim=4,
        ).collect()
    }
    assert not capped[10]
    assert all(capped[11 + i] for i in range(3)), capped
    # dim is mandatory when capping
    import pytest as _pytest

    with _pytest.raises(ValueError):
        S.semdedup(df, "embedding", "vec_id", max_cell=2)


def test_pq_adc_exact_on_codebook_vectors(spark):
    # vectors that ARE codewords in every subspace quantize with zero
    # error, so ADC distance == true squared L2 and the ranking is
    # exact. 4 base vectors (the ksub=4 codebook) + 2 exact copies.
    base = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (10, [1.0, 0.0, 0.0, 0.0]),  # copy of 0
        (11, [0.0, 1.0, 0.0, 0.0]),  # copy of 1
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    got = S.pq_adc_topk(
        df, "embedding", "vec_id", m=2, dsub=2, ksub=4, k=6
    ).collect()
    assert [r["vec_id"] for r in got][0] == 10  # the exact copy first
    d = {r["vec_id"]: r["adc_dist"] for r in got}
    assert d[10] == 0.0
    # orthogonal unit vectors: squared L2 = 2
    assert d[1] == d[11] == d[2] == d[3] == 2.0
    again = S.pq_adc_topk(
        df, "embedding", "vec_id", m=2, dsub=2, ksub=4, k=6
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]


def test_pq_adc_recall_on_synthetic(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    pq = {
        r["vec_id"]
        for r in S.pq_adc_topk(emb, "embedding", "vec_id").collect()
    }
    # true L2 top-10 (same normalization-free metric ADC approximates)
    v0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    q = F.lit([float(x) for x in v0]).cast("array<double>")
    true = {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    q,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    }
    # 16 coarse codewords per subspace: expect meaningful but not
    # perfect overlap with the exact top-10
    assert len(pq & true) >= 3, (pq, true)


def test_ivfadc_deterministic_and_probed_recall(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    got = S.ivfadc_topk(emb, "embedding", "vec_id").collect()
    again = S.ivfadc_topk(emb, "embedding", "vec_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    assert len(got) == 10
    assert all(r["adc_dist"] >= 0 for r in got)
    # probing 4/16 cells with residual-PQ scoring must still overlap
    # the exact L2 top-10 (the IVF prune and the PQ quantization each
    # cost recall; together they should keep a meaningful share)
    v0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    q = F.lit([float(x) for x in v0]).cast("array<double>")
    true = {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"), q,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    }
    ivfadc = {r["vec_id"] for r in got}
    assert len(ivfadc & true) >= 2, (ivfadc, true)


def test_lsh_batch_matches_single_query_probe(spark):
    df, mat = _emb_df(spark, n=120, dim=16)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    batch = S.rp_lsh_topk_batch(
        df, "embedding", "vec_id", queries, "qid", "embedding",
        dim=16, k=8, r=4,
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    for qid in range(5):
        q = [float(x) for x in mat[qid]]
        single = S.rp_lsh_topk(df, "embedding", "vec_id", q, k=8, r=4).collect()
        want = [(i + 1, r["vec_id"], r["cosine"]) for i, r in enumerate(single)]
        assert sorted(by_q.get(qid, [])) == sorted(want)


def test_lsh_batch_no_action_during_construction(spark):
    df, _ = _emb_df(spark, n=40, dim=16)
    queries = df.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    S.rp_lsh_topk_batch(
        df, "embedding", "vec_id", queries, "qid", "embedding", dim=16
    )
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # plan construction runs zero Spark jobs


# ---------------------------------------------------------------------------
# kmeans_lloyd (round 10): literal-Python twin + separated-cluster recovery
# ---------------------------------------------------------------------------


def _kmeans_literal(rows, k, iters, dim):
    """Pure-Python replay of operators/similarity.kmeans_lloyd:
    micro-unit quantization, md5-ranked seeds, packed argmin with
    lower-cid tie-break, truncating-division update, empty-cluster
    carry-over."""
    import hashlib

    def tdiv(a, b):  # truncate toward zero, like Spark `div`
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    pts = {
        i: [int(round(v * 1_000_000)) for v in vec] for i, vec in rows
    }
    ranked = sorted(
        pts, key=lambda i: (hashlib.md5(f"km-v1:{i}".encode()).hexdigest(), i)
    )
    cents = {c: list(pts[i]) for c, i in enumerate(ranked[:k])}

    def assign():
        out = {}
        for i, e in pts.items():
            packs = [
                (sum((e[d] - cents[c][d]) ** 2 for d in range(dim)) * k + c)
                for c in range(k)
            ]
            out[i] = min(packs)
        return out

    for _ in range(iters):
        a = assign()
        sums, ns = {}, {}
        for i, p in a.items():
            c = p % k
            ns[c] = ns.get(c, 0) + 1
            s = sums.setdefault(c, [0] * dim)
            for d in range(dim):
                s[d] += pts[i][d]
        for c in range(k):
            if c in ns:
                cents[c] = [tdiv(sums[c][d], ns[c]) for d in range(dim)]
    return {i: (p % k, p // k) for i, p in assign().items()}


def test_kmeans_lloyd_matches_literal_python(spark):
    import hashlib

    rng = np.random.default_rng(11)
    dim, k, iters = 4, 3, 2
    centers = np.array(
        [[1.0, 1.0, -1.0, 0.0], [-1.0, 0.5, 1.0, 1.0], [0.0, -1.0, 0.0, -1.0]]
    )
    # give the 3 md5-ranked seed ids one blob each, so Lloyd starts
    # one seed per planted blob and the geometry check below is a
    # guaranteed property, not luck of the init
    ranked = sorted(
        range(36),
        key=lambda i: (hashlib.md5(f"km-v1:{i}".encode()).hexdigest(), i),
    )
    blob_of = {i: i % 3 for i in range(36)}
    for b, i in enumerate(ranked[:3]):
        blob_of[i] = b
    rows = []
    for i in range(36):
        c = centers[blob_of[i]] + rng.normal(scale=0.05, size=dim)
        rows.append((i, [float(x) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["id"]: (r["cluster"], r["dist2"])
        for r in S.kmeans_lloyd(
            df, "vec_id", "embedding", k=k, iters=iters, dim=dim
        ).collect()
    }
    # twin must see the same quantized integers Spark's ROUND produces
    # (BigDecimal HALF_UP == python round-half-even differs at .5 — use
    # the float32->float64 values, which never land on exact .5 here)
    want = _kmeans_literal(
        [(i, [float(np.float32(x)) for x in vec]) for i, vec in rows],
        k,
        iters,
        dim,
    )
    assert got == want

    # geometry: the three planted blobs land in three distinct clusters
    by_blob = {}
    for i, (cl, _) in got.items():
        by_blob.setdefault(blob_of[i], set()).add(cl)
    assert all(len(v) == 1 for v in by_blob.values())
    assert len({next(iter(v)) for v in by_blob.values()}) == 3


def test_kmeans_lloyd_stable_under_repartition(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {tuple(r) for r in S.kmeans_lloyd(df, "vec_id", "embedding", k=4, iters=2, dim=8).collect()}
    b = {
        tuple(r)
        for r in S.kmeans_lloyd(
            df.repartition(7), "vec_id", "embedding", k=4, iters=2, dim=8
        ).collect()
    }
    assert a == b
