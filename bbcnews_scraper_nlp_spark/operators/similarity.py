"""Embedding similarity search over array<float> columns.

Three tiers:
- ``cosine_topk`` — brute-force top-k for one query vector. The
  correctness baseline: one narrow pass (dot product via zip_with +
  aggregate, codegen'd) + TakeOrderedAndProject. Linear scan, but at
  100 TB it is embarrassingly parallel and shuffle-free until the
  final top-k merge (k rows per partition to the driver).
- ``rp_lsh_topk`` — random-hyperplane LSH: bucket vectors by the sign
  pattern of r fixed projections, probe only the query's bucket (and
  optionally neighbors). The scale path: the scan touches ~n/2^r
  rows; bucket assignment is a narrow projection computed once and
  reusable (write it as a partition column for real workloads).
- ``cosine_pairs`` — all-pairs near-duplicate search by cosine >=
  threshold within LSH buckets (embedding analog of MinHash dedup).

Projections are deterministic: pseudo-random hyperplanes generated
from a fixed seed via the same LCG family as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_M31 = 2_147_483_647
SEED = 42  # the hyperplane LCG seed and the KMeans seed
KMEANS_SEED_TAG = "km-v1"  # kmeans_lloyd seeds: smallest md5("km-v1:" || id)
# the certified ANN probes: top-ANN_K for vector ANN_QUERY_ID over
# IVF_CENTROIDS deterministic cells (the oracle SQL reads the same)
ANN_QUERY_ID = 0
ANN_K = 10
IVF_CENTROIDS = 16
IVF_PROBE = 3
IVFADC_PROBE = 4
PQ_M, PQ_DSUB, PQ_KSUB = 8, 8, 16  # subspaces, dims each, codewords each


def _lcg_floats(n: int, seed: int) -> list[float]:
    """Deterministic pseudo-random floats in [-1, 1)."""
    out = []
    state = seed
    for _ in range(n):
        state = (state * 1_103_515_245 + 12_345) % _M31
        out.append(state / _M31 * 2.0 - 1.0)
    return out


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, JVM-side: zip_with multiply +
    ordered-fold sum (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    The query vector is a plan literal (broadcast by value); the scan
    computes one double per row; TakeOrderedAndProject merges local
    heaps — no full sort, no wide shuffle. Ties broken by id for
    determinism.
    """
    q = F.lit(query).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def cosine_topk_pandas(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
) -> DataFrame:
    """Arrow-vectorized twin of ``cosine_topk``: the scoring pass is a
    pandas_udf doing one numpy matmul per Arrow batch.

    Same plan shape (narrow scan -> TakeOrderedAndProject); the
    difference is the scoring kernel — BLAS over thousands of rows at
    once vs an interpreted per-element fold. At bench scale (2k
    vectors) the JVM fold wins on overhead (0.32s vs 0.47s); the
    crossover is batch volume: at millions of rows per executor the
    matmul path is the one that holds, and it is the slot where a GPU
    or faiss kernel would mount. numpy's pairwise summation can
    differ from the sequential fold in the last double bit, so this
    variant is pytest-checked for identical top-k ids (rounded scores
    equal to 1e-6) rather than oracle-hashed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qarr = np.asarray(query, dtype=np.float64)
    qnorm = float(np.linalg.norm(qarr))

    def _score(vecs):
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        d = m @ qarr
        n = np.sqrt((m * m).sum(axis=1)) * qnorm
        return pd.Series(np.round(d / n, 6))

    # no type hints on purpose: this module uses
    # `from __future__ import annotations`, which stringifies hints
    # and breaks pandas_udf's signature inference for locally-imported
    # pandas; the explicit returnType carries the contract instead.
    score = pandas_udf(_score, "double")

    scored = df.select(F.col(id_col), score(F.col(vec_col)).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(ANN_K)


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id over r hyperplanes -> int in [0, 2^r)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        bit = F.when(dot(vec, F.lit(p).cast("array<double>")) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit
    return bucket


def make_planes(dim: int, r: int = 8, seed: int = SEED) -> list[list[float]]:
    flat = _lcg_floats(dim * r, seed)
    return [flat[i * dim : (i + 1) * dim] for i in range(r)]


_SUBBUCKET_BITS = 4  # oversized buckets split 16 ways
_SUBBUCKET_SEED_OFFSET = 7919  # decorrelate sub-planes from base planes


def _subbucketed(
    withb: DataFrame, vec_col: str, dim: int, r: int, max_bucket: int
) -> DataFrame:
    """Bound LSH bucket width: re-hash rows of buckets larger than
    ``max_bucket`` with ``_SUBBUCKET_BITS`` extra hyperplanes.

    A degenerate region of embedding space (e.g. a mass of
    near-identical boilerplate docs) lands in ONE sign-bucket, and a
    bucket of width w costs w² in pair verification / w in probe scan
    — uncapped, one hot bucket dominates the stage at 100 TB. The
    split: bucket sizes come from a cheap (bucket, count) aggregation
    joined back co-partitioned; oversized rows get
    ``base·2^s + extra + 2^(r+s)`` (disjoint from the un-split id
    space), everyone else keeps ``base``. Deterministic — no rand(),
    replayable tasks. Recall trade: pairs crossing sub-buckets of an
    oversized bucket are missed; high-cosine pairs agree on the extra
    sign bits with the same probability as the base bits, so the hit
    mirrors raising r by s for those rows only.

    Expects ``withb`` to carry ``__bucket``; returns the same frame
    with ``__bucket`` rewritten.
    """
    extra_planes = make_planes(
        dim, _SUBBUCKET_BITS, SEED + _SUBBUCKET_SEED_OFFSET
    )
    sizes = withb.groupBy("__bucket").agg(F.count("*").alias("__bsz"))
    extra = _bucket_expr(F.col(vec_col), extra_planes)
    split = (
        F.col("__bucket") * F.lit(1 << _SUBBUCKET_BITS)
        + extra
        + F.lit(1 << (r + _SUBBUCKET_BITS))
    )
    return (
        withb.join(sizes, "__bucket")
        .withColumn(
            "__bucket",
            F.when(F.col("__bsz") > max_bucket, split).otherwise(
                F.col("__bucket")
            ),
        )
        .drop("__bsz")
    )


def rp_lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    r: int = 6,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """LSH-pruned top-k: scan only rows whose sign-bucket matches the
    query's. Approximate (recall < 1); bucket column is a narrow
    deterministic projection — at scale, persist it / partition by it
    so queries prune at the parquet level (partition pruning).

    ``max_bucket`` bounds the probe scan when the query lands in a
    degenerate hot bucket: oversized buckets are sub-split with extra
    hyperplanes (see ``_subbucketed``) and only the query's sub-bucket
    is scanned. ``None`` disables the cap (exact legacy behavior)."""
    planes = make_planes(len(query), r, SEED)
    qbucket = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query, p)) >= 0:
            qbucket |= 1 << i
    q = F.lit(query).cast("array<double>")
    withb = df.withColumn("__bucket", _bucket_expr(F.col(vec_col), planes))
    probe = [qbucket]
    if max_bucket is not None:
        withb = _subbucketed(withb, vec_col, len(query), r, max_bucket)
        # the query's bucket id under the split scheme (driver-side
        # twin of the executor expression)
        extra_planes = make_planes(
            len(query), _SUBBUCKET_BITS, SEED + _SUBBUCKET_SEED_OFFSET
        )
        qextra = 0
        for i, p in enumerate(extra_planes):
            if sum(x * y for x, y in zip(query, p)) >= 0:
                qextra |= 1 << i
        probe.append(
            qbucket * (1 << _SUBBUCKET_BITS)
            + qextra
            + (1 << (r + _SUBBUCKET_BITS))
        )
    scored = withb.filter(F.col("__bucket").isin(probe)).select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def rp_lsh_topk_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    dim: int,
    k: int = 10,
    r: int = 6,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Batched LSH-pruned top-k: the approximate twin of
    ``cosine_topk_batch`` for MANY queries in one plan.

    The corpus is sign-bucketed ONCE; each query row is expanded to
    its probe-bucket ids (base bucket, plus its sub-split id so
    probes still land when a hot bucket was re-split — see
    ``_subbucketed``) and the probe set equi-joins the bucketed
    corpus on the bucket id. That keeps the join a hash join (an
    OR-condition would degenerate to a nested-loop), and the corpus
    never shuffles wider than its bucket key. Per-query top-k is a
    rank-filtered window on (qid), fed only by bucket-pruned
    candidates — the 100 TB serving shape where broadcast-all
    scoring (``cosine_topk_batch``) stops being affordable.

    ``dim`` is required explicitly: deriving it from data would
    trigger a hidden Spark job during plan construction.
    Returns (qid, id, cosine, rank) with rank <= k per query.
    """
    from pyspark.sql import Window

    planes = make_planes(dim, r, SEED)
    withb = df.withColumn("__bucket", _bucket_expr(F.col(vec_col), planes))
    qv = F.col(qvec_col).cast("array<double>")
    qbase = _bucket_expr(qv, planes)
    probes = [qbase]
    if max_bucket is not None:
        withb = _subbucketed(withb, vec_col, dim, r, max_bucket)
        extra_planes = make_planes(
            dim, _SUBBUCKET_BITS, SEED + _SUBBUCKET_SEED_OFFSET
        )
        probes.append(
            qbase * F.lit(1 << _SUBBUCKET_BITS)
            + _bucket_expr(qv, extra_planes)
            + F.lit(1 << (r + _SUBBUCKET_BITS))
        )
    q = queries.select(
        F.col(qid_col).alias("__qid"),
        qv.alias("__qv"),
        F.explode(F.array(*probes)).alias("__bucket"),
    )
    scored = withb.join(q, "__bucket").select(
        F.col("__qid").alias(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    n_centroids: int = 16,
    n_probe: int = 3,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the vectors, probe
    only the n_probe centroids nearest the query.

    Scale path: centroid assignment is a one-off narrow projection
    (persist it — or partition the table by it for parquet partition
    pruning); each query scans ~n_probe/n_centroids of the data.
    Recall < 1 like any IVF index; raise n_probe to trade speed for
    recall. Centroids fit on the driver (n_centroids × dim floats).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .topics import fit_partitions

    with_vec = df.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))
    # iterative fit: size the training partitioning to the data
    # (KMeans launches ~maxIter jobs over every partition — see
    # topics.fit_partitions; at real corpus sizes the cluster-width
    # cap binds and this is a no-op)
    fit_input = with_vec
    target = fit_partitions(with_vec, df.count())
    if target < fit_input.rdd.getNumPartitions():
        fit_input = fit_input.coalesce(target)
    km = KMeans(k=n_centroids, seed=SEED, featuresCol="__v", predictionCol="__cell")
    model = km.fit(fit_input)
    centers = model.clusterCenters()
    qarr = [float(x) for x in query]

    def dist2(c) -> float:
        return float(sum((a - b) * (a - b) for a, b in zip(c, qarr)))

    probe = sorted(range(len(centers)), key=lambda i: (dist2(centers[i]), i))[:n_probe]
    q = F.lit(qarr).cast("array<double>")
    assigned = model.transform(with_vec)
    scored = (
        assigned.filter(F.col("__cell").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(ANN_K)


def cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    r: int = 4,
    dim: int | None = None,
    brute_force: bool = False,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """All-pairs embedding near-dup: (id_1, id_2, cosine >= threshold).

    Default: candidate pairs only within matching LSH sign-buckets
    (shuffle on bucket id, O(sum bucket^2) verify). High-cosine pairs
    very likely share all r signs for small r; recall tunable via r.
    ``brute_force=True`` computes all O(n^2) pairs — the correctness
    oracle path for small inputs (and exactly what the DuckDB twin
    does).

    ``max_bucket`` caps the bucket² verify cost: buckets wider than
    the cap are deterministically sub-split with extra hyperplanes
    (``_subbucketed``), bounding any single bucket's pair fanout to
    ~(max_bucket·split)² instead of letting one degenerate embedding
    region own the stage. ``None`` disables (exact legacy behavior;
    the oracle path uses ``brute_force=True`` anyway).
    """
    # Norms are hoisted into per-side projections BELOW the pair
    # join: the w²-per-bucket verification loop then evaluates one
    # dot product per pair instead of dot + two norms (each row's
    # norm otherwise recomputes once per partner — 3x the
    # interpreted-HOF work on the dominant stage). Bit-identical:
    # dot/(n1*n2) with the norms hoisted is the same IEEE expression
    # tree as cosine(v1, v2).
    a = df.select(
        F.col(id_col).alias("id_1"),
        F.col(vec_col).alias("v1"),
        norm(F.col(vec_col)).alias("n1"),
    )
    b = df.select(
        F.col(id_col).alias("id_2"),
        F.col(vec_col).alias("v2"),
        norm(F.col(vec_col)).alias("n2"),
    )
    if brute_force:
        cand = a.crossJoin(b).filter(F.col("id_1") < F.col("id_2"))
    else:
        if dim is None:
            # ArrayType carries no length in the schema, and probing
            # the data (df.first()) would launch a hidden Spark job
            # during plan CONSTRUCTION — a per-call scan at 100 TB.
            raise ValueError(
                "cosine_pairs: pass the embedding dimension explicitly "
                "(dim=...); it cannot be derived from an array<float> "
                "schema without running a job"
            )
        planes = make_planes(dim, r, SEED)
        withb = df.withColumn("__bucket", _bucket_expr(F.col(vec_col), planes))
        if max_bucket is not None:
            withb = _subbucketed(withb, vec_col, dim, r, max_bucket)
        a = withb.select(
            F.col(id_col).alias("id_1"),
            F.col(vec_col).alias("v1"),
            norm(F.col(vec_col)).alias("n1"),
            "__bucket",
        )
        b = withb.select(
            F.col(id_col).alias("id_2"),
            F.col(vec_col).alias("v2"),
            norm(F.col(vec_col)).alias("n2"),
            "__bucket",
        )
        cand = a.join(b, "__bucket").filter(F.col("id_1") < F.col("id_2"))
    return (
        cand.withColumn(
            "cosine",
            F.round(
                dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_1", "id_2", "cosine")
    )


def _cos6(a: str, na: str, b: str, nb: str) -> Column:
    """ROUND-6 cosine from two array columns and their hoisted norms:
    dot/(norm·norm), cosine()'s own expression tree, so the value is
    bit-identical to the un-hoisted form the oracles pin."""
    return F.round(dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6)


def _forgy_cells(
    df: DataFrame, vec_col: str, id_col: str, n_centroids: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic Forgy cells, the one cell assigner of
    ``ivf_fixed_topk``, ``semdedup`` and ``ivfadc_topk``: the
    centroids are the vectors of the ``n_centroids`` smallest ids, and
    each vector goes to the argmax of its ROUND-6 cosine to a
    centroid, ties to the lower cell id — bit-stable across engines.

    Returns ``(emb, cent, assigned)``: emb (vid, ev, ne) with the
    per-vector norm hoisted below the centroid fan-out (computed once
    per vector, not once per centroid), cent (cell, cv, nc), and
    assigned (vid, cell). The centroid table broadcasts; the argmax
    is a map-side-combined max-struct aggregate."""
    cent = (
        df.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("cv"),
            norm(F.col(vec_col).cast("array<double>")).alias("nc"),
        )
    )
    emb = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("ev"),
        norm(F.col(vec_col).cast("array<double>")).alias("ne"),
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .groupBy("vid")
        .agg(
            F.max(
                F.struct(
                    _cos6("ev", "ne", "cv", "nc").alias("s"),
                    (-F.col("cell")).alias("negc"),
                )
            ).alias("m")
        )
        .select("vid", (-F.col("m.negc")).alias("cell"))
    )
    return emb, cent, assigned


def _probe_cells(
    emb: DataFrame, cent: DataFrame, query_id: int, n_probe: int
) -> tuple[DataFrame, DataFrame]:
    """The query vector and its ``n_probe`` nearest cells: returns
    ``(q, probe)``, q (qv, nq) one row, probe (cell, cv) ordered by
    ROUND-6 cosine to the query, ties to the lower cell id."""
    q = emb.filter(F.col("vid") == query_id).select(
        F.col("ev").alias("qv"), F.col("ne").alias("nq")
    )
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select("cell", "cv", _cos6("cv", "nc", "qv", "nq").alias("qs"))
        .orderBy(F.desc("qs"), F.col("cell"))
        .limit(n_probe)
        .select("cell", "cv")
    )
    return q, probe


def ivf_fixed_topk(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """IVF ANN with DETERMINISTIC centroids — the SQL-portable twin
    of ``ivf_topk`` (whose KMeans cells are seeded-deterministic per
    Spark version but not reproducible in another engine).

    Centroids are the vectors of the ``IVF_CENTROIDS`` smallest ids —
    a fixed Forgy-style init. Cell assignment is argmax cosine to a
    centroid, on cosine ROUNDED to 6 decimals with id tie-break, so
    the assignment (and therefore the probe result) is bit-stable
    across engines: the repo's ann oracle already pins that DuckDB's
    list_cosine_similarity equals the fold-cosine after ROUND 6.
    Probing and scoring then mirror ivf_topk exactly.

    Scale: the centroid table broadcasts (IVF_CENTROIDS rows); the
    argmax is a map-side-combined min/max-struct aggregate (the
    crossJoin fans out IVF_CENTROIDS skinny rows per vector inside the
    partition, the combiner collapses them before any shuffle); at
    production scale the assignment projection is computed once and
    persisted/partitioned-by, exactly like ivf_topk's. Real recall
    needs learned centroids — keep KMeans for quality, use this for
    cross-engine verification and as the partition-pruned layout.
    """
    emb, cent, assigned = _forgy_cells(df, vec_col, id_col, IVF_CENTROIDS)
    q, probe = _probe_cells(emb, cent, ANN_QUERY_ID, IVF_PROBE)
    scored = (
        assigned.join(F.broadcast(probe.select("cell")), "cell", "left_semi")
        .join(emb, "vid")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vid") != ANN_QUERY_ID)
        .select(
            F.col("vid").alias(id_col),
            _cos6("ev", "ne", "qv", "nq").alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(ANN_K)


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
    threshold: float = 0.4,
    max_cell: int | None = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    in embedding space — cluster, then drop any vector whose cosine to
    a LOWER-id vector in the SAME cluster meets the threshold
    (keep-first policy; the paper keeps the point farthest from the
    centroid — keep-first is the deterministic, oracle-able twin and
    the standard corpus-pipeline convention, matching this repo's
    minhash/exact dedup semantics).

    Cells are the deterministic Forgy-style centroids of
    ``ivf_fixed_topk`` (vectors of the ``n_centroids`` smallest ids,
    argmax ROUND-6 cosine assignment with id tie-break) so the whole
    operator is bit-stable across engines; at production scale swap
    the centroid table for seeded KMeans centers — everything
    downstream is unchanged.

    Returns one row per input vector: (id, cell, is_dup).

    Scale shape: the centroid table broadcasts; assignment is one
    map-side-combined argmax agg; the within-cell self-join shuffles
    ONCE on the cell key. Cell width drives the pair fanout (w² per
    cell), so ``max_cell`` re-splits oversized cells with extra
    deterministic hyperplanes (``_subbucketed`` — requires ``dim``,
    same contract as ``cosine_pairs``): near-identical vectors agree
    on the extra sign bits with high probability, so the recall hit
    is the documented LSH trade, not a blind partition. ``None``
    disables the cap (the oracle path; never triggers at test scale).
    """
    if max_cell is not None and dim is None:
        raise ValueError(
            "semdedup: pass the embedding dimension explicitly (dim=...) "
            "when max_cell capping is enabled; it cannot be derived from "
            "an array<float> schema without running a job"
        )
    emb, _, assigned = _forgy_cells(df, vec_col, id_col, n_centroids)
    # one row per vector (id, semantic cell, vector) — persisted
    # because the self-join's two branches and the output projection
    # would otherwise each recompute the assignment agg (same policy
    # as the MinHash LSH index)
    cells = (
        assigned.join(emb, "vid")
        .select("vid", "cell", "ev", "ne")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pair_cells = cells
    if max_cell is not None:
        # cell ids are the n_centroids smallest input ids; r sized so
        # _subbucketed's split id space (starting at 2^(r+4)) clears
        # them for any dense id assignment
        r_bits = max(int(n_centroids - 1).bit_length(), 1)
        pair_cells = (
            _subbucketed(
                cells.withColumnRenamed("cell", "__bucket"),
                "ev",
                dim,
                r_bits,
                max_cell,
            )
            .withColumnRenamed("__bucket", "cell")
            .select("vid", "cell", "ev", "ne")
        )
    a = pair_cells.select(
        F.col("vid").alias("id_1"),
        F.col("cell").alias("c1"),
        F.col("ev").alias("v1"),
        F.col("ne").alias("n1"),
    )
    b = pair_cells.select(
        F.col("vid").alias("id_2"),
        F.col("cell").alias("c2"),
        F.col("ev").alias("v2"),
        F.col("ne").alias("n2"),
    )
    dups = (
        a.join(b, (F.col("c1") == F.col("c2")) & (F.col("id_1") < F.col("id_2")))
        .filter(_cos6("v1", "n1", "v2", "n2") >= threshold)
        .select(F.col("id_2").alias("vid"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return cells.select("vid", "cell").join(dups, "vid", "left").select(
        F.col("vid").alias(id_col),
        F.col("cell"),
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


def _d2s(a: Column, b: Column) -> Column:
    """Squared distance built from ROUND-6 dot products and
    integer-scaled (ROUND(d2·1e6) as BIGINT), so argmins and sums
    over it are exact integer arithmetic in any aggregation order."""
    d2 = F.round(dot(a, a), 6) + F.round(dot(b, b), 6) - 2 * F.round(dot(a, b), 6)
    return F.round(d2 * F.lit(1e6)).cast("long")


def _pq_adc(
    vecs: DataFrame,
    queries: DataFrame,
    arr: str,
    id_col: str,
    query_id: int,
    m: int,
    dsub: int,
    ksub: int,
    k: int,
) -> DataFrame:
    """PQ encode + ADC top-k, shared by ``pq_adc_topk`` and
    ``ivfadc_topk``. ``vecs`` is (vid, *keys, arr) — the vectors to
    encode; ``queries`` is (*keys, arr) — the query vector once per
    key (IVFADC keys by ``cell``: the query residual per probed
    cell). Each vector splits into ``m`` subvectors of ``dsub`` dims;
    the Forgy codebook is the subvectors of the ``ksub`` smallest
    vids; a code is the min-struct argmin of ``_d2s`` (code
    tie-break); the query distance table is (*keys, j, code, ds), and
    a vector's ADC distance sums it over its codes."""
    keys = [c for c in vecs.columns if c not in ("vid", arr)]

    def _subs(frame):
        cols = [c for c in frame.columns if c != arr]
        jcol = F.explode(F.array([F.lit(j) for j in range(m)])).alias("j")
        return frame.select(*cols, jcol, arr).select(
            *cols, "j", F.slice(arr, F.col("j") * dsub + 1, dsub).alias("sv")
        )

    cb = _subs(vecs.orderBy("vid").limit(ksub).select("vid", arr)).select(
        F.col("vid").alias("code"), "j", F.col("sv").alias("cw")
    )
    dist = _d2s(F.col("sv"), F.col("cw")).alias("ds")
    codes = (
        _subs(vecs)
        .join(F.broadcast(cb), "j")
        .groupBy("vid", *keys, "j")
        .agg(F.min(F.struct(dist, F.col("code").alias("code"))).alias("mn"))
        .select("vid", *keys, "j", F.col("mn.code").alias("code"))
    )
    qdist = (
        _subs(queries).join(F.broadcast(cb), "j").select(*keys, "j", "code", dist)
    )
    return (
        codes.filter(F.col("vid") != query_id)
        .join(F.broadcast(qdist), [*keys, "j", "code"])
        .groupBy("vid")
        .agg(F.sum("ds").alias("ss"))
        .select(
            F.col("vid").alias(id_col),
            (F.col("ss") / F.lit(1e6)).alias("adc_dist"),
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    k: int = ANN_K,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, TPAMI — the PQ
    half of IVFADC): split each vector into ``m`` subvectors of
    ``dsub`` dims, quantize each against a ``ksub``-entry per-subspace
    codebook, then answer top-k by Asymmetric Distance Computation —
    the query's exact per-(subspace, code) distance table is summed
    over each vector's codes instead of touching the raw vectors.

    Codebooks here are deterministic Forgy inits (subvectors of the
    ``ksub`` smallest ids — same convention as ``ivf_fixed_topk``), so
    encode + ADC are bit-stable across engines and the whole operator
    is hash-oracled; production swaps per-subspace seeded KMeans
    codewords in without touching the plan.

    Cross-engine determinism: every squared distance is built from
    ROUND-6 dot products, integer-scaled (ROUND(d2*1e6)::BIGINT)
    before any argmin or sum, so code assignment (min-struct with
    code tie-break) and the ADC sum are exact integer arithmetic in
    any aggregation order.

    Scale shape — the reason PQ exists at 100 TB: the codes table is
    ``m`` small ints per vector (64 doubles -> 8 codes here, a 64x
    index shrink), built with ONE broadcast join + map-side-combined
    argmin; the query's distance table (m*ksub rows) broadcasts; the
    scan is a broadcast hash join over codes + one integer groupBy —
    raw vectors are never shuffled and never rescanned per query.
    """
    emb = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    query = emb.filter(F.col("vid") == ANN_QUERY_ID).select("v")
    return _pq_adc(emb, query, "v", id_col, ANN_QUERY_ID, m, dsub, ksub, k)


def ivfadc_topk(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """IVFADC (Jégou et al. 2011): the production ANN index shape —
    coarse inverted-file cells prune the scan, product quantization
    over CELL RESIDUALS (v - centroid) compresses what remains, and
    Asymmetric Distance Computation scores candidates from a per-cell
    query distance table without touching raw vectors.

    Deterministic twin conventions throughout (Forgy centroids =
    smallest-id vectors, residual codebooks = residual subvectors of
    the PQ_KSUB smallest ids, ROUND-6 integer-scaled distances, id
    tie-breaks) so the whole index build + probe is hash-oracled;
    production swaps seeded KMeans coarse/PQ codebooks in without
    touching the plan.

    Scale shape: centroids and codebooks broadcast; the persisted
    index is (vid, cell, m codes) — a few bytes per vector; a query
    touches only IVFADC_PROBE/IVF_CENTROIDS of the codes (cell semi-join =
    partition pruning when codes are written partitioned by cell),
    scores via a broadcast (cell, j, code) distance table of
    IVFADC_PROBE·PQ_M·PQ_KSUB rows, and reduces with one integer groupBy. No
    raw-vector shuffle anywhere after the one-time encode.
    """
    emb, cent, assigned = _forgy_cells(df, vec_col, id_col, IVF_CENTROIDS)
    resid = (
        assigned.join(emb, "vid")
        .join(F.broadcast(cent), "cell")
        .select(
            "vid",
            "cell",
            F.zip_with("ev", "cv", lambda a, b: a - b).alias("rv"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    q, probe = _probe_cells(emb, cent, ANN_QUERY_ID, IVFADC_PROBE)
    qres = probe.crossJoin(F.broadcast(q)).select(
        "cell", F.zip_with("qv", "cv", lambda a, b: a - b).alias("rv")
    )
    return _pq_adc(
        resid, qres, "rv", id_col, ANN_QUERY_ID, PQ_M, PQ_DSUB, PQ_KSUB, ANN_K
    )


def cosine_topk_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
) -> DataFrame:
    """Batched brute-force ANN: top-k for MANY query vectors in one
    plan — the serving shape (embedding lookup tables answer batches,
    not single probes). The query table broadcasts onto the corpus
    scan (corpus never shuffles for the join); per-query top-k is a
    rank-filtered window partitioned by query id, so the only wide
    exchange carries (query, id, score) triples already cut down by
    the scan-side scoring.

    At 100 TB pair with rp_lsh/ivfadc pruning per query (join on the
    query's bucket/cell instead of broadcast-all); this operator is
    the exact baseline those batched probes approximate. Returns
    (qid, id, cosine, rank).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(qid_col).alias("__qid"),
        F.col(qvec_col).cast("array<double>").alias("__qv"),
        norm(F.col(qvec_col).cast("array<double>")).alias("__qn"),
    )
    # corpus norm hoisted below the fan-out: computed once per row,
    # not once per (row, query) — the batch analog of the pair-loop
    # hoist in cosine_pairs (bit-identical values)
    corpus = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__vn")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(qid_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col("__qv"))
            / (F.col("__vn") * F.col("__qn")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means over embeddings in exact integer micro-units —
    the trained-centroid stage SemDeDup-style pipelines cluster with
    (``semdedup`` uses fixed hyperplane-split centroids; this is the
    data-adaptive sibling, MacQueen 1967 / Lloyd 1982).

    Determinism contract (what makes a clustering hash-certifiable —
    impossible for MLlib's sampled-init, fp-accumulating KMeans):
      - components quantized to BIGINT micro-units up front (the
        embedding_centroids recipe), so every distance is exact
        integer arithmetic with no fp partial-sum order anywhere;
      - seeds are the k rows with the smallest
        md5("km-v1:" || id) — a pure function of the id, picked by a
        TakeOrderedAndProject heap (no global sort);
      - argmin packs (dist * k + cid) into ONE BIGINT and takes
        LEAST, so distance ties break toward the lower centroid id
        identically in any engine (dist <= 64 * (2e6)^2 ~ 2.6e14,
        * k = 2e15, well inside int64);
      - centroid update is per-dim SUM // COUNT with truncating
        integer division (Spark `div` and DuckDB `//` both truncate
        toward zero — the community_modularity precedent);
      - a cluster that loses all points keeps its previous centroid
        (spine left-join + COALESCE) instead of engine-specific
        NULL propagation.

    Plan shape (the 100 TB rationale): the quantized point table is
    persisted ONCE and every pass reads it back (InMemoryTableScan);
    per iteration, the k centroids ride in as a k-row literal
    broadcast (LocalRelation — collected to the driver as k·dim
    CONSTANT longs each round, the canonical distributed Lloyd and
    exactly MLlib's shape), the k·dim distance terms unroll to
    codegen arithmetic, and the update is ONE map-side-combinable
    hash agg whose shuffle carries k × (dim+1) longs per map task
    (the embedding_centroids shape); the empty-cluster COALESCE and
    spine join are a driver-side dict lookup over those k rows.
    Per-iteration cluster cost = one tiny broadcast + one k-row
    shuffle + one k-row collect.

    Returns (id, cluster, dist2) from the final assignment pass:
    cluster in [0, k) and the exact squared distance in micro-units²
    — hash-pinning not just the partition but the geometry.
    """
    spark = df.sparkSession
    e = F.array(
        *[
            F.round(F.col(vec_col)[i].cast("double") * 1_000_000).cast("long")
            for i in range(dim)
        ]
    )
    pts = (
        df.select(F.col(id_col).alias("id"), e.alias("e"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Seeds and per-round centroids live on the DRIVER as k×(dim+1)
    # longs — the canonical distributed Lloyd (MLlib does the same):
    # each round collects the k update rows and re-ships the k
    # centroids as a literal LocalRelation. This replaced the r10
    # checkpointed-centroid-frame shape (spine left-join + COALESCE +
    # per-iteration eager localCheckpoint): the collect is bounded by
    # the k·dim CONSTANT (8×65 longs here — the vocab-top precedent,
    # never data-sized), the spine/coalesce joins fold into a Python
    # dict lookup, and the per-iteration Catalyst analysis tree
    # shrinks to scan+project+agg — measured 8.8 s → ~4 s of almost
    # pure driver time at sf0.1 (exec was 0.14 s throughout). Every
    # value stays an exact integer: the TakeOrderedAndProject seed
    # heap, the packed-bigint argmin, and the truncating-toward-zero
    # centroid division are bit-identical to the r10 frame algebra
    # (tests/test_similarity.py pins the literal-Python twin).
    seed_h = F.md5(
        F.concat(F.lit(KMEANS_SEED_TAG + ":"), F.col("id").cast("string"))
    )
    seed_rows = (
        pts.withColumn("h", seed_h).orderBy("h", "id").limit(k).collect()
    )
    cents_py = [list(r["e"]) for r in seed_rows]  # cid = list index

    def assign(cents_now: list[list[int]]) -> DataFrame:
        # broadcast the k-row literal centroid table onto the points
        # (each point sees k rows), compute the dim-term squared
        # distance as unrolled codegen arithmetic, and take the
        # packed-bigint MIN per point — a map-side-combined argmin
        # (the PQ-encode shape) whose partial agg collapses the
        # k-fan-out back to one row per point BEFORE the exchange. A
        # fully-unrolled LEAST-over-k·dim projection would avoid that
        # exchange but costs k× the expression nodes — measured
        # 15s/iteration of pure plan analysis+codegen at k=8·dim=64
        # vs ~1s for this shape; at real scale the argmin exchange
        # carries one long per point and AQE coalesces it.
        # Arrow-backed createDataFrame: the k rows land as JVM-side
        # Arrow batches (no Python worker task at execution, unlike
        # plain createDataFrame-from-list) and the plan carries NO
        # per-round literals, so the generated code is identical
        # every iteration and Janino's cache hits (embedding the
        # centroid values as literals recompiled codegen per round —
        # measured slower than the r10 checkpoint shape).
        import pandas as pd

        cents_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cid": list(range(len(cents_now))),
                    "c": list(cents_now),
                }
            ),
            "cid int, c array<bigint>",
        )
        d = None
        for i in range(dim):
            t = (F.col("e")[i] - F.col("c")[i]) * (F.col("e")[i] - F.col("c")[i])
            d = t if d is None else d + t
        return (
            pts.crossJoin(F.broadcast(cents_df))
            .select("id", "e", (d * F.lit(k) + F.col("cid")).alias("p"))
            .groupBy("id", "e")
            .agg(F.min("p").alias("pack"))
        )

    def _tdiv(s: int, n: int) -> int:
        # Spark `div` / DuckDB `//` truncate toward ZERO; Python //
        # floors — replicate truncation exactly for negative sums
        q = abs(s) // n
        return q if s >= 0 else -q

    for _ in range(iters):
        a = assign(cents_py)
        upd_rows = (
            a.groupBy(F.pmod(F.col("pack"), F.lit(k)).alias("cid"))
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("e")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        new = {
            int(r["cid"]): [_tdiv(r[f"s{i}"], r["n"]) for i in range(dim)]
            for r in upd_rows
        }
        # a cluster that lost all points keeps its previous centroid
        cents_py = [new.get(cid, cents_py[cid]) for cid in range(k)]

    final = assign(cents_py)
    out = final.select(
        "id",
        F.pmod(F.col("pack"), F.lit(k)).cast("long").alias("cluster"),
        F.expr(f"pack div {k}").alias("dist2"),
    )
    return out
