"""Graph analytics, walk/PMI/embedding pipeline, ANN evaluation, CF,
NB classification, IVM, CDC, scan primitives (rounds 5-10).
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.text_clean import ALL_STOPWORDS, word_count
from .operators import relational as R
from .operators import similarity as S
from .operators.relational import cap_hot_keys
from .operators import textstats as TS
from .operators.graph import (
    N2V_W_FAR,
    N2V_W_NEAR,
    N2V_W_RETURN,
    PR_DAMPING_PCT,
    PR_SCALE,
)
from .operators.traindata import md5_int
from .queries_base import register, STOPWORDS_SQL
from .q_traindata import _BUCKET_SQL  # noqa: F401


# --------------------------------------------------------------------
# graph analytics / ANN evaluation / scan primitives / CDC (round 5)
# --------------------------------------------------------------------

# The certified iteration counts and sizes. Each is read by a query's
# Spark plan and by its unrolled DuckDB oracle, so the two cannot
# drift apart.
_PR_ITERS = 3  # PageRank and personalized-PageRank rounds
_PPR_SEEDS = 3  # personalized-PageRank seed suppliers
_KNN_K = 3  # strongest ties kept per supplier in the mutual-kNN graph
_LPA_ITERS = 3  # label-propagation rounds
_WALK_STEPS = 4  # hops per random / node2vec walk
_EMB_DIMS = 4  # subspace-iteration embedding dimensions
_EMB_ITERS = 3  # subspace-iteration rounds
_TEXTRANK_ITERS = 3
_KCORE_K = 2
_KCORE_ROUNDS = 4
_HITS_ITERS = 3
_HITS_SCALE = 1_000_000  # HITS scores are integer micro-units


# the ONE customer↔supplier bipartite edge set shared by the three
# graph queries (pagerank / link prediction / triangle count) — Spark
# build and oracle-SQL fragment kept in lockstep here so the graphs
# can never drift apart
_BIPROJ_SQL = (
    "SELECT DISTINCT o_custkey AS c, l_suppkey AS s "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
)


def _supplier_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


# strong-tie supplier projection: the top-2000 supplier pairs by
# integer-ppm common-customer Jaccard (rank-based sparsification — a
# fixed absolute threshold goes vacuous as density shifts with scale;
# top-M keeps downstream graph ops bounded AND non-trivial at every
# sf). Used by triangle_count_suppliers (SQL twin: _STRONG_TIE_CTES);
# community_detection_suppliers deliberately does NOT reuse it — the
# global top-2000 cut is near-complete at small node counts and floods
# LPA to one community, so that query builds its own mutual-kNN
# projection.
_STRONG_TIE_CTES = (
    f"e0 AS ({_BIPROJ_SQL}), "
    "deg AS (SELECT s, COUNT(*) AS d FROM e0 GROUP BY s), "
    "cn AS (SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cn "
    "FROM e0 a JOIN e0 b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2), "
    "e AS (SELECT s1, s2 FROM cn "
    "JOIN deg d1 ON s1 = d1.s JOIN deg d2 ON s2 = d2.s "
    "ORDER BY cn * 1000000 // (d1.d + d2.d - cn) DESC, s1, s2 "
    "LIMIT 2000)"
)


# integer-ppm common-customer Jaccard of a supplier pair, over the
# columns _supplier_pairs returns
_JACCARD_PPM = "cn * 1000000 div (d1 + d2 - cn)"


def _supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier pairs s1 < s2 that share a customer: common-customer
    count ``cn`` and both supplier degrees ``d1``/``d2`` over the
    hot-basket-capped projection, ready to score with
    ``F.expr(_JACCARD_PPM)``. The cap (never binding at test scale;
    pytest pins both the bound and the no-op case) also bounds the
    degrees, so Jaccard stays exact over the capped universe."""
    e0 = cap_hot_keys(_supplier_projection(spark, sf_dir), "c", 10_000)
    deg = e0.groupBy("s").agg(F.count("*").alias("d"))
    # renames above one explicit customer-keyed repartition: both
    # self-join sides reuse a single shuffle stage, so the
    # scan⋈distinct⋈cap subtree derives once, and the pair stage runs
    # at full width
    e0r = e0.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "c"
    )
    cn = (
        e0r.select("c", F.col("s").alias("s1"))
        .join(e0r.select("c", F.col("s").alias("s2")), "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("cn"))
    )
    return cn.join(
        deg.select(F.col("s").alias("s1"), F.col("d").alias("d1")), "s1"
    ).join(deg.select(F.col("s").alias("s2"), F.col("d").alias("d2")), "s2")


def _strong_tie_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _STRONG_TIE_CTES's ``e``: the top-2000 supplier
    pairs by Jaccard with a full tie-break, lazy."""
    return (
        _supplier_pairs(spark, sf_dir)
        .orderBy(F.desc(F.expr(_JACCARD_PPM)), "s1", "s2")
        .limit(2000)
    )


def _strong_tie_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strong-tie cut as (s1, s2) with s1 < s2, persisted
    (downstream graph ops re-read the cut several times)."""
    return _strong_tie_cut(spark, sf_dir).select("s1", "s2").persist()


def _pr_unroll_sql(iters: int) -> tuple[str, str]:
    """The unrolled integer-PageRank CTE chain (twin of
    operators.graph.pagerank's loop, DuckDB `//` arithmetic).
    Expects CTEs ``edges(src,dst)``, ``nodes(node)``, ``deg(src,d)``,
    ``n(n)``, ``r0(node,r)`` to exist; returns (fragment,
    final_cte_name). Shared by every PageRank-family oracle so the
    iteration arithmetic is written once."""
    prev = "r0"
    its = []
    for i in range(1, iters + 1):
        its.append(
            f"i{i} AS (SELECT e.dst AS node, SUM(r.r // d.d) AS s "
            f"FROM edges e JOIN {prev} r ON e.src = r.node "
            f"JOIN deg d ON e.src = d.src GROUP BY e.dst), "
            f"r{i} AS (SELECT nodes.node, "
            f"({100 - PR_DAMPING_PCT} * {PR_SCALE}) // (100 * n.n) "
            f"+ ({PR_DAMPING_PCT} * COALESCE(i{i}.s, 0)) // 100 "
            f"AS r FROM nodes CROSS JOIN n "
            f"LEFT JOIN i{i} ON nodes.node = i{i}.node)"
        )
        prev = f"r{i}"
    return ", ".join(its), prev


def _pagerank_oracle_sql() -> str:
    """Unrolled integer-PageRank twin of operators.graph.pagerank:
    same teleport/damping integral arithmetic with DuckDB's `//`."""
    unroll, last = _pr_unroll_sql(_PR_ITERS)
    return (
        f"WITH e0 AS ({_BIPROJ_SQL}), "
        "pairs AS (SELECT DISTINCT 'c' || CAST(c AS VARCHAR) AS c, "
        "'s' || CAST(s AS VARCHAR) AS s FROM e0), "
        "edges AS (SELECT c AS src, s AS dst FROM pairs "
        "UNION ALL SELECT s AS src, c AS dst FROM pairs), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), "
        "n AS (SELECT COUNT(*) AS n FROM nodes), "
        f"r0 AS (SELECT node, {PR_SCALE} // n.n AS r FROM nodes CROSS JOIN n), "
        + unroll
        + f" SELECT node, CAST(r AS BIGINT) AS pr_scaled FROM {last} "
        "ORDER BY pr_scaled DESC, node LIMIT 20"
    )


@register("pagerank_copurchase", _pagerank_oracle_sql())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node importance over the customer↔supplier co-purchase graph:
    3 fixed PageRank iterations (operators/graph.py), top-20 hubs.

    The graph surface the dedup connected-components operator
    (dedup.py:505) doesn't cover: iterative rank propagation as ONE
    lazy DAG — per iteration one node-keyed hash join + one hash agg,
    the canonical Pregel-style shape. Integer-scaled rank units make
    every SUM exact integer math, so the result is independent of
    partial-agg order and the DuckDB oracle unrolls the identical
    iterations. At 100 TB: edges shuffle on node ids (uniform here;
    power-law hubs take the salted_join path), no driver-side state."""
    from .operators.graph import pagerank

    pairs = _supplier_projection(spark, sf_dir).select(
        F.concat(F.lit("c"), F.col("c")).alias("c"),
        F.concat(F.lit("s"), F.col("s")).alias("s"),
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, "src", "dst", iters=_PR_ITERS)
    return pr.orderBy(F.desc("pr_scaled"), "node").limit(20)


def _knn_edges_ctes() -> str:
    """The mutual-kNN supplier graph CTE chain (SQL twin of
    _supplier_knn_edges), ending in the MATERIALIZED ``edges``
    relation. Shared by the LPA-family and random-walk oracles."""
    return (
        f"WITH e0 AS ({_BIPROJ_SQL}), "
        "deg AS (SELECT s, COUNT(*) AS d FROM e0 GROUP BY s), "
        "cno AS (SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cn "
        "FROM e0 a JOIN e0 b ON a.c = b.c AND a.s < b.s "
        "GROUP BY 1, 2), "
        "cnp AS (SELECT s1, s2, cn FROM cno "
        "UNION ALL SELECT s2, s1, cn FROM cno), "
        "sc AS (SELECT s1, s2, cn * 1000000 // (d1.d + d2.d - cn) AS j "
        "FROM cnp JOIN deg d1 ON s1 = d1.s JOIN deg d2 ON s2 = d2.s), "
        "rk AS (SELECT s1, s2, row_number() OVER "
        "(PARTITION BY s1 ORDER BY j DESC, s2) AS rn FROM sc), "
        f"knn AS (SELECT s1, s2 FROM rk WHERE rn <= {_KNN_K}), "
        "edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM knn "
        "UNION SELECT s2, s1 FROM knn)"
    )


def _ppr_oracle_sql() -> str:
    """Unrolled integer personalized-PageRank twin of operators.
    graph.pagerank with seeds over the co-purchase graph: teleport
    mass returns ONLY to the seed set (the _PPR_SEEDS smallest supplier
    keys in the projection). edges/nodes/deg/sd are MATERIALIZED —
    every unrolled iteration re-reads them."""
    tele = f"({100 - PR_DAMPING_PCT} * {PR_SCALE}) // (100 * k)"
    parts = [
        f"WITH e0 AS ({_BIPROJ_SQL}), "
        "pairs AS (SELECT DISTINCT 'c' || CAST(c AS VARCHAR) AS c, "
        "'s' || CAST(s AS VARCHAR) AS s FROM e0), "
        "edges AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs "
        "UNION ALL SELECT s AS src, c AS dst FROM pairs), "
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges), "
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges "
        "GROUP BY src), "
        "sd AS MATERIALIZED (SELECT 's' || CAST(s AS VARCHAR) AS node "
        f"FROM (SELECT DISTINCT s FROM e0 ORDER BY s LIMIT {_PPR_SEEDS})), "
        "ns AS (SELECT COUNT(*) AS k FROM sd), "
        "r0 AS (SELECT nodes.node, CASE WHEN sd.node IS NOT NULL THEN "
        f"{PR_SCALE} // k ELSE 0 END AS r FROM nodes CROSS JOIN ns "
        "LEFT JOIN sd ON nodes.node = sd.node)"
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f", i{i} AS (SELECT e.dst AS node, SUM(r.r // d.d) AS s "
            f"FROM edges e JOIN {prev} r ON e.src = r.node "
            "JOIN deg d ON e.src = d.src GROUP BY e.dst)"
            f", r{i} AS (SELECT nodes.node, "
            f"CASE WHEN sd.node IS NOT NULL THEN {tele} ELSE 0 END "
            f"+ ({PR_DAMPING_PCT} * COALESCE(i{i}.s, 0)) // 100 AS r "
            "FROM nodes CROSS JOIN ns "
            "LEFT JOIN sd ON nodes.node = sd.node "
            f"LEFT JOIN i{i} ON nodes.node = i{i}.node)"
        )
        prev = f"r{i}"
    parts.append(
        f" SELECT node, CAST(r AS BIGINT) AS ppr_scaled FROM {prev} "
        "ORDER BY ppr_scaled DESC, node LIMIT 20"
    )
    return "".join(parts)


@register("ppr_related_entities", _ppr_oracle_sql())
def ppr_related_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random-walk-with-restart from a seed
    set (graph.pagerank with seeds): proximity of every
    customer/supplier node to the 3 smallest-key suppliers over the
    co-purchase graph, top-20 — the graph-based "related entities"
    recommender (Tong et al. 2006 RWR; at corpus scale: documents /
    hosts related to a trusted seed set, the seed-expansion shape
    quality-curation pipelines use, cf. Common-Crawl host ranking
    from trusted seeds). Global pagerank measures importance;
    restarting ALL teleport mass at the seeds measures proximity TO
    them. Same exact-integer iteration as pagerank_copurchase (the
    oracle unrolls it with seed-conditional teleport), same persisted
    edge-table contract. At 100 TB: identical shuffle shape to
    pagerank — node-keyed joins + map-combinable sums; the seed flag
    is a broadcast left join."""
    from .operators.graph import pagerank

    proj = _supplier_projection(spark, sf_dir)
    pairs = proj.select(
        F.concat(F.lit("c"), F.col("c")).alias("c"),
        F.concat(F.lit("s"), F.col("s")).alias("s"),
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = (
        proj.select("s")
        .distinct()
        .orderBy("s")
        .limit(_PPR_SEEDS)
        .select(F.concat(F.lit("s"), F.col("s")).alias("node"))
    )
    pr = pagerank(edges, "src", "dst", seeds, iters=_PR_ITERS)
    return (
        pr.orderBy(F.desc("pr_scaled"), "node")
        .limit(20)
        .withColumnRenamed("pr_scaled", "ppr_scaled")
    )


def _lpa_oracle_sql(final: str | None = None) -> str:
    """Unrolled synchronous-LPA twin of operators.graph.
    label_propagation over the mutual-kNN supplier graph (pure
    integer Jaccard-ppm scores, row_number kNN cut, integer vote
    counts + MIN tie-break — hash-exact cross-engine).

    The multiply-referenced CTEs are MATERIALIZED: DuckDB inlines
    CTEs by default, and the unrolled iterations reference ``edges``
    ``_LPA_ITERS`` times and each ``lab`` twice — inlining re-runs the
    ~10⁹-row pair join once per reference and exhausts temp disk at
    sf0.1 (the localCheckpoint lesson, relationally)."""
    parts = [
        _knn_edges_ctes()
        + ", lab0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl "
        "FROM edges)"
    ]
    prev = "lab0"
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f", v{i} AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt "
            f"FROM edges e JOIN {prev} l ON e.src = l.node "
            "GROUP BY e.dst, l.lbl)"
            f", m{i} AS (SELECT node, MAX(cnt) AS mc FROM v{i} "
            "GROUP BY node)"
            f", w{i} AS (SELECT v.node, MIN(v.lbl) AS new_lbl "
            f"FROM v{i} v JOIN m{i} m ON v.node = m.node "
            "AND v.cnt = m.mc GROUP BY v.node)"
            f", lab{i} AS MATERIALIZED (SELECT l.node, "
            "COALESCE(w.new_lbl, l.lbl) AS lbl "
            f"FROM {prev} l LEFT JOIN w{i} w ON l.node = w.node)"
        )
        prev = f"lab{i}"
    parts.append(
        final.format(last=prev)
        if final is not None
        else f" SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS "
        f"n_members FROM {prev} GROUP BY lbl"
    )
    return "".join(parts)


@register("community_detection_suppliers", _lpa_oracle_sql())
def community_detection_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection over the strong-tie supplier graph: 3
    synchronous label-propagation iterations (operators/graph.py::
    label_propagation — most-frequent neighbor label, MIN tie-break),
    reduced to (community, n_members). The graph-family member the
    PageRank/CC/SSSP/triangle surface lacked: partitioning a graph
    into behavioral groups (supplier cliques here; host-level crawl
    communities at corpus scale). The bipartite projection is
    sparsified to each node's 3 strongest ties by integer-ppm
    common-customer Jaccard (mutual-kNN graph, symmetrized) — the
    global top-M cut the triangle query uses is near-complete at
    small node counts and floods to ONE community, while raw
    bipartite LPA oscillates degenerately on 2-colorable graphs;
    per-node kNN keeps local cluster structure at every sf. Pure
    integer scores, row_number cut, and integer vote counts with a
    total tie order keep the unrolled DuckDB oracle hash-exact. At
    100 TB: the kNN window partitions by node id, per-iteration
    shuffles key on node ids, the vote tally is map-side combinable,
    and hub nodes take the salted-join path (PLANS.md graph
    family)."""
    from .operators.graph import label_propagation

    edges = _supplier_knn_edges(spark, sf_dir)
    lp = label_propagation(edges, "s1", "s2", iters=_LPA_ITERS)
    return lp.groupBy("community").agg(
        F.count("*").cast("long").alias("n_members")
    )


def _supplier_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mutual-kNN supplier graph (symmetrized top-3 integer-ppm
    common-customer Jaccard ties) shared by
    community_detection_suppliers and community_modularity."""
    # score the ordered pairs once (the pair join is the dominant
    # cost: Σ per-customer-degree² rows), then emit both directions of
    # each scored pair for the per-node window — Jaccard is symmetric.
    # inline, not a union: a union would carry the whole pair subtree
    # twice through analysis and planning
    sc = _supplier_pairs(spark, sf_dir).select(
        "s1", "s2", F.expr(_JACCARD_PPM).alias("j")
    )
    scp = sc.select(
        F.inline(
            F.array(
                F.struct("s1", "s2", "j"),
                F.struct(F.col("s2").alias("s1"), F.col("s1").alias("s2"), "j"),
            )
        )
    )
    w = Window.partitionBy("s1").orderBy(F.desc("j"), "s2")
    knn = (
        scp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("s1", "s2")
    )
    return knn.union(
        knn.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"))
    ).distinct()


_MODULARITY_FINAL = (
    ", dg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src)"
    ", mm AS (SELECT COUNT(*) AS m2 FROM edges)"
    ", intra AS (SELECT l1.lbl AS community, COUNT(*) AS ie "
    "FROM edges e JOIN {last} l1 ON e.src = l1.node "
    "JOIN {last} l2 ON e.dst = l2.node "
    "WHERE l1.lbl = l2.lbl GROUP BY 1)"
    ", agg AS (SELECT l.node, l.lbl AS community, d FROM {last} l "
    "JOIN dg ON l.node = dg.node)"
    ", cs AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_members, "
    "CAST(SUM(d) AS BIGINT) AS deg_sum FROM agg GROUP BY 1) "
    "SELECT cs.community, cs.n_members, "
    "CAST(COALESCE(ie, 0) AS BIGINT) AS intra_edges, cs.deg_sum, "
    "CAST((COALESCE(ie, 0) * m2 - cs.deg_sum * cs.deg_sum) * 1000000 "
    "// (m2 * m2) AS BIGINT) AS q_ppm "
    "FROM cs LEFT JOIN intra ON cs.community = intra.community "
    "CROSS JOIN mm"
)


@register("community_modularity", _lpa_oracle_sql(final=_MODULARITY_FINAL))
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contribution per LPA community — community
    QUALITY, not just labels: for each community c over the same
    mutual-kNN supplier graph, q_c = e_c/2m − (deg_c/2m)², emitted
    as the exact integer q_ppm = (e_c·2m − deg_c²)·10⁶ div (2m)²
    alongside (n_members, intra_edges, deg_sum). Σ q_c is Newman's Q
    — the standard community-structure score (Q≈0: no better than
    random given degrees; well-separated graphs ≈0.3-0.7). One
    division per community AFTER all-integer numerators keeps both
    engines bit-equal (Spark `div` and DuckDB `//` both truncate
    toward zero, verified on negatives — contributions CAN be
    negative for over-connected communities). At 100 TB: two label
    joins on node ids + two community-keyed aggs on top of the LPA
    DAG; 2m is a 1-row broadcast."""
    from .operators.graph import label_propagation

    # eager-checkpoint the kNN graph ONCE: LPA checkpoints its own
    # copy internally, but the degree / 2m / intra legs below would
    # otherwise each re-derive the Σdeg² pair join (measured ~6 s of
    # the 11 s total at sf0.1)
    edges = _supplier_knn_edges(spark, sf_dir).localCheckpoint(eager=True)
    lab = label_propagation(edges, "s1", "s2", iters=_LPA_ITERS)
    dg = edges.groupBy(F.col("s1").alias("node")).agg(
        F.count("*").alias("d")
    )
    m2 = F.broadcast(edges.agg(F.count("*").alias("m2")))
    intra = (
        edges.join(
            lab.select(F.col("node").alias("s1"), F.col("community").alias("c1")),
            "s1",
        )
        .join(
            lab.select(F.col("node").alias("s2"), F.col("community").alias("c2")),
            "s2",
        )
        .filter(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("community"))
        .agg(F.count("*").alias("ie"))
    )
    cs = (
        lab.join(dg, "node")
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("d").cast("long").alias("deg_sum"),
        )
    )
    return (
        cs.join(intra, "community", "left")
        .join(m2)
        .select(
            "community",
            "n_members",
            F.coalesce("ie", F.lit(0)).cast("long").alias("intra_edges"),
            "deg_sum",
            F.expr(
                "(coalesce(ie, 0) * m2 - deg_sum * deg_sum) * 1000000 "
                "div (m2 * m2)"
            )
            .cast("long")
            .alias("q_ppm"),
        )
    )


def _rw_oracle_sql(final: str | None = None) -> str:
    """Unrolled deterministic-random-walk twin of operators.graph.
    random_walks over the mutual-kNN supplier graph: same md5 pick
    arithmetic, same id-ordered adjacency ranks. ``adj`` is
    MATERIALIZED (every step re-reads it — the relational analog of
    the persisted adjacency table)."""
    parts = [
        _knn_edges_ctes()
        + ", adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn, "
        "COUNT(*) OVER (PARTITION BY src) AS d FROM edges)"
        ", w0 AS (SELECT DISTINCT CAST(src AS VARCHAR) || '#0' AS walk, "
        "src AS node FROM edges)"
    ]
    prev = "w0"
    for t in range(1, _WALK_STEPS + 1):
        parts.append(
            f", w{t} AS (SELECT w.walk, a.dst AS node FROM {prev} w "
            "JOIN adj a ON a.src = w.node AND a.rn = "
            "CAST(('0x' || substr(md5("
            f"'rw-v1:' || w.walk || ':{t}:' || CAST(w.node AS VARCHAR)"
            "), 1, 12)) AS BIGINT) % a.d)"
        )
        prev = f"w{t}"
    sel = " UNION ALL ".join(
        f"SELECT walk, {t} AS step, node FROM w{t}"
        for t in range(_WALK_STEPS + 1)
    )
    parts.append(f", corpus AS MATERIALIZED (SELECT * FROM ({sel}))")
    parts.append(
        final
        if final is not None
        else " SELECT walk, CAST(step AS INT) AS step, "
        "CAST(node AS BIGINT) AS node FROM corpus"
    )
    return "".join(parts)


@register("graph_random_walks", _rw_oracle_sql())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the mutual-kNN supplier
    graph (graph.random_walks): one 4-hop walk per node, step t
    picking the md5("rw-v1:walk:t:node") mod deg ranked neighbor —
    the DeepWalk/node2vec SAMPLING stage (the walk corpus that
    feeds skip-gram embedding training) with the PRNG swapped for
    the engine's md5 flavor, so every trajectory is a pure function
    of the graph: reproducible across runs/engines/partitionings
    and hash-certified by an unrolled DuckDB oracle (per-step md5
    arithmetic replayed relationally). Real node2vec's per-executor
    RNG cannot be certified at all — determinism is what makes a
    100 TB walk corpus re-materializable per epoch, like
    kfold_split for graphs. Plan: ranked adjacency built once and
    persisted (pagerank edge-table contract), each step ONE
    node-keyed hash join; frontier lineage is linear (no LPA-style
    doubling). At scale: frontiers shuffle on node id; walks scale
    embarrassingly."""
    from .operators.graph import random_walks

    edges = _supplier_knn_edges(spark, sf_dir)
    out = random_walks(edges, "s1", "s2", steps=_WALK_STEPS, walks_per_node=1)
    return out.select(
        "walk",
        F.col("step").cast("int").alias("step"),
        F.col("node").cast("long").alias("node"),
    )


def _n2v_oracle_sql() -> str:
    """Unrolled second-order node2vec twin of operators.graph.
    node2vec_walks: per step, candidate fan-out ⋈ near-flag left
    join ⋈ per-walk cumulative-weight window ⋈ md5 interval pick —
    identical integer arithmetic. adj is MATERIALIZED (read every
    step); edges already is (near-flag probes)."""
    md5_48 = (
        "CAST(('0x' || substr(md5('n2v-v1:' || {salt}), 1, 12)) "
        "AS BIGINT)"
    )
    parts = [
        _knn_edges_ctes()
        + ", adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn, "
        "COUNT(*) OVER (PARTITION BY src) AS d FROM edges)"
        ", w0 AS (SELECT DISTINCT CAST(src AS VARCHAR) || '#0' AS walk, "
        "src AS cur FROM adj)"
        ", st1 AS MATERIALIZED (SELECT w.walk, w.cur AS prev, "
        "a.dst AS cur FROM w0 w JOIN adj a ON a.src = w.cur AND a.rn = "
        + md5_48.format(salt="w.walk || ':1:' || CAST(w.cur AS VARCHAR)")
        + " % a.d)"
    ]
    prev = "st1"
    for t in range(2, _WALK_STEPS + 1):
        salt = (
            f"walk || ':{t}:' || CAST(prev AS VARCHAR) || ':' || "
            "CAST(cur AS VARCHAR)"
        )
        parts.append(
            f", c{t} AS (SELECT s.walk, s.prev, s.cur, a.dst AS x "
            f"FROM {prev} s JOIN adj a ON a.src = s.cur)"
            f", n{t} AS (SELECT c.walk, c.prev, c.cur, c.x, "
            f"CASE WHEN c.x = c.prev THEN {N2V_W_RETURN} "
            f"WHEN ef.src IS NOT NULL THEN {N2V_W_NEAR} "
            f"ELSE {N2V_W_FAR} END AS wt "
            f"FROM c{t} c LEFT JOIN edges ef "
            "ON ef.src = c.prev AND ef.dst = c.x)"
            f", st{t} AS MATERIALIZED (SELECT walk, cur AS prev, x AS cur "
            "FROM (SELECT *, h % tot AS r FROM (SELECT walk, prev, cur, "
            "x, wt, SUM(wt) OVER (PARTITION BY walk ORDER BY x) AS cum, "
            "SUM(wt) OVER (PARTITION BY walk) AS tot, "
            + md5_48.format(salt=salt)
            + f" AS h FROM n{t})) WHERE cum - wt <= r AND r < cum)"
        )
        prev = f"st{t}"
    sel = " UNION ALL ".join(
        ["SELECT walk, 0 AS step, cur AS node FROM w0"]
        + [
            f"SELECT walk, {t} AS step, cur AS node FROM st{t}"
            for t in range(1, _WALK_STEPS + 1)
        ]
    )
    parts.append(
        f" SELECT walk, CAST(step AS INT) AS step, "
        f"CAST(node AS BIGINT) AS node FROM ({sel})"
    )
    return "".join(parts)


@register("node2vec_biased_walks", _n2v_oracle_sql())
def node2vec_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full second-order node2vec sampling over the mutual-kNN
    supplier graph (graph.node2vec_walks): the (p, q)-biased
    transition — return weight 1/p, triangle-closing weight 1,
    exploration weight 1/q, here p=2 q=0.5 in integer milli-units
    (500/1000/2000) — drawn by md5 interval pick over each node's
    id-ordered cumulative weights. The first-order graph_random_walks
    corpus is the p=q=1 special case; this is the real
    BFS/DFS-interpolating sampler from the paper, still a pure
    function of the graph and still hash-certified by an unrolled
    DuckDB oracle (candidate fan-out, near-flag left join, per-walk
    cumulative-weight window, interval pick — replayed step by
    step). At 100 TB: per biased step one node-keyed adjacency join
    (≤ deg fan-out), one (prev, x) hash probe against the persisted
    edge set, one per-walk window over ≤ deg rows; nothing
    quadratic, frontier lineage linear."""
    from .operators.graph import node2vec_walks

    edges = _supplier_knn_edges(spark, sf_dir)
    out = node2vec_walks(edges, "s1", "s2", steps=_WALK_STEPS)
    return out.select(
        "walk",
        F.col("step").cast("int").alias("step"),
        F.col("node").cast("long").alias("node"),
    )


_NEG_SAMPLE_FINAL = (
    # unigram^0.75 via exact integer floors: floor(x^(3/4)) =
    # floor(sqrt(floor(sqrt(x^3)))) — nested correctly-rounded
    # sqrt + floor is engine-identical below 2^53
    ", uni AS (SELECT node, COUNT(*) AS cnt FROM corpus GROUP BY 1), "
    "wts AS (SELECT node, CAST(FLOOR(SQRT(FLOOR(SQRT("
    "CAST(cnt * cnt * cnt AS DOUBLE))))) AS BIGINT) AS w FROM uni), "
    "cum AS (SELECT node, w, SUM(w) OVER (ORDER BY node "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi "
    "FROM wts), "
    "rng AS (SELECT node, hi - w AS lo, hi FROM cum), "
    "tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wts), "
    "draws AS (SELECT u.node AS center, r, "
    "CAST(('0x' || substr(md5('neg-v1:' || CAST(u.node AS VARCHAR) "
    "|| ':' || CAST(r AS VARCHAR)), 1, 12)) AS BIGINT) % tw AS d "
    "FROM uni u CROSS JOIN (SELECT CAST(unnest(range(3)) AS INT) AS r) "
    "CROSS JOIN tot) "
    "SELECT CAST(center AS BIGINT) AS center, r, "
    "CAST(rng.node AS BIGINT) AS neg, CAST(d AS BIGINT) AS draw "
    "FROM draws JOIN rng ON d >= lo AND d < hi"
)


@register(
    "skipgram_negative_samples", _rw_oracle_sql(final=_NEG_SAMPLE_FINAL)
)
def skipgram_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling from the walk-corpus unigram
    distribution raised to 3/4 (Mikolov et al. 2013's noise
    distribution — the third and final stage of the embedding
    training-data pipeline: walks → skip-gram pairs → negatives):
    3 negatives per corpus node, drawn as md5("neg-v1:center:r") mod
    Σw over the id-ordered cumulative-weight ranges — the relational
    form of the alias table, with the PRNG swapped for the engine md5
    flavor so the ENTIRE negative set is hash-certified. The ^0.75
    weights are exact integer floors (w = ⌊√⌊√cnt³⌋⌋ = ⌊cnt^0.75⌋ —
    nested correctly-rounded sqrt is engine-identical below 2^53, no
    cross-engine pow). Collision with the center is kept, not
    resampled (word2vec resamples; the certified variant emits the
    raw draw — filter downstream). Plan: unigram counts = one hash
    agg over the checkpointed corpus; the cumulative window runs on
    the ≤|vocab| weight table (Heaps-bounded — the inverted-index
    vocab-cut argument); draws probe the broadcast range table. At
    100 TB the probe is a binary search over a broadcast array; here
    the |vocab|-row broadcast join carries the same semantics."""
    from .operators.graph import random_walks

    edges = _supplier_knn_edges(spark, sf_dir)
    corpus = random_walks(edges, "s1", "s2", steps=_WALK_STEPS).localCheckpoint(
        eager=True
    )
    uni = corpus.groupBy("node").agg(F.count("*").alias("cnt"))
    wts = uni.select(
        "node",
        F.floor(
            F.sqrt(
                F.floor(
                    F.sqrt((F.col("cnt") * F.col("cnt") * F.col("cnt"))
                           .cast("double"))
                )
            )
        )
        .cast("long")
        .alias("w"),
    )
    cum_w = Window.orderBy("node").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rng = (
        wts.withColumn("hi", F.sum("w").over(cum_w))
        .select("node", (F.col("hi") - F.col("w")).alias("lo"), "hi")
    )
    tot = F.broadcast(wts.agg(F.sum("w").cast("long").alias("tw")))
    draws = (
        uni.select(F.col("node").alias("center"))
        .join(
            F.broadcast(
                spark.range(3).select(F.col("id").cast("int").alias("r"))
            )
        )
        .join(tot)
        .select(
            "center",
            "r",
            F.pmod(
                md5_int(
                    F.concat(
                        F.lit("neg-v1:"),
                        F.col("center").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    ),
                    12,
                ),
                F.col("tw"),
            ).alias("d"),
        )
    )
    return (
        draws.join(
            F.broadcast(rng),
            (F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")),
        )
        .select(
            F.col("center").cast("long").alias("center"),
            "r",
            F.col("node").cast("long").alias("neg"),
            F.col("d").cast("long").alias("draw"),
        )
    )


_SKIPGRAM_FINAL = (
    ", pr AS (SELECT a.node AS center, b.node AS context "
    "FROM corpus a JOIN corpus b ON a.walk = b.walk "
    "AND a.step <> b.step AND abs(a.step - b.step) <= 2), "
    "pc AS (SELECT center, context, COUNT(*) AS n_ab FROM pr "
    "GROUP BY 1, 2), "
    "ctr AS (SELECT center, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pc "
    "GROUP BY 1), "
    "ctx AS (SELECT context, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pc "
    "GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pc), "
    "sg AS (SELECT pc.center, pc.context, pc.n_ab, "
    "CAST(ROUND(1000 * ln((CAST(pc.n_ab AS DOUBLE) * n) / "
    "(CAST(n_a AS DOUBLE) * n_b))) AS BIGINT) AS pmi_milli "
    "FROM pc JOIN ctr ON pc.center = ctr.center "
    "JOIN ctx ON pc.context = ctx.context CROSS JOIN tot) "
    "SELECT CAST(center AS BIGINT) AS center, "
    "CAST(context AS BIGINT) AS context, "
    "CAST(n_ab AS BIGINT) AS n_ab, pmi_milli FROM sg "
    "ORDER BY pmi_milli DESC, center, context LIMIT 50"
)


def _walk_pmi(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Walk corpus -> ±2-window skip-gram pairs -> PMI over an (s1, s2)
    edge table. Returns (corpus, pmi): the eager-checkpointed
    random_walks corpus (the pair self-join reads it twice) and
    (center, context, n_ab, pmi_milli), the pair counts scored in
    integer milli-nats — one double ratio ln'd and rounded per pair
    (the NB recipe)."""
    from .operators.graph import random_walks

    corpus = random_walks(edges, "s1", "s2", steps=_WALK_STEPS).localCheckpoint(
        eager=True
    )
    a, b = corpus.alias("a"), corpus.alias("b")
    pr = a.join(
        b,
        (F.col("a.walk") == F.col("b.walk"))
        & (F.col("a.step") != F.col("b.step"))
        & (F.abs(F.col("a.step") - F.col("b.step")) <= 2),
    ).select(
        F.col("a.node").alias("center"), F.col("b.node").alias("context")
    )
    pc = pr.groupBy("center", "context").agg(F.count("*").alias("n_ab"))
    # the ±window pair relation is symmetric ((a,b) ⟺ (b,a) with the
    # same count), so the center marginal IS the context marginal —
    # one aggregation serves both joins (the oracle computes ctr and
    # ctx separately; they are equal row sets by the same symmetry)
    ctr = pc.groupBy("center").agg(F.sum("n_ab").alias("n_a"))
    ctx = ctr.select(
        F.col("center").alias("context"), F.col("n_a").alias("n_b")
    )
    tot = F.broadcast(pc.agg(F.sum("n_ab").alias("n")))
    pmi = (
        pc.join(ctr, "center")
        .join(ctx, "context")
        .join(tot)
        .select(
            "center",
            "context",
            "n_ab",
            F.round(
                F.lit(1000)
                * F.log(
                    (F.col("n_ab").cast("double") * F.col("n"))
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                )
            )
            .cast("long")
            .alias("pmi_milli"),
        )
    )
    return corpus, pmi


@register("walk_skipgram_pmi", _rw_oracle_sql(final=_SKIPGRAM_FINAL))
def walk_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs + PMI over the deterministic walk
    corpus: every (center, context) node pair co-occurring within a
    ±2 window along a walk, scored by pointwise mutual information
    in integer milli-nats — the EXACT data-generation stage of
    DeepWalk/node2vec node embeddings (walks → windowed skip-gram
    pairs → the PMI matrix that skip-gram-with-negative-sampling
    implicitly factorizes, Levy & Goldberg 2014). Composes
    graph.random_walks: because the walks themselves are md5-
    deterministic, the entire embedding TRAINING SET — pairs, counts
    and PMI scores — is hash-certified cross-engine; top-50 by
    (pmi, center, context) total order. Plan: the ≤ nodes×(steps+1)
    walk corpus is eager-checkpointed once (the pair self-join
    reads it twice); pair-gen joins on the walk id; PMI is one
    double ratio ln'd and milli-rounded per surviving pair (the NB
    recipe); TakeOrderedAndProject top-k. At 100 TB: pair volume =
    walks × window — linear in corpus, never quadratic in nodes;
    everything shuffles on walk id or node id."""
    _, pmi = _walk_pmi(_supplier_knn_edges(spark, sf_dir))
    sc = pmi.select(
        F.col("center").cast("long").alias("center"),
        F.col("context").cast("long").alias("context"),
        F.col("n_ab").cast("long").alias("n_ab"),
        "pmi_milli",
    )
    return sc.orderBy(F.desc("pmi_milli"), "center", "context").limit(50)


def _emb_oracle_final() -> str:
    """PPMI-matrix subspace-iteration embedding CTEs appended to the
    walk-corpus oracle: d deterministic signed start vectors pushed
    through K unrolled M·v rounds with a per-dim integer max-abs
    rescale — every value an exact bigint on both engines."""
    parts = [
        ", pr AS (SELECT a.node AS center, b.node AS context "
        "FROM corpus a JOIN corpus b ON a.walk = b.walk "
        "AND a.step <> b.step AND abs(a.step - b.step) <= 2), "
        "pc AS (SELECT center, context, COUNT(*) AS n_ab FROM pr "
        "GROUP BY 1, 2), "
        "ctr AS (SELECT center, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pc "
        "GROUP BY 1), "
        "ctx AS (SELECT context, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pc "
        "GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pc), "
        "mat AS MATERIALIZED (SELECT center AS i, context AS j, pmi AS w "
        "FROM (SELECT pc.center, pc.context, "
        "CAST(ROUND(1000 * ln((CAST(pc.n_ab AS DOUBLE) * n) / "
        "(CAST(n_a AS DOUBLE) * n_b))) AS BIGINT) AS pmi "
        "FROM pc JOIN ctr ON pc.center = ctr.center "
        "JOIN ctx ON pc.context = ctx.context CROSS JOIN tot) "
        "WHERE pmi > 0), "
        "vn AS MATERIALIZED (SELECT DISTINCT node FROM corpus), "
        f"dims AS (SELECT CAST(unnest(range({_EMB_DIMS})) AS INT) AS r), "
        "v0 AS (SELECT node, r, "
        "CAST(('0x' || substr(md5('emb-v1:' || CAST(node AS VARCHAR) "
        "|| ':' || CAST(r AS VARCHAR)), 1, 12)) AS BIGINT) % 2001 - 1000 "
        "AS v FROM vn CROSS JOIN dims)"
    ]
    for t in range(1, _EMB_ITERS + 1):
        parts.append(
            f", u{t} AS (SELECT m.i AS node, v.r, SUM(m.w * v.v) AS u "
            f"FROM mat m JOIN v{t-1} v ON m.j = v.node GROUP BY 1, 2)"
            f", s{t} AS (SELECT r, GREATEST(MAX(ABS(u)), 1) AS s "
            f"FROM u{t} GROUP BY r)"
            f", v{t} AS (SELECT n.node, d.r, "
            f"COALESCE(u.u, 0) * 1000000 // COALESCE(s.s, 1) AS v "
            "FROM vn n CROSS JOIN dims d "
            f"LEFT JOIN s{t} s ON d.r = s.r "
            f"LEFT JOIN u{t} u ON n.node = u.node AND d.r = u.r)"
        )
    parts.append(
        f" SELECT CAST(node AS BIGINT) AS node, r AS dim, "
        f"CAST(v AS BIGINT) AS val_micro FROM v{_EMB_ITERS}"
    )
    return "".join(parts)


@register(
    "pmi_embedding_vectors", _rw_oracle_sql(final=_emb_oracle_final())
)
def pmi_embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actual embedding VECTORS from the walk-PMI matrix — the final
    stage the r9 pipeline stopped short of (walks -> skip-gram pairs
    -> PMI -> vectors): a 4-dim randomized subspace-iteration sketch
    (Halko et al. 2011's range finder, QR omitted) of the PPMI
    matrix skip-gram implicitly factorizes (Levy & Goldberg 2014).
    Start vectors are md5("emb-v1:node:r") mod 2001 - 1000 (signed,
    a pure function of the node id); 3 unrolled M·v rounds, each an
    exact bigint multiply-sum followed by a per-dim max-abs rescale
    to ±1e6 micro-units via truncating integer division (Spark `div`
    and DuckDB `//` both truncate toward zero — the modularity
    precedent). Zero float ops anywhere, so the ENTIRE embedding
    table is hash-certified cross-engine — impossible for SGD
    embeddings, the point of this certificate. Plan: walk corpus and
    PPMI matrix eager-checkpointed once; each round is ONE node-keyed
    join + hash agg (the pagerank shape) + a 4-row broadcast rescale;
    vectors live as (node, dim, int) rows that shuffle skinny. At
    100 TB: M is the sparse PPMI relation (never densified), v is
    |V|×d — the same M·v round is how distributed randomized SVD
    range finders actually run on Spark."""
    return _pmi_embedding(spark, sf_dir)[1]


def _pmi_embedding(spark: SparkSession, sf_dir: str):
    """Shared walks -> PMI -> subspace-iteration core of
    pmi_embedding_vectors and embedding_edge_recall. Returns
    (knn_edges, embedding_df(node, dim, val_micro)). The kNN edge
    table is checkpointed ONCE: the walk builder and the recall
    query's edge probe both read it, and the raw plan re-derives the
    Σdeg² common-customer pair join per consumer (the
    community_modularity lesson — measured ~6 s at sf0.1). LAZY
    checkpoint: an eager one serializes the pair join into its own
    blocking job (+4 s measured at sf0.1); lazily it materializes as
    a side effect of the corpus build's first pass and later
    consumers reuse the blocks."""
    edges = _supplier_knn_edges(spark, sf_dir).localCheckpoint(eager=False)
    return _pmi_embedding_from_edges(spark, edges)


def _pmi_embedding_from_edges(spark: SparkSession, edges: DataFrame):
    """walks -> PMI -> subspace iteration over an arbitrary (s1, s2)
    edge table — parameterized so the literal-Python twin in
    test_graph can replay the whole chain on a planted graph."""
    corpus, pmi = _walk_pmi(edges)
    mat = (
        pmi.select(
            F.col("center").alias("i"),
            F.col("context").alias("j"),
            F.col("pmi_milli").alias("w"),
        )
        .filter(F.col("w") > 0)
        .localCheckpoint(eager=True)
    )
    # referenced exactly once (the final round's completion join)
    # now that intermediate rounds skip the zero-completion — derives
    # from the checkpointed corpus, so no checkpoint of its own
    vn = corpus.select("node").distinct()
    dims = spark.range(_EMB_DIMS).select(F.col("id").cast("int").alias("r"))
    v = vn.join(dims).select(
        "node",
        "r",
        (
            F.pmod(
                md5_int(
                    F.concat(
                        F.lit("emb-v1:"),
                        F.col("node").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    ),
                    12,
                ),
                F.lit(2001),
            )
            - 1000
        ).alias("v"),
    )
    for t in range(_EMB_ITERS):
        u = (
            mat.join(v, mat["j"] == v["node"])
            .groupBy(mat["i"].alias("node"), "r")
            .agg(F.sum(F.col("w") * F.col("v")).alias("u"))
            .localCheckpoint(eager=True)
        )
        s = u.groupBy("r").agg(
            F.greatest(F.max(F.abs(F.col("u"))), F.lit(1)).alias("s")
        )
        if t < _EMB_ITERS - 1:
            # intermediate rounds skip the vn×dims zero-completion:
            # a (node, r) absent from u rescales to v = 0, and zero
            # components contribute nothing to the next round's
            # SUM(w·v) — identical u next round, two fewer joins and
            # no vn dependency per round. Only the FINAL round must
            # emit the complete (node, dim) grid.
            v = u.join(F.broadcast(s), "r").select(
                "node", "r", F.expr("u * 1000000 div s").alias("v")
            )
        else:
            v = (
                vn.join(dims)
                .join(F.broadcast(s), "r", "left")
                .join(u, ["node", "r"], "left")
                .select(
                    "node",
                    "r",
                    F.expr(
                        "coalesce(u, 0) * 1000000 div coalesce(s, 1)"
                    ).alias("v"),
                )
            )
    out = v.select(
        F.col("node").cast("long").alias("node"),
        F.col("r").alias("dim"),
        F.col("v").cast("long").alias("val_micro"),
    )
    return edges, out


_EMB_RECALL_FINAL = (
    # top-3 neighbors per node by exact integer dot product over the
    # micro-unit vectors, checked against the kNN graph's edge set
    f", emb AS MATERIALIZED (SELECT node, r, v FROM v{_EMB_ITERS})"
    ", dots AS (SELECT a.node AS n1, b.node AS n2, SUM(a.v * b.v) AS dp "
    "FROM emb a JOIN emb b ON a.r = b.r AND a.node <> b.node "
    "GROUP BY 1, 2)"
    ", nb AS (SELECT n1, n2, dp, row_number() OVER (PARTITION BY n1 "
    "ORDER BY dp DESC, n2) AS rk FROM dots)"
    ", top3 AS (SELECT n1, n2 FROM nb WHERE rk <= 3)"
    ", hit AS (SELECT t.n1 AS node, COUNT(e.src) AS n_hits "
    "FROM top3 t LEFT JOIN edges e ON t.n1 = e.src AND t.n2 = e.dst "
    "GROUP BY 1) "
    "SELECT CAST(vn.node AS BIGINT) AS node, "
    "CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits "
    "FROM vn LEFT JOIN hit ON vn.node = hit.node"
)


@register(
    "embedding_edge_recall",
    # the embedding CTE chain (everything up to its final SELECT)
    # with the recall evaluation appended
    _rw_oracle_sql(
        final=_emb_oracle_final().rsplit(" SELECT ", 1)[0]
        + _EMB_RECALL_FINAL
    ),
)
def embedding_edge_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the certified embeddings actually ENCODE the graph? The
    standard intrinsic eval of DeepWalk/node2vec vectors (link
    recovery, Grover & Leskovec 2016 §4): for every node, take the
    top-3 neighbors by embedding dot product and count how many are
    true mutual-kNN graph edges. Because the vectors are exact
    integer micro-units (pmi_embedding_vectors), the dot products
    are exact bigints and the WHOLE evaluation — scores, ranks, hit
    counts — is hash-certified cross-engine; an SGD embedding could
    not certify its own eval. Brute-force pairs are the eval harness
    here (|V|² over the supplier graph); at 100 TB the same top-k
    runs through the ANN family (rp-LSH / IVFADC) with this query as
    its recall oracle. Plan: ONE dim-keyed self-join over the
    checkpointed |V|×4 vector table -> (n1, n2) hash agg ->
    per-node rank window -> broadcast-sized edge probe."""
    edges, emb = _pmi_embedding(spark, sf_dir)
    # per-node int vector arrays: the dim-keyed self-join alternative
    # has only |dims| join keys (pathological skew — every pair lands
    # on 4 reducers); the ANN-family shape broadcasts one side and
    # scores pairs with an exact integer zip_with dot instead
    emb_arr = (
        emb.groupBy("node")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "val_micro"))
                ),
                lambda s: s["val_micro"],
            ).alias("vec")
        )
        .localCheckpoint(eager=True)
    )
    a = emb_arr.select(F.col("node").alias("n1"), F.col("vec").alias("va"))
    b = emb_arr.select(F.col("node").alias("n2"), F.col("vec").alias("vb"))
    # d=4 dot unrolled to plain codegen arithmetic — an interpreted
    # zip_with/aggregate HOF pair measured ~2x slower on the |V|²
    # pair stream
    dp = sum(
        F.element_at("va", i) * F.element_at("vb", i) for i in range(2, 5)
    ) + F.element_at("va", 1) * F.element_at("vb", 1)
    dots = a.join(F.broadcast(b), F.col("n1") != F.col("n2")).select(
        "n1", "n2", dp.cast("long").alias("dp")
    )
    w = Window.partitionBy("n1").orderBy(F.desc("dp"), "n2")
    top3 = (
        dots.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n1", "n2")
    )
    e = edges.select(
        F.col("s1").alias("n1"), F.col("s2").alias("n2"), F.lit(1).alias("is_edge")
    )
    hit = (
        top3.join(e, ["n1", "n2"], "left")
        .groupBy(F.col("n1").alias("node"))
        .agg(F.sum(F.coalesce("is_edge", F.lit(0))).alias("n_hits"))
    )
    nodes = emb.select("node").distinct()
    return (
        nodes.join(hit, "node", "left")
        .select(
            F.col("node").cast("long").alias("node"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def _capped_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer–part interaction table (u, i) shared by the
    item-CF and butterfly queries: distinct orders⋈lineitem pairs,
    baskets above 10k parts dropped by cap_hot_keys (the oracles
    mirror the cap), materialized by an eager local checkpoint.

    Materialized once because the degree agg, both self-join sides
    and the hot-key semi-join's broadcast build each re-derive the
    orders⋈lineitem distinct otherwise: broadcast boundaries block
    exchange reuse (bench_subset sf0.1 best-of-3: CF family total
    30.5 -> 27.1 s, item_item_recs_dimsum 9.41 -> 8.19 s)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ia = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    # hash-partition by the join key BEFORE checkpointing: the
    # checkpoint freezes partitioning, so a user-keyed self-join over
    # it needs NO exchange, and the pair-gen map stage runs at full
    # width instead of the AQE-coalesced ~11 partitions an un-keyed
    # checkpoint froze (explicit count: a column-only repartition is
    # AQE-coalescable, round-8 gotcha)
    return (
        cap_hot_keys(ia, "u", 10_000)
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "u")
        .localCheckpoint(eager=True)
    )


def _item_cf_sql(min_co: int = 1) -> str:
    cofilter = f"HAVING COUNT(*) >= {min_co} " if min_co > 1 else ""
    return (
        "WITH ia AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), "
        "deg AS (SELECT i, COUNT(*) AS n FROM ia GROUP BY i), "
        "co AS (SELECT a.i AS i, b.i AS j, COUNT(*) AS co "
        "FROM ia a JOIN ia b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2 "
        + cofilter + "), "
        "sim AS (SELECT co.i AS i, co.j AS j, "
        "co * co * 1000000 // (d1.n * d2.n) AS sim_ppm "
        "FROM co JOIN deg d1 ON co.i = d1.i JOIN deg d2 ON co.j = d2.i), "
        "rk AS (SELECT i, j, sim_ppm, CAST(row_number() OVER "
        "(PARTITION BY i ORDER BY sim_ppm DESC, j) AS INT) AS rank FROM sim) "
        "SELECT i AS item, j AS rec, sim_ppm, rank FROM rk WHERE rank <= 3"
    )


_ITEM_CF_SQL = _item_cf_sql()


@register("item_item_recs_topk", _ITEM_CF_SQL)
def item_item_recs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (operators/recommend.py):
    top-3 "bought-together" parts per part by binary cosine over
    customer baskets — the co-occurrence recommender next to the
    content-based ANN family (same shape ranks related documents
    from co-click interactions in a curation pipeline). Integer-ppm
    cosine² keeps the ranking float-free and the DuckDB oracle
    hash-exact. At 100 TB: one user-keyed pair-gen shuffle (hot
    baskets capped by cap_hot_keys, AQE skew-split), one (i,j)
    count shuffle, item-keyed degree joins, anchor-item rank window
    — no all-pairs stage, only observed co-occurrences
    materialize."""
    from .operators.recommend import item_item_topk

    ia = _capped_interactions(spark, sf_dir)
    return item_item_topk(ia, "u", "i", k=3)


@register("item_item_recs_pruned", _item_cf_sql(min_co=2))
def item_item_recs_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """item_item_recs_topk with the deterministic DIMSUM-style
    support prune (min_co=2): co=1 pairs — the overwhelming bulk of
    the Σdeg² pair volume in co-occurrence data, and pure noise as
    recommendations — are dropped right after the pair count, before
    the degree joins and rank window. The prune is part of the
    certified SEMANTICS here (the oracle carries the same HAVING
    co >= 2), so the scale path is hash-verified, not just
    benchmarked; pytest separately pins that top-k is unchanged
    whenever every true top-k neighbor clears the threshold. The
    downstream join/window INPUT shrinks by the co=1 mass; measured
    at sf0.1 the end-to-end gain is modest (6.8 s vs 7.5 s) because
    the pair-gen join + count shuffle upstream of the prune
    dominates at bench scale — the prune's real payoff is at scale,
    where the (i, j) similarity table is the state that must fit
    (DIMSUM's motivation: bound what survives the count, since the
    count itself is map-side-combined anyway)."""
    from .operators.recommend import item_item_topk

    ia = _capped_interactions(spark, sf_dir)
    return item_item_topk(ia, "u", "i", k=3, min_co=2)


_ITEM_DIMSUM_SQL = """
WITH ia0 AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
du AS (SELECT u FROM ia0 GROUP BY u HAVING COUNT(*) <= 10000),
ia AS (SELECT ia0.u, ia0.i FROM ia0 JOIN du USING (u)),
deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM ia GROUP BY i),
ia2 AS (SELECT ia.u, ia.i, deg.n,
            ('0x' || substr(md5('dimsum-v1:' || CAST(ia.u AS VARCHAR)
              || ':' || CAST(ia.i AS VARCHAR)), 1, 5))::BIGINT AS h
        FROM ia JOIN deg ON ia.i = deg.i),
kept AS (SELECT u, i, n FROM ia2
         WHERE n <= 36
            OR h::HUGEINT * h * n < 36::HUGEINT * 1099511627776),
co AS (SELECT a.i AS i, b.i AS j, MAX(a.n) AS ni, MAX(b.n) AS nj,
              CAST(COUNT(*) AS BIGINT) AS co_s
       FROM kept a JOIN kept b ON a.u = b.u AND a.i <> b.i
       GROUP BY 1, 2),
sim AS (SELECT i, j,
        CAST(co_s::HUGEINT * co_s * 1000000
             // (LEAST(ni, 36) * LEAST(nj, 36)) AS BIGINT) AS sim_ppm,
        CAST(ni > 36 OR nj > 36 AS BIGINT) AS sampled
        FROM co),
rk AS (SELECT i, j, sim_ppm, sampled, CAST(row_number() OVER
       (PARTITION BY i ORDER BY sim_ppm DESC, j) AS INT) AS rank FROM sim)
SELECT i AS item, j AS rec, sim_ppm, sampled, rank FROM rk WHERE rank <= 3
"""


@register("item_item_recs_dimsum", _ITEM_DIMSUM_SQL)
def item_item_recs_dimsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """item_item_recs_topk under DIMSUM magnitude-proportional ENTRY
    sampling (Zadeh & Carlsson 2013; the form Spark's
    RowMatrix.columnSimilarities implements) — the map-side reduction
    that shrinks the pair stage ITSELF, the one stage the sf1
    rehearsal showed exceeding fixed-partition task memory in the
    exact variant (min_co prunes only AFTER the count). Each
    interaction (u, i) survives independently with p = min(1, γ/√n_i)
    via a deterministic 20-bit md5 draw compared as an exact integer
    (H²·n_i < γ²·2⁴⁰, DECIMAL/HUGEINT lane) — ONE md5 per ENTRY,
    never one per candidate pair (the pair-draw formulation measured
    18 s at sf0.1: Σdeg² md5 evaluations, duplicated inside the join
    condition). A pair survives iff both endpoints drew heads, and
    the single estimator co_s²·10⁶ div (min(n_i,γ²)·min(n_j,γ²))
    covers both lanes sqrt-free — exact cosine² whenever both
    degrees <= γ² (γ=6: both lanes populated at every driver SF).
    The user-degree cap is mirrored in the oracle (du CTE =
    cap_hot_keys semantics). Plan: deg join item-keyed, the draw
    filters the ENTRY table map-side, ONE user-keyed self-join over
    kept entries (p²-shrunken pair volume), one (i,j) count shuffle,
    degrees re-attached by broadcast join — then the per-item
    rank window. At 100 TB this is the variant that runs: the exact
    pair count is Σdeg² while this one is Σ(p·deg)² = O(items·γ²)."""
    from .operators.recommend import item_item_dimsum

    ia = _capped_interactions(spark, sf_dir)
    return item_item_dimsum(ia, "u", "i", k=3, gamma=6)


def butterfly_sampled_counts(ia: DataFrame, gamma: int = 6) -> DataFrame:
    """Core of butterfly_counts_sampled, factored for the planted
    pytest: per-entry DIMSUM draw -> wedge counts over kept entries
    -> unbiased milli-scaled butterfly estimator per (i, j) pair.
    Two kept wedges of a pair are 4 INDEPENDENT entry draws (distinct
    users), so E[C(co_s, 2)] = C(co, 2)·(p_i·p_j)² exactly and the
    correction 1/(p_i·p_j)² = (n_i·n_j)/(min(n_i,γ²)·min(n_j,γ²)) is
    an exact integer rational: est_milli = co_s·(co_s−1)·500·n_i·n_j
    div (min·min), DECIMAL(38,0) lane."""
    from .operators.recommend import dimsum_draw

    g2 = gamma * gamma
    deg, keptr = dimsum_draw(ia, gamma)
    # degrees re-attach AFTER the (i, j) count via broadcast joins —
    # n is a function of the item, so this equals the oracle's
    # MAX(n) per group while keeping the pair exchange to
    # (i, j, count) partials only (the recommend.item_item_dimsum
    # lesson: riding degrees fattened the dominant shuffle ~40%).
    co = (
        keptr.join(keptr.select("u", F.col("i").alias("j")), "u")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("co_s"))
        .join(F.broadcast(deg.select("i", F.col("n").alias("ni"))), "i")
        .join(
            F.broadcast(
                deg.select(F.col("i").alias("j"), F.col("n").alias("nj"))
            ),
            "j",
        )
    )
    return co.filter(F.col("co_s") >= 2).select(
        "i",
        "j",
        # exact DECIMAL product/division, landed as BIGINT — the
        # oracle's own bf CTE applies the same CAST(... AS BIGINT)
        # per pair before summing
        F.expr(
            f"cast(cast(co_s as decimal(38,0)) * (co_s - 1) * 500 * ni * nj"
            f" div (least(ni, {g2}) * least(nj, {g2})) as bigint)"
        ).alias("bfm"),
    )


_BUTTERFLY_DIMSUM_SQL = """
WITH ia0 AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
du AS (SELECT u FROM ia0 GROUP BY u HAVING COUNT(*) <= 10000),
ia AS (SELECT ia0.u, ia0.i FROM ia0 JOIN du USING (u)),
deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM ia GROUP BY i),
ia2 AS (SELECT ia.u, ia.i, deg.n,
            ('0x' || substr(md5('dimsum-v1:' || CAST(ia.u AS VARCHAR)
              || ':' || CAST(ia.i AS VARCHAR)), 1, 5))::BIGINT AS h
        FROM ia JOIN deg ON ia.i = deg.i),
kept AS (SELECT u, i, n FROM ia2
         WHERE n <= 36
            OR h::HUGEINT * h * n < 36::HUGEINT * 1099511627776),
co AS (SELECT a.i AS i, b.i AS j, MAX(a.n) AS ni, MAX(b.n) AS nj,
              CAST(COUNT(*) AS BIGINT) AS co_s
       FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
       GROUP BY 1, 2),
bf AS (SELECT i, j,
       CAST(co_s::HUGEINT * (co_s - 1) * 500 * ni * nj
            // (LEAST(ni, 36) * LEAST(nj, 36)) AS BIGINT) AS bfm
       FROM co WHERE co_s >= 2),
tot AS (SELECT CAST(COALESCE(SUM(bfm), 0) AS BIGINT)
               AS total_butterflies_milli FROM bf),
per AS (SELECT item, CAST(SUM(bfm) AS BIGINT) AS bf_milli,
               CAST(COUNT(*) AS BIGINT) AS n_copartners
        FROM (SELECT i AS item, bfm FROM bf
              UNION ALL SELECT j AS item, bfm FROM bf)
        GROUP BY item)
SELECT item, bf_milli, n_copartners, total_butterflies_milli
FROM per CROSS JOIN tot
ORDER BY bf_milli DESC, item LIMIT 20
"""


@register("butterfly_counts_sampled", _BUTTERFLY_DIMSUM_SQL)
def butterfly_counts_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """butterfly_counts_bipartite under the same per-entry DIMSUM
    draw as item_item_recs_dimsum — the sampled estimator for the
    OTHER Σdeg² family the r11 verdict flagged (butterfly counting
    shares the wedge-count pair stage with item-item CF; Sanei-Mehri
    et al. 2018 §5 propose exactly this class of sampled butterfly
    estimation). Each (u, i) interaction survives with
    p = min(1, γ/√n_i) (deterministic 20-bit md5 integer draw,
    γ=6); a wedge needs both endpoints, and a BUTTERFLY (two wedges,
    4 distinct entry draws — independent by construction since users
    differ) survives with (p_i·p_j)², so
    E[C(co_s,2)] = C(co,2)·(p_i·p_j)² exactly and the milli-scaled
    estimator co_s·(co_s−1)·500·n_i·n_j div (min(n_i,γ²)·min(n_j,γ²))
    is unbiased in C(co,2) and integer-exact (DECIMAL/HUGEINT lane) —
    hash-certifiable like everything else. Exact lane whenever both
    degrees <= γ² (est = 1000·C(co,2) exactly). Plan: identical
    shape to the exact query but the pair stage sees p²-shrunken
    wedge volume — at 100 TB this is the variant whose Σ(p·deg)² =
    O(items·γ²) wedge mass survives fixed task memory. co_s >= 2
    prune before the per-item explode (the exact query's contract);
    top-20 with the global total riding a 1-row broadcast."""
    ia = _capped_interactions(spark, sf_dir)
    # the rollup materializes the post-co_s>=2 pair table — the
    # bounded output-sized relation, exactly what a 100 TB run would
    # land before the rollup
    return _pair_rollup(
        butterfly_sampled_counts(ia, gamma=6), "i", "j", "bfm",
        "bf_milli", "total_butterflies_milli",
    )


def _pair_rollup(
    pairs: DataFrame, i: str, j: str, val: str, per_col: str, tot_col: str
) -> DataFrame:
    """Top-20 items of an (i, j, val) pair table: per item (either pair
    end) the sum of ``val`` as ``per_col`` and the pair count as
    ``n_copartners``, with the table's total as ``tot_col``, ordered
    by (per_col desc, item). The pair table is eager-checkpointed
    first: three consumers read it (the total and both ends of the
    union), and the total rides in as a 1-row BROADCAST, across
    which exchange reuse never applies (stage_io gotcha) — a lazy
    table re-ran the whole wedge self-join once per consumer
    (measured: the pair stage executed 3x at sf0.1)."""
    pairs = pairs.localCheckpoint(eager=True)
    tot = pairs.agg(F.coalesce(F.sum(val), F.lit(0)).cast("long").alias(tot_col))
    per = (
        pairs.select(F.col(i).alias("item"), val)
        .unionByName(pairs.select(F.col(j).alias("item"), val))
        .groupBy("item")
        .agg(
            F.sum(val).cast("long").alias(per_col),
            F.count("*").alias("n_copartners"),
        )
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        "item", per_col, "n_copartners", tot_col
    )
    return R.top_n(out, [F.desc(per_col), F.asc("item")], 20)


def _textrank_sql() -> str:
    unroll, last = _pr_unroll_sql(_TEXTRANK_ITERS)
    return (
        "WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), "
        f"w -> len(w) > 2 AND NOT list_contains({STOPWORDS_SQL}, w)) AS t "
        "FROM documents), "
        "pr AS (SELECT t[j] AS a, t[j + 1] AS b FROM tok, "
        "LATERAL (SELECT unnest(range(1, len(t))) AS j) s "
        "WHERE len(t) >= 2), "
        "wc AS (SELECT w AS word, COUNT(*) AS cnt FROM "
        "(SELECT unnest(t) AS w FROM tok) GROUP BY w), "
        "vocab AS (SELECT word FROM wc ORDER BY cnt DESC, word LIMIT 500), "
        "und AS (SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b "
        "FROM pr WHERE a <> b "
        "AND a IN (SELECT word FROM vocab) "
        "AND b IN (SELECT word FROM vocab)), "
        "edges AS (SELECT a AS src, b AS dst FROM und "
        "UNION ALL SELECT b, a FROM und), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), "
        "n AS (SELECT COUNT(*) AS n FROM nodes), "
        f"r0 AS (SELECT node, {PR_SCALE} // n.n AS r FROM nodes CROSS JOIN n), "
        + unroll
        + f" SELECT node AS word, CAST(r AS BIGINT) AS pr_scaled FROM {last} "
        "ORDER BY pr_scaled DESC, word LIMIT 20"
    )


@register("textrank_keywords", _textrank_sql())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — the graph-NLP composition the
    reference's keyword/topic-labeling stage (operators/topics P20)
    approximates with raw term weights. Nodes are the top-500 corpus
    words (stopword/length-filtered, rank-cut with full tie-break so
    the vocab is deterministic at every sf); an undirected edge
    connects words ever ADJACENT in a filtered token sequence; ranks
    are the engine's integer PageRank (graph.pagerank — exact integer
    arithmetic, so the oracle unrolls identical iterations). Top-20
    keywords.

    Plan: token explode → word-count agg (vocab cut is a
    TakeOrderedAndProject); adjacency pairs from one sequence
    transform (no self-join); edge set distinct'd then handed to the
    shared pagerank operator (per iteration: one node-keyed join +
    one agg over a ≤500-node graph — the heavy lifting is the corpus
    scan, which runs once)."""
    from .functions.text_clean import ALL_STOPWORDS
    from .operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents", widen=True)
    sw = F.lit(list(ALL_STOPWORDS))
    toks = F.filter(
        F.split("text", " "),
        lambda w: (F.length(w) > 2) & ~F.array_contains(sw, w),
    )
    tok = docs.select("doc_id", toks.alias("t"))
    wc = (
        tok.select(F.explode("t").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    # NOT persisted: the corpus scan + token filter is re-evaluated
    # by the two semi-joins and pagerank's nodes/ed materializations,
    # but measured at sf0.1 both a vocab persist and an explicit
    # edge repartition made the query SLOWER (13.8s vs 10.1s) — the
    # extra materialization barriers and their stage boundaries cost
    # more than the re-run narrow scans. At 100 TB the calculus
    # flips: persist the EDGE set upstream.
    vocab = wc.orderBy(F.desc("cnt"), "word").limit(500).select("word")
    idx = F.sequence(F.lit(1), F.size("t") - 1)
    pair_arr = F.transform(
        idx,
        lambda j: F.struct(
            F.element_at("t", j).alias("a"),
            F.element_at("t", j + 1).alias("b"),
        ),
    )
    adj = (
        tok.filter(F.size("t") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .join(vocab.withColumnRenamed("word", "a"), "a", "left_semi")
        .join(vocab.withColumnRenamed("word", "b"), "b", "left_semi")
    )
    edges = adj.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        adj.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = pagerank(edges, "src", "dst", iters=_TEXTRANK_ITERS)
    return (
        ranks.select(F.col("node").alias("word"), "pr_scaled")
        .orderBy(F.desc("pr_scaled"), "word")
        .limit(20)
    )


_RAKE_SQL = (
    "WITH tok AS (SELECT doc_id, j AS pos, t[j] AS w FROM "
    "(SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "LATERAL (SELECT unnest(range(1, len(t) + 1)) AS j) s), "
    "flag AS (SELECT doc_id, pos, w, CASE WHEN len(w) < 3 "
    f"OR list_contains({STOPWORDS_SQL}, w) THEN 1 ELSE 0 END AS st "
    "FROM tok WHERE w <> ''), "
    "ph AS (SELECT doc_id, pos, w, st, SUM(st) OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS pid FROM flag), "
    "cw AS (SELECT doc_id, pid, pos, w FROM ph WHERE st = 0), "
    "keep AS (SELECT doc_id, pid, COUNT(*) AS plen FROM cw "
    "GROUP BY 1, 2 HAVING COUNT(*) <= 4), "
    "wstat AS (SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) "
    "AS deg FROM cw JOIN keep USING (doc_id, pid) GROUP BY w), "
    "ws AS (SELECT w, 1000 * deg // freq AS ws FROM wstat), "
    "ps AS (SELECT cw.doc_id, cw.pid, "
    "string_agg(cw.w, ' ' ORDER BY cw.pos) AS phrase, "
    "CAST(SUM(ws.ws) AS BIGINT) AS score_milli "
    "FROM cw JOIN keep USING (doc_id, pid) JOIN ws ON cw.w = ws.w "
    "GROUP BY cw.doc_id, cw.pid) "
    "SELECT DISTINCT phrase, score_milli FROM ps "
    "ORDER BY score_milli DESC, phrase LIMIT 20"
)


@register("rake_keyphrases", _RAKE_SQL)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, "Automatic
    Keyword Extraction from Individual Documents"): candidate
    phrases are maximal stopword-free token runs (length ≤ 4), each
    word scores deg/freq over the kept phrases (milli-quantized by
    integer division — deterministic in both engines), and a phrase
    scores the sum of its word scores; global top-20. The counting-
    based keyphrase extractor next to the graph-based one
    (textrank_keywords) — RAKE is the single-pass shape that scales
    to per-document extraction at corpus size (no iterations, no
    graph). Plan: one token posexplode → per-doc running stopword
    count (window on the doc key) assigns phrase ids → two
    hash aggs (phrase lengths, word stats) → broadcast word scores
    back onto phrase members → TakeOrderedAndProject. Identical
    phrase TEXT always has identical score (scores are global word
    sums), so the DISTINCT dedupe is engine-order-free."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    flag = tok.select(
        "doc_id",
        "pos",
        "w",
        F.when(
            (F.length("w") < 3) | F.col("w").isin(*ALL_STOPWORDS), 1
        )
        .otherwise(0)
        .alias("st"),
    )
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    ph = flag.withColumn("pid", F.sum("st").over(wseq))
    cw = ph.filter(F.col("st") == 0).select("doc_id", "pid", "pos", "w")
    keep = (
        cw.groupBy("doc_id", "pid")
        .agg(F.count("*").alias("plen"))
        .filter(F.col("plen") <= 4)
    )
    kept = cw.join(keep, ["doc_id", "pid"])
    wstat = kept.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    ws = wstat.select("w", F.expr("1000 * deg div freq").alias("ws"))
    ps = (
        kept.join(ws, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("ws").cast("long").alias("score_milli"),
        )
    )
    return (
        ps.select("phrase", "score_milli")
        .distinct()
        .orderBy(F.desc("score_milli"), "phrase")
        .limit(20)
    )


def _ann_recall_oracle_sql() -> str:
    """Recall@10 of the batched LSH probe vs batched brute force —
    both sides recomputed in SQL from the same deterministic LCG
    hyperplanes (see _lsh_topk_oracle_sql; the sub-bucket cap never
    triggers at driver scale, so base buckets are the ones to match).
    """
    planes = S.make_planes(64, 6, 42)

    def bexpr(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(x) for x in p)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv "
        "FROM embeddings WHERE vec_id < 4), "
        f"b AS (SELECT vec_id, v, {bexpr('v')} AS bucket FROM e), "
        f"qb AS (SELECT qid, qv, {bexpr('qv')} AS bucket FROM q), "
        "s AS (SELECT qb.qid, b.vec_id, "
        "ROUND(list_cosine_similarity(b.v, qb.qv), 6) AS cosine "
        "FROM b JOIN qb USING (bucket)), "
        "ar AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid "
        "ORDER BY cosine DESC, vec_id) AS rk FROM s), "
        "a AS (SELECT qid, vec_id FROM ar WHERE rk <= 10), "
        "xs AS (SELECT q.qid, e.vec_id, "
        "ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine FROM e, q), "
        "xr AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid "
        "ORDER BY cosine DESC, vec_id) AS rk FROM xs), "
        "x AS (SELECT qid, vec_id FROM xr WHERE rk <= 10), "
        "h AS (SELECT a.qid, COUNT(*) AS n FROM a JOIN x "
        "USING (qid, vec_id) GROUP BY a.qid) "
        "SELECT q.qid, CAST(COALESCE(h.n, 0) AS INT) AS n_hits, "
        "ROUND(COALESCE(h.n, 0) / 10.0, 6) AS recall_at_10 "
        "FROM q LEFT JOIN h ON q.qid = h.qid"
    )


@register("ann_recall_eval", _ann_recall_oracle_sql())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@10 of the batched LSH probe
    (rp_lsh_topk_batch — bucket-join, corpus never broadcast-scored)
    against the batched exact baseline (cosine_topk_batch), per
    query. The measurement loop a production corpus runs before
    trusting an approximate index; both sides and the recall join are
    one lazy DAG, fully SQL-expressible, so the driver hash-checks
    the whole evaluation end to end."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    # max_bucket=None: the oracle joins base buckets only, and this
    # eval measures the UNCAPPED probe's recall — with the default
    # cap the certified hash would silently depend on no sign-bucket
    # ever exceeding 100k rows (the capped flavor's plan shape is
    # contract-locked separately)
    approx = S.rp_lsh_topk_batch(
        emb, "embedding", "vec_id", queries, "qid", "embedding",
        dim=64, k=10, r=6, max_bucket=None,
    )
    exact = S.cosine_topk_batch(
        emb, "embedding", "vec_id", queries, "qid", "embedding", k=10
    )
    hits = (
        approx.select("qid", "vec_id")
        .join(exact.select("qid", "vec_id"), ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("__n"))
    )
    return queries.select("qid").join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("__n"), F.lit(0)).cast("int").alias("n_hits"),
        F.round(F.coalesce(F.col("__n"), F.lit(0)) / F.lit(10.0), 6).alias(
            "recall_at_10"
        ),
    )


@register(
    "vocab_oov_rate",
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    "FROM documents), "
    "cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w), "
    "vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 100), "
    "per AS (SELECT doc_id, COUNT(*) AS n_tokens, "
    "SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS n_oov "
    "FROM tok LEFT JOIN vocab ON tok.w = vocab.w GROUP BY doc_id) "
    "SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, "
    "CAST(n_oov AS INT) AS n_oov, "
    "ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate FROM per",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document OOV rate against
    the corpus top-100 vocabulary (count desc, word asc tie-break).
    The pre-training sanity gate for a fixed tokenizer vocab: docs
    with high OOV are noise/wrong-language candidates. Vocab is
    bounded top-K by construction — TakeOrderedAndProject then a
    broadcast join, so the corpus token table shuffles once (the
    count agg) and never for the membership probe."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(100)
        .select("w", F.lit(1).alias("__in"))
    )
    per = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_oov").cast("int").alias("n_oov"),
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens"), 6
        ).alias("oov_rate"),
    )


@register(
    "corpus_token_offsets",
    "WITH t AS (SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
    "FROM documents) "
    "SELECT doc_id, n_tokens, "
    "CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS token_offset "
    "FROM t",
)
def corpus_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token offset per document (megatron-style corpus index
    building: where each doc's tokens start in the packed stream).
    Semantically a SUM() OVER (ORDER BY doc_id) — which Spark would
    execute as a SINGLE task — so the implementation is the two-level
    prefix sum (relational.prefix_sum_two_level): range-bucket,
    per-bucket totals, window over the 256-row totals table, then
    per-bucket windows. The only single-task window touches 256 rows
    regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    t = docs.select(
        "doc_id", word_count(F.col("text")).cast("long").alias("n_tokens")
    )
    out = R.prefix_sum_two_level(t, "doc_id", "n_tokens", buckets=256)
    return out.select(
        "doc_id", "n_tokens", F.col("prefix").cast("long").alias("token_offset")
    )


def _cdc_snapshot_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The ONE old/new snapshot simulation shared by
    snapshot_delta_cdc and incremental_agg_maintenance (their oracle
    SQL mirrors these exact filters/bump): old = orders with
    key%97!=0; new = orders with key%89!=0 and price+10.0 for
    key%13==0. Returns (old, new) with (k, pri, price)."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("price"),
    )
    new = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return old, new


def _cdc_snapshots(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Integer-cents flavor of the shared CDC snapshots (exact
    maintenance arithmetic): (k, pri, cents)."""
    old, new = _cdc_snapshot_frames(spark, sf_dir)
    cents = F.round(F.col("price") * 100, 0).cast("long").alias("cents")
    return (
        old.select("k", "pri", cents),
        new.select("k", "pri", cents),
    )


@register(
    "snapshot_delta_cdc",
    "WITH old AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders "
    "WHERE o_orderkey % 97 <> 0), "
    "new AS (SELECT o_orderkey AS k, CASE WHEN o_orderkey % 13 = 0 "
    "THEN o_totalprice + 10.0 ELSE o_totalprice END AS p FROM orders "
    "WHERE o_orderkey % 89 <> 0), "
    "j AS (SELECT COALESCE(old.k, new.k) AS k, old.p AS op, new.p AS np, "
    "CASE WHEN old.k IS NULL THEN 'added' "
    "WHEN new.k IS NULL THEN 'removed' "
    "WHEN old.p <> new.p THEN 'changed' ELSE 'unchanged' END "
    "AS change_class FROM old FULL JOIN new ON old.k = new.k) "
    "SELECT change_class, COUNT(*) AS n, "
    "CAST(SUM(CASE WHEN change_class = 'changed' "
    "THEN CAST(ROUND((np - op) * 100) AS BIGINT) ELSE 0 END) AS BIGINT) "
    "AS delta_cents FROM j GROUP BY change_class",
)
def snapshot_delta_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC classification: full-outer join an old and
    a new snapshot of a keyed table, classify every key as
    added / removed / changed / unchanged, and report per-class counts
    plus the integer-scaled (cents) net price delta of changed rows.
    The audit step between incremental pipeline runs (the batch twin
    of the SCD1 merge sink in stage_io). Snapshots are simulated from
    `orders` by deterministic key filters + a price bump. At 100 TB:
    ONE key-partitioned full-outer shuffle join (AQE skew-split
    applies), then a 4-group hash agg — no driver state."""
    old_f, new_f = _cdc_snapshot_frames(spark, sf_dir)
    old = old_f.select("k", F.col("price").alias("op"))
    new = new_f.select("k", F.col("price").alias("np"))
    j = old.join(new, "k", "full_outer").select(
        F.when(F.col("op").isNull(), F.lit("added"))
        .when(F.col("np").isNull(), F.lit("removed"))
        .when(F.col("op") != F.col("np"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_class"),
        "op",
        "np",
    )
    return j.groupBy("change_class").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.col("change_class") == "changed",
                F.round((F.col("np") - F.col("op")) * 100, 0).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("delta_cents"),
    )


@register(
    "fuzzy_name_pairs",
    "WITH names AS (SELECT DISTINCT p_name AS n FROM part), "
    "b AS (SELECT n, string_split(n, ' ')[-1] AS blk FROM names) "
    "SELECT a.n AS key_1, c.n AS key_2, "
    "CAST(levenshtein(a.n, c.n) AS INT) AS dist "
    "FROM b a JOIN b c ON a.blk = c.blk AND a.n < c.n "
    "WHERE levenshtein(a.n, c.n) <= 3",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage candidate pairs over distinct part names:
    block on the head noun (last word), edit-distance <= 3 within
    blocks (dedup.blocked_fuzzy_pairs). The entity-resolution shape
    an all-pairs string join can't ship at scale — the block key
    bounds the fanout and keeps the join a hash join; levenshtein
    evaluates identically JVM-side and in DuckDB, so the candidate
    set is hash-oracled."""
    from .operators.dedup import blocked_fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("n")).distinct()
    blocked = names.withColumn(
        "blk", F.substring_index(F.col("n"), " ", -1)
    )
    return blocked_fuzzy_pairs(blocked, "n", "blk").select(
        F.col("key_1"), F.col("key_2"), F.col("dist").cast("int").alias("dist")
    )


@register(
    "ivm_join_view_refresh",
    # oracle: the DIRECT join aggregate over the full tables — the
    # engine side must reproduce it from base + delta via the
    # three-delta-leg join algebra, never rescanning base⋈base twice
    "SELECT o_orderpriority AS pri, COUNT(*) AS n_rows, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS rev_cents "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "GROUP BY o_orderpriority",
)
def ivm_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (Gupta & Mumick 1995 —
    the join sibling of incremental_agg_maintenance's retract-row
    algebra): a revenue-by-priority view over orders ⋈ lineitem is
    refreshed after inserts arriving on BOTH sides. Each table is
    split deterministically into base + delta (md5-bucket ~5%, on
    DIFFERENT keys so every leg is non-trivially populated), and the
    maintained view = monoid merge of base⋈base with the THREE
    delta legs ΔO⋈L, O⋈ΔL, ΔO⋈ΔL (relational.delta_join_legs) —
    each |Δ|-bounded with the delta side broadcast. The oracle
    computes the view DIRECTLY from the full tables: a hash match
    certifies the delta algebra reconstructs it exactly. At 100 TB
    the base⋈base leg is the STORED view (here computed once for
    the comparison); the refresh cost is the three broadcast joins —
    |Δ|-proportional, never a base rescan."""
    from .operators.relational import delta_join_legs
    from .operators.traindata import hash_bucket

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
        "l_partkey",
    )
    is_d_o = hash_bucket(F.col("o_orderkey"), 20) == 0
    is_d_l = hash_bucket(F.col("l_partkey"), 20) == 0
    joined = delta_join_legs(
        orders.filter(~is_d_o),
        orders.filter(is_d_o),
        li.filter(~is_d_l).drop("l_partkey"),
        li.filter(is_d_l).drop("l_partkey"),
        ["o_orderkey"],
    )
    return joined.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").cast("long").alias("rev_cents"),
    )


@register(
    "streaming_join_view",
    # the drained complete-mode view equals the batch join aggregate
    # exactly (integer cents, arrival-order-free) — the direct-join
    # SQL is the oracle
    "SELECT o_orderpriority AS pri, COUNT(*) AS n_rows, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS rev_cents "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "GROUP BY o_orderpriority",
)
def streaming_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join + view aggregation (streaming/ingest.py::
    static_join_view_stream): the streaming surface member the
    family lacked — maintaining a join VIEW over an append-only fact
    stream against a static dimension. Structured Streaming executes
    per micro-batch exactly the |Δ|-bounded delta leg of
    ivm_join_view_refresh's algebra (only NEW orders rows join the
    dimension), and the complete-mode aggregation state IS the
    materialized view. Integer-cents revenue makes the drained view
    hash-equal to the direct batch join aggregate in any micro-batch
    arrival order — certified cross-engine like every other drain.
    At 100 TB: dimension broadcast or pre-bucketed; agg state
    bounded by view cardinality (5 priorities)."""
    from .streaming.ingest import static_join_view_stream

    return static_join_view_stream(spark, sf_dir)


@register(
    "incremental_agg_maintenance",
    # oracle: the DIRECT aggregate over the new snapshot — the engine
    # side must reproduce it from base + delta without rescanning
    "WITH new AS (SELECT o_orderkey AS k, o_orderpriority AS pri, "
    "CAST(ROUND((CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0 "
    "ELSE o_totalprice END) * 100) AS BIGINT) AS cents FROM orders "
    "WHERE o_orderkey % 89 <> 0) "
    "SELECT pri, COUNT(*) AS n_orders, "
    "CAST(SUM(cents) AS BIGINT) AS total_cents FROM new GROUP BY pri",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic incremental view maintenance: refresh a per-priority
    (count, cents-sum) aggregate using ONLY the old aggregate plus
    the CDC delta — the 100 TB move where re-aggregating the base
    table per refresh is unaffordable. The engine side computes
    base = agg(old snapshot), folds the classified delta
    (added: +row, removed: -row, changed: +new-old) into per-group
    adjustments, and outer-merges them; the oracle aggregates the new
    snapshot directly, so the hash check proves base+delta == direct.
    Counts and cents are integers, so the maintenance arithmetic is
    exact in any fold order. Snapshots reuse the snapshot_delta_cdc
    simulation (orders, key filters + price bump)."""
    old, new = _cdc_snapshots(spark, sf_dir)
    base = old.groupBy("pri").agg(
        F.count("*").alias("bn"), F.sum("cents").alias("bc")
    )
    delta = R.cdc_delta_contributions(old, new, "k", "pri", "cents")
    return (
        base.join(delta, "pri", "full_outer")
        .select(
            "pri",
            (
                F.coalesce(F.col("bn"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("bc"), F.lit(0))
                + F.coalesce(F.col("dv"), F.lit(0))
            ).alias("total_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )


@register(
    "link_prediction_suppliers",
    f"WITH e AS ({_BIPROJ_SQL}), "
    "deg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s), "
    "cn AS (SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cn "
    "FROM e a JOIN e b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2) "
    "SELECT s1, s2, cn, "
    "CAST(cn * 1000000 // (d1.d + d2.d - cn) AS BIGINT) AS jaccard_ppm "
    "FROM cn JOIN deg d1 ON s1 = d1.s JOIN deg d2 ON s2 = d2.s "
    "ORDER BY jaccard_ppm DESC, s1, s2 LIMIT 20",
)
def link_prediction_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-projection link prediction (collaborative filtering):
    suppliers are similar when they serve the same customers — common
    -neighbor counts over the customer↔supplier graph, scored by the
    Jaccard coefficient in INTEGER ppm (cn·10⁶ div (d1+d2−cn)), so
    the ranking is exact cross-engine with no float rounding anywhere.
    Plan: distinct bipartite edges → customer-keyed self-join
    (ONE exchange, reused for both sides; whole-stage codegen — the
    group-explode alternative pays interpreted HOF lambdas, measured
    2.2× slower, and a hot customer's collect_list can OOM a task
    where the join is AQE-skew-splittable; extreme hubs ARE df-capped
    via cap_hot_keys before pair generation) → pair-count agg → two degree joins
    → TakeOrderedAndProject top-20."""
    scored = _supplier_pairs(spark, sf_dir).select(
        "s1", "s2", "cn", F.expr(_JACCARD_PPM).alias("jaccard_ppm")
    )
    return scored.orderBy(F.desc("jaccard_ppm"), "s1", "s2").limit(20)


@register(
    "unpivot_returnflag_metrics",
    "WITH agg AS (SELECT l_returnflag, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c, "
    "COUNT(*) AS n_items FROM lineitem GROUP BY l_returnflag) "
    "SELECT l_returnflag, metric, value FROM agg "
    "UNPIVOT (value FOR metric IN (qty_c, price_c, n_items))",
)
def unpivot_returnflag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-flag aggregates → long (flag, metric,
    value) form — the inverse of pivot_daily_event_counts, closing
    the reshape surface. Metrics are integer-scaled (cents /
    counts) so the melted values are exact. Spark 4's native
    DataFrame.unpivot is a zero-shuffle Expand over the 3-row
    aggregate; the wide agg itself is one map-side-combined hash
    agg."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).alias("qty_c"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("price_c"),
        F.count("*").alias("n_items"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["qty_c", "price_c", "n_items"], "metric", "value"
    )


_TRIANGLE_SQL = (
    # strong-tie projection (shared _STRONG_TIE_CTES), then the
    # canonical ordered 3-way self-join a<b<c counting closed
    # triangles
    f"WITH {_STRONG_TIE_CTES}, "
    "tri AS (SELECT ab.s1 AS a, ab.s2 AS b, bc.s2 AS c "
    "FROM e ab JOIN e bc ON ab.s2 = bc.s1 "
    "JOIN e ac ON ab.s1 = ac.s1 AND bc.s2 = ac.s2), "
    "pern AS (SELECT node, COUNT(*) AS n_triangles FROM ("
    "SELECT a AS node FROM tri UNION ALL SELECT b FROM tri "
    "UNION ALL SELECT c FROM tri) t GROUP BY node) "
    "SELECT node, n_triangles FROM pern "
    "ORDER BY n_triangles DESC, node LIMIT 20"
)


@register("triangle_count_suppliers", _TRIANGLE_SQL)
def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the strong-tie supplier
    projection graph (clustering-structure metric — the third graph
    primitive next to connected components and PageRank). The dense
    bipartite projection is first sparsified to the top-2000 edges
    by common-customer Jaccard (integer-ppm score, rank-based cut —
    an absolute threshold goes vacuous as density shifts with
    scale), then triangles close via the canonical ordered 3-way
    self-join (a<b<c: each triangle counted once, join keys are node
    ids so every shuffle is uniform; at 100 TB the standard
    refinement is degree-ordered orientation, which this ordering
    already approximates). Top-20 by count.

    The triangle joins re-read the 2000-row edge cut 3x;
    _strong_tie_edges keeps it persisted instead of re-running the
    projection build."""
    e = _strong_tie_edges(spark, sf_dir)
    ab = e.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    bc = e.select(F.col("s1").alias("b"), F.col("s2").alias("c"))
    ac = e.select(F.col("s1").alias("a"), F.col("s2").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    pern = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select("b"))
        .union(tri.select("c"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return pern.orderBy(F.desc("n_triangles"), "node").limit(20)


_SSSP_SQL = (
    # same strong-tie edge cut as the triangle query, weighted by
    # inverse tie strength (w = 1000001 - Jaccard-ppm, positive
    # integer), symmetrized; then a hop-capped recursive walk whose
    # MIN per node is exactly the unrolled Bellman-Ford's answer
    f"WITH RECURSIVE e0 AS ({_BIPROJ_SQL}), "
    "deg AS (SELECT s, COUNT(*) AS d FROM e0 GROUP BY s), "
    "cn AS (SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cn "
    "FROM e0 a JOIN e0 b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2), "
    "cut AS (SELECT s1, s2, "
    "1000001 - cn * 1000000 // (d1.d + d2.d - cn) AS w FROM cn "
    "JOIN deg d1 ON s1 = d1.s JOIN deg d2 ON s2 = d2.s "
    "ORDER BY cn * 1000000 // (d1.d + d2.d - cn) DESC, s1, s2 "
    "LIMIT 2000), "
    "e AS (SELECT s1 AS src, s2 AS dst, w FROM cut "
    "UNION ALL SELECT s2, s1, w FROM cut), "
    "s0 AS (SELECT MIN(src) AS v FROM e), "
    "walk(node, d, h) AS ("
    "SELECT v, CAST(0 AS BIGINT), 0 FROM s0 "
    "UNION ALL "
    "SELECT e.dst, w.d + e.w, w.h + 1 FROM walk w "
    "JOIN e ON e.src = w.node WHERE w.h < 4) "
    "SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk "
    "GROUP BY node ORDER BY dist, node"
)


@register("shortest_paths_suppliers", _SSSP_SQL)
def shortest_paths_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded single-source shortest paths (unrolled
    Bellman-Ford, ``graph.bounded_shortest_paths``) over the
    strong-tie supplier graph — the fourth graph primitive next to
    connected components, PageRank, and triangle counting. Edges are
    the triangle query's rank-sparsified top-2000 cut, weighted by
    inverse tie strength (1000001 − Jaccard-ppm: positive integers,
    so every path length is exact integer math and the MIN fold is
    order-free); the source is the minimum supplier node; 4 hops.
    The oracle replays the identical relaxation as a hop-capped
    recursive CTE. Per hop: one node-keyed hash join + one min
    aggregation — state stays distributed, no driver reads."""
    from .operators.graph import bounded_shortest_paths

    cut = (
        _strong_tie_cut(spark, sf_dir)
        .select("s1", "s2", F.expr(f"1000001 - {_JACCARD_PPM}").alias("w"))
        # each of the 4 unrolled hops re-reads the 2000-row edge cut;
        # persist it rather than re-running the projection build per
        # hop
        .persist()
    )
    e = cut.selectExpr("s1 AS src", "s2 AS dst", "w").unionByName(
        cut.selectExpr("s2 AS src", "s1 AS dst", "w")
    )
    source = e.agg(F.min("src").alias("node"))
    return (
        bounded_shortest_paths(e, "src", "dst", "w", source, hops=4)
        .orderBy("dist", "node")
    )


@register(
    "data_quality_audit",
    "SELECT 'orders_pk_dup' AS check_name, "
    "CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) "
    "AS BIGINT) AS n_violations "
    "UNION ALL SELECT 'lineitem_fk_orphan', (SELECT COUNT(*) FROM lineitem l "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o "
    "WHERE o.o_orderkey = l.l_orderkey)) "
    "UNION ALL SELECT 'orders_custkey_null', "
    "(SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) "
    "UNION ALL SELECT 'lineitem_discount_range', "
    "(SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) "
    "UNION ALL SELECT 'lineitem_price_nonpositive', "
    "(SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0) "
    "UNION ALL SELECT 'orders_date_bounds', "
    "(SELECT COUNT(*) FROM orders WHERE o_orderdate < TIMESTAMP '1990-01-01' "
    "OR o_orderdate > TIMESTAMP '2030-01-01')",
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality constraint suite as ONE lazy plan:
    primary-key uniqueness, FK orphans (left-anti count), null
    checks, range and date-bound checks — the validation gate a
    100 TB ingest runs before publishing a stage table. Each check
    is a count aggregate; the FK check is a key-partitioned anti
    join (AQE-eligible); results union into (check_name,
    n_violations) rows so a scheduler can alert on any non-zero."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def one(name: str, cnt_df: DataFrame) -> DataFrame:
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    pk_dup = one(
        "orders_pk_dup",
        orders.agg(
            (F.count("*") - F.count_distinct("o_orderkey")).alias("n")
        ),
    )
    fk_orphan = one(
        "lineitem_fk_orphan",
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count("*").alias("n")),
    )
    cust_null = one(
        "orders_custkey_null",
        orders.filter(F.col("o_custkey").isNull()).agg(
            F.count("*").alias("n")
        ),
    )
    disc_range = one(
        "lineitem_discount_range",
        li.filter(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).agg(F.count("*").alias("n")),
    )
    price_pos = one(
        "lineitem_price_nonpositive",
        li.filter(F.col("l_extendedprice") <= 0).agg(
            F.count("*").alias("n")
        ),
    )
    date_bounds = one(
        "orders_date_bounds",
        orders.filter(
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp"))
        ).agg(F.count("*").alias("n")),
    )
    return (
        pk_dup.union(fk_orphan)
        .union(cust_null)
        .union(disc_range)
        .union(price_pos)
        .union(date_bounds)
    )


_BM25_TERMS = ("spark", "table", "stream")
_BM25_K1 = "1.2"
_BM25_B = "0.75"

_BM25_SQL = (
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    "FROM documents), "
    "dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id), "
    "stats AS (SELECT COUNT(*) AS n, SUM(len) AS total FROM dl), "
    "tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok "
    f"WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w), "
    "dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), "
    "idf AS (SELECT w, CAST(ROUND(1000 * ln(1 + "
    "(n - df + 0.5) / (df + 0.5))) AS BIGINT) AS idf_milli "
    "FROM dfreq, stats), "
    "scored AS (SELECT tf.doc_id, CAST(ROUND(idf_milli * "
    f"(tf * ({_BM25_K1} + 1.0)) / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + "
    f"{_BM25_B} * (CAST(len AS DOUBLE) * n / total)))) AS BIGINT) "
    "AS s_milli FROM tf JOIN dl USING (doc_id) "
    "JOIN idf USING (w) CROSS JOIN stats) "
    "SELECT doc_id, CAST(SUM(s_milli) AS BIGINT) AS score_milli "
    "FROM scored GROUP BY doc_id "
    "ORDER BY score_milli DESC, doc_id LIMIT 10"
)


@register("bm25_topk_docs", _BM25_SQL)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 sparse retrieval: top-10 documents for a fixed 3-term
    query (Robertson/Sparck-Jones Okapi BM25, k1=1.2 b=0.75) — the
    lexical search primitive that pairs with the inverted-index
    layout (`inverted_index_blocks`) the way ANN pairs with the
    embedding index. Cross-engine exactness follows the
    perplexity_buckets recipe: idf and each per-(doc,term) partial
    are quantized to integer MILLI-units before any aggregation, so
    the only float ops are identical-input IEEE arithmetic (ln's
    1-ulp Java/libm disagreement is absorbed by the milli rounding)
    and the score sum is exact integer math in any fold order.
    Plan: term-filtered tf (the IN-list prunes the token explode at
    the scan), doc-length agg, 1-row corpus stats broadcast, 3-row
    idf broadcast join, TakeOrderedAndProject top-10. At 100 TB the
    tf/df tables come precomputed from the inverted index partition
    layout instead of a raw-text scan."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(
        F.count("*").alias("n"), F.sum("len").alias("total")
    )
    tf = (
        tok.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "w",
        F.round(
            F.lit(1000)
            * F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
        )
        .cast("long")
        .alias("idf_milli"),
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.col("idf_milli")
                * (F.col("tf") * F.expr(f"{_BM25_K1} + 1.0"))
                / (
                    F.col("tf")
                    + F.expr(_BM25_K1)
                    * (
                        F.expr(f"1.0 - {_BM25_B}")
                        + F.expr(_BM25_B)
                        * (
                            F.col("len").cast("double")
                            * F.col("n")
                            / F.col("total")
                        )
                    )
                )
            )
            .cast("long")
            .alias("s_milli"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.sum("s_milli").alias("score_milli")
    )
    return out.orderBy(F.desc("score_milli"), "doc_id").limit(10)


_QL_MU = "2000.0"

_QL_SQL = (
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    "FROM documents), "
    "dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id), "
    "stats AS (SELECT SUM(len) AS total FROM dl), "
    f"cf AS (SELECT w, COUNT(*) AS cf FROM tok WHERE w IN {_BM25_TERMS!r} "
    "GROUP BY w), "
    f"tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok "
    f"WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w), "
    "grid AS (SELECT dl.doc_id, dl.len, cf.w, cf.cf, "
    "COALESCE(tf.tf, 0) AS tf FROM dl CROSS JOIN cf "
    "LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.w = cf.w), "
    "scored AS (SELECT doc_id, CAST(ROUND(1000 * ln("
    f"(tf + {_QL_MU} * cf / total) / (len + {_QL_MU}))) AS BIGINT) "
    "AS s_milli FROM grid CROSS JOIN stats) "
    "SELECT doc_id, CAST(SUM(s_milli) AS BIGINT) AS score_milli "
    "FROM scored GROUP BY doc_id "
    "ORDER BY score_milli DESC, doc_id LIMIT 10"
)


@register("query_likelihood_topk", _QL_SQL)
def query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001, μ=2000): top-10 documents for the same fixed 3-term query
    BM25 ranks — the language-modeling scorer next to the
    probabilistic one, completing the two classic lexical ranking
    families over the inverted-index layout. Unlike BM25, EVERY
    document scores on EVERY query term (smoothing gives unseen
    terms collection-probability mass), so the scoring frame is
    doc-lengths × the tiny query-term table (broadcast fan-out, no
    token re-scan) left-joined with the term-filtered tf rows.
    Cross-engine exactness: per-(doc, term) partials quantize to
    integer milli-nats before the sum (the bm25 recipe; identical
    IEEE expression trees feed the ln in both engines). At 100 TB
    the tf/cf tables come from the inverted-index layout and the
    only large shuffle is the doc-length aggregate."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    mu = float(_QL_MU)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(F.sum("len").alias("total"))
    qtok = tok.filter(F.col("w").isin(*_BM25_TERMS))
    cf = qtok.groupBy("w").agg(F.count("*").alias("cf"))
    tf = qtok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    grid = (
        dl.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "w"], "left")
        .select(
            "doc_id",
            "len",
            "cf",
            F.coalesce("tf", F.lit(0)).alias("tf"),
        )
    )
    scored = grid.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(
            F.lit(1000)
            * F.log(
                (F.col("tf") + F.lit(mu) * F.col("cf") / F.col("total"))
                / (F.col("len") + F.lit(mu))
            )
        )
        .cast("long")
        .alias("s_milli"),
    )
    out = scored.groupBy("doc_id").agg(F.sum("s_milli").alias("score_milli"))
    return out.orderBy(F.desc("score_milli"), "doc_id").limit(10)


def _nb_sql(feature: str = "w") -> str:
    """The NB train+predict+confusion oracle, parameterized by the
    feature expression over the raw token ``w`` (identity for the
    vocab model, md5-mod for the hashing-trick model)."""
    return (
        f"WITH tk AS (SELECT doc_id, lang, {feature} AS w FROM "
        "(SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w "
        "FROM documents) WHERE w <> ''), "
        + _NB_SQL_BODY
    )


_NB_SQL_BODY = (
    "wc AS (SELECT w, lang AS cls, COUNT(*) AS cnt FROM tk GROUP BY 1, 2), "
    "tot AS (SELECT lang AS cls, COUNT(*) AS tot FROM tk GROUP BY 1), "
    "voc AS (SELECT COUNT(DISTINCT w) AS v FROM tk), "
    "nd AS (SELECT lang AS cls, COUNT(*) AS n_c FROM documents GROUP BY 1), "
    "na AS (SELECT COUNT(*) AS n FROM documents), "
    "cls AS (SELECT t.cls, tot, v, "
    "CAST(ROUND(1000 * ln(CAST(n_c AS DOUBLE) / n)) AS BIGINT) "
    "AS prior_milli, "
    "CAST(ROUND(1000 * ln(1.0 / (tot + v))) AS BIGINT) AS miss_milli "
    "FROM tot t JOIN nd ON t.cls = nd.cls CROSS JOIN voc CROSS JOIN na), "
    "model AS (SELECT w, wc.cls, "
    "CAST(ROUND(1000 * ln((cnt + 1.0) / (tot + v))) AS BIGINT) AS ll_milli "
    "FROM wc JOIN cls ON wc.cls = cls.cls), "
    "tf AS (SELECT doc_id AS id, w, COUNT(*) AS tf FROM tk GROUP BY 1, 2), "
    "sc AS (SELECT id, c.cls, "
    "CAST(SUM(tf * COALESCE(ll_milli, miss_milli)) AS BIGINT) AS tok_milli "
    "FROM tf CROSS JOIN (SELECT cls, miss_milli FROM cls) c "
    "LEFT JOIN model m ON tf.w = m.w AND m.cls = c.cls GROUP BY 1, 2), "
    "fl AS (SELECT d.doc_id AS id, d.lang AS label, c.cls, "
    "c.prior_milli + COALESCE(tok_milli, 0) AS score "
    "FROM documents d CROSS JOIN cls c "
    "LEFT JOIN sc ON sc.id = d.doc_id AND sc.cls = c.cls), "
    "pr AS (SELECT id, label, cls AS pred, row_number() OVER "
    "(PARTITION BY id ORDER BY score DESC, cls) AS rn FROM fl) "
    "SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM pr WHERE rn = 1 GROUP BY label, pred"
)


@register("nb_lang_confusion", _nb_sql())
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND
    scored in-engine (operators/classify.py), reduced to the
    (label, pred, n_docs) confusion matrix — the corpus-routing
    classifier a curation pipeline runs ahead of lang-specific
    cleaning (CCNet-style), and the first in-engine TRAINED model
    with a hash-exact cross-engine oracle: training is two
    map-side-combinable groupBys, log-likelihoods quantize to
    integer milli-nats before any per-doc aggregation (the
    bm25/perplexity recipe), prediction is an integer argmax with
    total tie order. Resubstitution scoring by design — the check
    pins train AND predict in one relation. At 100 TB: one token
    pass; the (vocab × classes) model is Heaps-bounded; the only
    big shuffles key on (token, class) and (doc, class)."""
    from .operators.classify import nb_train_predict

    docs = load_table(spark, sf_dir, "documents", widen=True)
    out = nb_train_predict(docs, "doc_id", "text", "lang")
    return out.groupBy("label", "pred").agg(
        F.count("*").cast("long").alias("n_docs")
    )


_NB_HASH_BUCKETS = 4096


@register(
    "nb_lang_confusion_hashed",
    _nb_sql(
        "CAST(('0x' || substr(md5('fh-v1:' || w), 1, 12)) AS UBIGINT) "
        f"% {_NB_HASH_BUCKETS}"
    ),
)
def nb_lang_confusion_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick variant of nb_lang_confusion (Weinberger et
    al. 2009): features are md5-mod-4096 buckets instead of raw
    tokens, so the trained model is a FIXED (4096 × classes) table
    regardless of vocabulary — the 100 TB shape where even a
    Heaps-bounded vocab table is unwelcome state (no vocab to
    maintain, no OOV rows at predict time, the model always
    broadcasts). Same train+predict+confusion relation, same
    milli-nat integer scoring; the md5 flavor keeps the whole thing
    hash-exact in DuckDB. Bucket collisions fold rare tokens
    together — the standard accuracy/state trade, here pinned
    cross-engine instead of approximated."""
    from .operators.classify import nb_train_predict

    docs = load_table(spark, sf_dir, "documents", widen=True)
    out = nb_train_predict(
        docs, "doc_id", "text", "lang", hash_buckets=_NB_HASH_BUCKETS
    )
    return out.groupBy("label", "pred").agg(
        F.count("*").cast("long").alias("n_docs")
    )


_NB_KFOLD_K = 3

_NB_KFOLD_SQL = (
    # d/tk are referenced by several legs — AS MATERIALIZED, or DuckDB
    # inlines and re-runs the token explode once per reference
    "WITH d AS MATERIALIZED (SELECT doc_id, lang, text, "
    f"CAST({_BUCKET_SQL} % {_NB_KFOLD_K} AS INT) AS fold FROM documents), "
    f"fd AS (SELECT CAST(unnest(range({_NB_KFOLD_K})) AS INT) AS fold), "
    "tk AS MATERIALIZED (SELECT doc_id, lang AS cls, fold, w FROM "
    "(SELECT doc_id, lang, fold, unnest(string_split(text, ' ')) AS w "
    "FROM d) WHERE w <> ''), "
    # leave-one-fold-out counts by subtraction over the fold grid
    "wcf AS MATERIALIZED (SELECT w, cls, fold, COUNT(*) AS cnt_f "
    "FROM tk GROUP BY 1, 2, 3), "
    "wct AS (SELECT w, cls, CAST(SUM(cnt_f) AS BIGINT) AS cnt_t "
    "FROM wcf GROUP BY 1, 2), "
    "mc AS (SELECT wct.w, wct.cls, fd.fold, "
    "cnt_t - COALESCE(cnt_f, 0) AS cnt FROM wct CROSS JOIN fd "
    "LEFT JOIN wcf ON wcf.w = wct.w AND wcf.cls = wct.cls "
    "AND wcf.fold = fd.fold WHERE cnt_t - COALESCE(cnt_f, 0) > 0), "
    "tcf AS (SELECT cls, fold, COUNT(*) AS t_f FROM tk GROUP BY 1, 2), "
    "tct AS (SELECT cls, CAST(SUM(t_f) AS BIGINT) AS t_t FROM tcf "
    "GROUP BY 1), "
    "tt AS (SELECT tct.cls, fd.fold, t_t - COALESCE(t_f, 0) AS tot "
    "FROM tct CROSS JOIN fd LEFT JOIN tcf ON tcf.cls = tct.cls "
    "AND tcf.fold = fd.fold), "
    "wf AS MATERIALIZED (SELECT w, fold, COUNT(*) AS u_f FROM tk "
    "GROUP BY 1, 2), "
    "wt AS (SELECT w, CAST(SUM(u_f) AS BIGINT) AS u_t FROM wf GROUP BY 1), "
    "vc AS (SELECT fd.fold, COUNT(*) AS v FROM wt CROSS JOIN fd "
    "LEFT JOIN wf ON wf.w = wt.w AND wf.fold = fd.fold "
    "WHERE u_t > COALESCE(u_f, 0) GROUP BY 1), "
    "ncf AS (SELECT lang AS cls, fold, COUNT(*) AS m_f FROM d "
    "GROUP BY 1, 2), "
    "nct AS (SELECT cls, CAST(SUM(m_f) AS BIGINT) AS m_t FROM ncf "
    "GROUP BY 1), "
    "nc AS (SELECT nct.cls, fd.fold, m_t - COALESCE(m_f, 0) AS n_c "
    "FROM nct CROSS JOIN fd LEFT JOIN ncf ON ncf.cls = nct.cls "
    "AND ncf.fold = fd.fold), "
    "nf AS (SELECT fold, COUNT(*) AS q_f FROM d GROUP BY 1), "
    "na AS (SELECT COUNT(*) AS q_t FROM d), "
    "nn AS (SELECT fd.fold, q_t - COALESCE(q_f, 0) AS n FROM fd "
    "CROSS JOIN na LEFT JOIN nf ON nf.fold = fd.fold), "
    "cls AS MATERIALIZED (SELECT nc.cls, nc.fold, tot, v, "
    "CAST(ROUND(1000 * ln(CAST(n_c AS DOUBLE) / n)) AS BIGINT) "
    "AS prior_milli, "
    "CAST(ROUND(1000 * ln(1.0 / (tot + v))) AS BIGINT) AS miss_milli "
    "FROM nc JOIN tt ON tt.cls = nc.cls AND tt.fold = nc.fold "
    "JOIN vc ON vc.fold = nc.fold JOIN nn ON nn.fold = nc.fold "
    "WHERE n_c > 0), "
    "model AS (SELECT mc.w, mc.cls, mc.fold, "
    "CAST(ROUND(1000 * ln((cnt + 1.0) / (tot + v))) AS BIGINT) AS ll_milli "
    "FROM mc JOIN cls ON cls.cls = mc.cls AND cls.fold = mc.fold), "
    "tf AS (SELECT doc_id AS id, fold, w, COUNT(*) AS tf FROM tk "
    "GROUP BY 1, 2, 3), "
    "sc AS (SELECT id, c.cls, tf.fold, "
    "CAST(SUM(tf * COALESCE(ll_milli, miss_milli)) AS BIGINT) AS tok_milli "
    "FROM tf JOIN cls c ON c.fold = tf.fold "
    "LEFT JOIN model m ON m.w = tf.w AND m.cls = c.cls "
    "AND m.fold = tf.fold GROUP BY 1, 2, 3), "
    "fl AS (SELECT d.doc_id AS id, d.lang AS label, d.fold, c.cls, "
    "c.prior_milli + COALESCE(tok_milli, 0) AS score "
    "FROM d JOIN cls c ON c.fold = d.fold "
    "LEFT JOIN sc ON sc.id = d.doc_id AND sc.cls = c.cls "
    "AND sc.fold = d.fold), "
    "pr AS (SELECT id, label, fold, cls AS pred, row_number() OVER "
    "(PARTITION BY id ORDER BY score DESC, cls) AS rn FROM fl) "
    "SELECT CAST(fold AS INT) AS fold, label, pred, "
    "CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM pr WHERE rn = 1 GROUP BY 1, 2, 3"
)


@register("nb_kfold_eval", _NB_KFOLD_SQL)
def nb_kfold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated Naive Bayes language classification
    (classify.nb_kfold_predict): every document is predicted by the
    model trained on the OTHER k-1 folds — the honest held-out
    counterpart of nb_lang_confusion's resubstitution demo, reduced
    to the per-fold (fold, label, pred, n_docs) confusion matrix.
    The naive form retrains k times; this is ONE token pass —
    per-(key, fold) counts aggregated once and each fold's
    leave-one-out model derived by SUBTRACTION over a broadcast
    k-row fold grid (cnt_train(i) = cnt_total − cnt_fold(i), ditto
    class totals, per-fold vocab sizes, doc counts). md5 folds
    (traindata.kfold_split) + milli-nat integer scoring make the
    whole evaluation hash-exact in DuckDB — a cross-validated model
    QUALITY metric certified cross-engine, not eyeballed (reference
    analog: the notebooks' manual topic/quality inspection). At
    100 TB: model state is Heaps-bounded × k; all wide shuffles key
    on (token[, class][, fold])."""
    from .operators.classify import nb_kfold_predict

    docs = load_table(spark, sf_dir, "documents", widen=True)
    out = nb_kfold_predict(docs, "doc_id", "text", "lang", k=_NB_KFOLD_K)
    return out.groupBy("fold", "label", "pred").agg(
        F.count("*").cast("long").alias("n_docs")
    )


@register(
    "skyline_pareto_parts",
    "WITH t AS (SELECT p_partkey, "
    "CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents, p_size "
    "FROM part), "
    "m AS (SELECT *, MAX(p_size) OVER (ORDER BY cents RANGE BETWEEN "
    "UNBOUNDED PRECEDING AND 1 PRECEDING) AS mxc, "
    "MAX(p_size) OVER (PARTITION BY cents) AS mxs FROM t) "
    "SELECT p_partkey, cents, p_size FROM m "
    "WHERE (mxc IS NULL OR p_size > mxc) AND p_size = mxs",
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts: minimize price, maximize
    size — no part on the frontier is dominated by a cheaper-and-
    bigger one. The naive formulation is an O(n²) dominance
    anti-join; the 2-D skyline collapses to a running max over the
    price order (relational.skyline_2d), executed as the same
    two-level scan as corpus_token_offsets so no task ever sees the
    global order. Price integer-scaled to cents; exact dominance
    semantics incl. tie groups are pinned by the oracle's RANGE-frame
    twin."""
    part = load_table(spark, sf_dir, "part")
    t = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
        "p_size",
    )
    return R.skyline_2d(t, "cents", "p_size").select(
        "p_partkey", "cents", "p_size"
    )


def _fuzzy_entity_oracle_sql() -> str:
    """Recursive label-propagation twin of fuzzy pairs → connected
    components → min-name canonical (same pattern as
    _minhash_clusters_oracle_sql)."""
    return (
        "WITH RECURSIVE names AS (SELECT DISTINCT p_name AS n FROM part), "
        "b AS (SELECT n, string_split(n, ' ')[-1] AS blk FROM names), "
        "pairs AS (SELECT a.n AS n1, c.n AS n2 FROM b a "
        "JOIN b c ON a.blk = c.blk AND a.n < c.n "
        "WHERE levenshtein(a.n, c.n) <= 3), "
        "edges AS (SELECT n1 AS src, n2 AS dst FROM pairs "
        "UNION ALL SELECT n2, n1 FROM pairs), "
        "reach(node, lbl) AS (SELECT src, src FROM edges "
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r "
        "ON r.node = e.dst), "
        "lab AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node) "
        "SELECT nm.n AS name, COALESCE(lab.root, nm.n) AS entity_rep "
        "FROM names nm LEFT JOIN lab ON lab.node = nm.n"
    )


@register("fuzzy_entity_clusters", _fuzzy_entity_oracle_sql())
def fuzzy_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy pair finding
    (blocked_fuzzy_pairs, edit distance <= 3 within head-noun
    blocks) → distributed connected components → min-name canonical
    per entity. The record-linkage twin of dedup_minhash_clusters:
    pairs alone under-merge transitive variant chains (A~B, B~C must
    resolve to ONE entity). Oracle resolves the same clusters with a
    recursive label-propagation CTE."""
    from .operators.dedup import blocked_fuzzy_pairs, duplicate_clusters

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    blocked = names.withColumn(
        "blk", F.substring_index(F.col("name"), " ", -1)
    )
    pairs = blocked_fuzzy_pairs(blocked, "name", "blk").select(
        F.col("key_1").alias("src"), F.col("key_2").alias("dst")
    )
    return duplicate_clusters(names, "name", pairs, "src", "dst").select(
        "name", F.col("cluster_rep").alias("entity_rep")
    )


@register(
    "seasonal_decompose_daily",
    "WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents "
    "FROM events GROUP BY 1), "
    "tr AS (SELECT day, v_cents, "
    "SUM(v_cents) OVER w AS s7, COUNT(*) OVER w AS c7 FROM daily "
    "WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), "
    "dt AS (SELECT day, v_cents, (s7 * 1000) // 7 AS trend_milli, "
    "v_cents * 1000 - (s7 * 1000) // 7 AS d, "
    "(day - DATE '1970-01-01') % 7 AS dow FROM tr WHERE c7 = 7), "
    "seas AS (SELECT dow, CAST(SUM(d) AS BIGINT) AS sd, COUNT(*) AS cd "
    "FROM dt GROUP BY dow) "
    "SELECT day, v_cents, CAST(trend_milli AS BIGINT) AS trend_milli, "
    "CAST((sd // cd) AS BIGINT) AS seasonal_milli, "
    "CAST(d - (sd // cd) AS BIGINT) AS residual_milli "
    "FROM dt JOIN seas USING (dow) ORDER BY day",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    value series: trend = centered 7-day moving average, seasonal =
    day-of-week mean of the detrended series, residual = remainder —
    all in integer milli-cents (sums exact in any fold order,
    divisions integral `div`//`//`), so the decomposition is
    bit-identical cross-engine. Day-of-week via epoch-day mod 7 (both
    engines' DOW builtins disagree on week start). Scale shape: the
    raw events collapse to <= #days rows FIRST (one hash agg); every
    window thereafter runs over the tiny daily series, so the
    global-order frames are bounded by the calendar, not the data.
    Edge days without a full 7-day window are excluded
    (min_periods=7 semantics, same convention as w1_rolling_trend)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("long")
            ).alias("v_cents")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "v_cents",
        F.sum("v_cents").over(w7).alias("s7"),
        F.count("*").over(w7).alias("c7"),
    )
    dt = (
        tr.filter(F.col("c7") == 7)
        .select(
            "day",
            "v_cents",
            F.expr("(s7 * 1000) div 7").alias("trend_milli"),
            (F.col("v_cents") * 1000 - F.expr("(s7 * 1000) div 7")).alias("d"),
            (
                F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
            ).alias("dow"),
        )
    )
    seas = dt.groupBy("dow").agg(
        F.sum("d").alias("sd"), F.count("*").alias("cd")
    )
    return (
        dt.join(F.broadcast(seas), "dow")
        .select(
            "day",
            "v_cents",
            F.col("trend_milli").cast("long").alias("trend_milli"),
            F.expr("sd div cd").cast("long").alias("seasonal_milli"),
            (F.col("d") - F.expr("sd div cd")).cast("long").alias(
                "residual_milli"
            ),
        )
        .orderBy("day")
    )


@register(
    "ols_trend_per_type",
    "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y "
    "FROM events GROUP BY 1, 2), "
    "mn AS (SELECT MIN(day) AS d0 FROM daily), "
    "pts AS (SELECT event_type, (day - d0) AS x, y FROM daily, mn), "
    "s AS (SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, "
    "CAST(SUM(x * y) AS BIGINT) AS sxy, "
    "CAST(SUM(x * x) AS BIGINT) AS sxx FROM pts GROUP BY event_type) "
    "SELECT event_type, CAST(n AS BIGINT) AS n_days, "
    "CAST(((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) "
    "AS BIGINT) AS slope_ppm, "
    "CAST(((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx) * 1000) "
    "// (n * (n * sxx - sx * sx)) AS BIGINT) AS intercept_milli "
    "FROM s WHERE n * sxx - sx * sx <> 0 ORDER BY event_type",
)
def ols_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise closed-form OLS: per event type, the least-squares
    linear trend of daily value (cents) against the day index —
    slope in ppm-cents/day and intercept in milli-cents, both exact
    integer rationals (numerator·scale div denominator over BIGINT
    moment sums), so the regression is bit-identical cross-engine
    with no floating point anywhere. The regression-family primitive
    the engine otherwise lacks; at 100 TB it is ONE hash aggregation
    of five moment sums per group (map-side partials) after the
    daily pre-aggregation — no iteration, no solver. x is normalized
    to days-since-corpus-start (a 1-row broadcast min) to keep every
    product within int64. Groups with a degenerate x spread (single
    day) are excluded."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        "event_type", F.datediff("day", "d0").cast("long").alias("x"), "y"
    )
    s = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return (
        s.filter(F.expr("n * sxx - sx * sx") != 0)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.expr(
                "((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)"
            ).alias("slope_ppm"),
            F.expr(
                "((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx) "
                "* 1000) div (n * (n * sxx - sx * sx))"
            ).alias("intercept_milli"),
        )
        .orderBy("event_type")
    )


@register(
    "mad_outliers_per_type",
    "WITH v AS (SELECT event_type, event_id, "
    "CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events), "
    "med AS (SELECT event_type, quantile_cont(cents, 0.5) AS m "
    "FROM v GROUP BY event_type), "
    "dev AS (SELECT v.event_type, event_id, cents, "
    "ABS(cents - m) AS ad FROM v JOIN med USING (event_type)), "
    "mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad "
    "FROM dev GROUP BY event_type) "
    "SELECT d.event_type, "
    "CAST(COUNT(*) FILTER (WHERE ad > 10 * mad) AS BIGINT) AS n_outliers, "
    "COUNT(*) AS n_events, "
    "CAST(FLOOR(m) AS BIGINT) AS median_cents, "
    "CAST(FLOOR(mad) AS BIGINT) AS mad_cents "
    "FROM dev d JOIN mad USING (event_type) JOIN med USING (event_type) "
    "GROUP BY d.event_type, m, mad ORDER BY d.event_type",
)
def mad_outliers_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: per-group median absolute deviation
    (MAD) outlier flags — the std-dev-free outlier rule that a
    heavy-tailed 100 TB metric stream needs (variance is itself
    corrupted by the outliers it should find). Exact per-group
    median and MAD via `percentile` (interpolates identically to
    DuckDB's quantile_cont — same convention as perplexity_buckets'
    terciles) over integer cents, two grouped aggregates + two
    broadcast joins back; an event is an outlier when its absolute
    deviation exceeds 10x the MAD. Output: per-type outlier counts
    plus the floored median/MAD (explicit FLOOR: DuckDB CAST(double AS BIGINT) rounds while Spark's cast truncates — a .5 interpolated median splits them). At 100 TB swap
    `percentile` for `approx_percentile` — the plan shape is
    unchanged."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    med = v.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("m")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "cents",
        F.abs(F.col("cents") - F.col("m")).alias("ad"),
        "m",
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "m", "mad")
        .agg(
            F.sum(
                F.when(F.col("ad") > 10 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "n_outliers",
            "n_events",
            F.floor(F.col("m")).cast("long").alias("median_cents"),
            F.floor(F.col("mad")).cast("long").alias("mad_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "concurrent_sessions_sweep",
    # sweep line over session intervals: +1 at start, -1 at end,
    # running sum = concurrency. Closed intervals: at equal
    # timestamps starts order before ends (k = us*2 for starts,
    # us*2+1 for ends), so a length-0 session still counts as 1 and
    # an end-meets-start instant counts both.
    "WITH g AS (SELECT user_id, ts, CASE WHEN "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) "
    "IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
    f"(PARTITION BY user_id ORDER BY ts) > {R.SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new "
    "FROM events), "
    "s AS (SELECT user_id, ts, SUM(is_new) OVER "
    "(PARTITION BY user_id ORDER BY ts) AS sid FROM g), "
    "iv AS (SELECT user_id, sid, MIN(epoch_us(ts)) AS a, "
    "MAX(epoch_us(ts)) AS b FROM s GROUP BY 1, 2), "
    "bb AS (SELECT MIN(a // 86400000000) AS mn, "
    "MAX(b // 86400000000) AS mx FROM iv), "
    "mids AS (SELECT unnest(range(mn, mx + 1)) * 86400000000 * 2 AS k, "
    "0 AS delta FROM bb), "
    "d AS (SELECT a * 2 AS k, 1 AS delta FROM iv "
    "UNION ALL SELECT b * 2 + 1, -1 FROM iv "
    "UNION ALL SELECT k, delta FROM mids), "
    "dk AS (SELECT k, CAST(SUM(delta) AS BIGINT) AS dv FROM d GROUP BY k), "
    "r AS (SELECT k, SUM(dv) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW) AS conc FROM dk) "
    "SELECT CAST((k // 2) // 86400000000 AS BIGINT) AS day_idx, "
    "CAST(MAX(conc) AS BIGINT) AS max_concurrent "
    "FROM r GROUP BY 1 ORDER BY 1",
)
def concurrent_sessions_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency per day via a sweep line: sessionize
    (30-min gap), reduce each session to a [start, end] interval,
    emit +1/-1 boundary deltas, and take the running sum over the
    boundary order — the occupancy/gantt analytic (concurrent users,
    open connections, room occupancy) that interval self-joins get
    quadratically wrong. The running sum is the third reuse of the
    two-level prefix scan (prefix_sum_two_level): boundaries are
    first collapsed per unique instant key (us·2 + start/end bit, so
    same-instant starts order before ends — closed intervals), so
    the scan's unique-key determinism contract holds and NO task
    ever sorts the full boundary stream. Zero-delta sample keys at
    every midnight of the observed span capture concurrency carried
    ACROSS days (a day living entirely inside one long session still
    reports it), so every day in [first start, last end] gets a row.
    Output: (epoch day, max concurrency)."""
    ev = load_table(spark, sf_dir, "events")
    s = R.sessionize(ev, "user_id", "ts")
    iv = s.groupBy("user_id", "session_id").agg(
        F.min(R.epoch_us("ts")).alias("a"), F.max(R.epoch_us("ts")).alias("b")
    )
    # zero-delta sample keys at every midnight in the observed span:
    # without them a day whose only activity is carried IN from
    # earlier days (long sessions crossing midnight) would have no
    # boundary row and its peak would be missed entirely
    bounds = iv.agg(
        F.expr("min(a div 86400000000)").alias("mn"),
        F.expr("max(b div 86400000000)").alias("mx"),
    )
    mids = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("di")
    ).select(
        (F.col("di") * 86400000000 * 2).alias("k"), F.lit(0).alias("delta")
    )
    d = (
        iv.select((F.col("a") * 2).alias("k"), F.lit(1).alias("delta"))
        .union(
            iv.select((F.col("b") * 2 + 1).alias("k"), F.lit(-1).alias("delta"))
        )
        .union(mids)
    )
    dk = d.groupBy("k").agg(F.sum("delta").cast("long").alias("dv"))
    r = R.prefix_sum_two_level(dk, "k", "dv", buckets=256).select(
        "k", (F.col("prefix") + F.col("dv")).alias("conc")
    )
    return (
        r.groupBy(
            F.expr("(k div 2) div 86400000000").alias("day_idx")
        )
        .agg(F.max("conc").cast("long").alias("max_concurrent"))
        .orderBy("day_idx")
    )


# fixed literal weights for the quality classifier (intercept,
# n_tokens/100, mean_word_len, stopword_ratio·1000 — an engine-owned
# toy model; a trained one drops in as the same broadcast row)
_LOGREG_W = ("-1.5", "0.8", "0.3", "0.002")

_LOGREG_SQL = (
    "WITH f AS (SELECT doc_id, "
    "len(string_split(text, ' ')) AS n_tok, "
    "CAST(len(replace(text, ' ', '')) AS DOUBLE) "
    "/ greatest(len(string_split(text, ' ')), 1) AS mwl, "
    "CAST(len(list_filter(string_split(text, ' '), "
    f"w -> list_contains({{stop}}, w))) AS DOUBLE) * 1000 "
    "/ greatest(len(string_split(text, ' ')), 1) AS swr "
    "FROM documents), "
    f"z AS (SELECT doc_id, {_LOGREG_W[0]} + {_LOGREG_W[1]} * (n_tok / 100.0) "
    f"+ {_LOGREG_W[2]} * mwl + {_LOGREG_W[3]} * swr AS z FROM f) "
    "SELECT doc_id, "
    "CAST(ROUND(1000.0 / (1.0 + exp(-z))) AS BIGINT) AS score_milli, "
    "CAST(1000.0 / (1.0 + exp(-z)) >= 500 AS BOOLEAN) AS keep "
    "FROM z"
).format(stop=STOPWORDS_SQL)


@register("quality_logreg_score", _LOGREG_SQL)
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-serving: logistic-regression quality scoring as ONE
    codegen projection — broadcast(able) literal weights over
    engineered features (token count, mean word length, stopword
    ratio), sigmoid, milli-quantized score + keep flag. The shape
    every learned quality/fastText-style filter deploys at 100 TB:
    inference is a map-only stage, no shuffle, no Python; a real
    trained model replaces the weight literals (or a 1-row broadcast
    join). exp()'s 1-ulp Java/libm disagreement is absorbed by the
    milli rounding (perplexity_buckets convention); the keep
    threshold compares the UNROUNDED score identically on both
    sides."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    # ONE kernel shared with the corpus pipeline's classifier gate —
    # weights/features can never desynchronize from the oracle
    score = TS.logreg_quality_score(F.col("text"), list(ALL_STOPWORDS))
    return docs.select(
        "doc_id",
        F.round(score).cast("long").alias("score_milli"),
        (score >= 500).alias("keep"),
    )


@register(
    "pr_curve_quality_filter",
    # model-eval harness: precision/recall of the n_chars-based
    # filter against the lang=='en' weak label at 9 thresholds,
    # all-integer counts and ppm ratios
    "WITH d AS (SELECT doc_id, n_chars, "
    "CAST(lang = 'en' AS INT) AS y FROM documents), "
    "t AS (SELECT unnest(range(1, 10)) * 100 AS thr), "
    "c AS (SELECT thr, "
    "SUM(CASE WHEN n_chars >= thr AND y = 1 THEN 1 ELSE 0 END) AS tp, "
    "SUM(CASE WHEN n_chars >= thr AND y = 0 THEN 1 ELSE 0 END) AS fp, "
    "SUM(CASE WHEN n_chars < thr AND y = 1 THEN 1 ELSE 0 END) AS fn "
    "FROM d, t GROUP BY thr) "
    "SELECT CAST(thr AS BIGINT) AS thr, CAST(tp AS BIGINT) AS tp, "
    "CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn, "
    "CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) "
    "ELSE 0 END AS BIGINT) AS precision_ppm, "
    "CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) "
    "ELSE 0 END AS BIGINT) AS recall_ppm "
    "FROM c ORDER BY thr",
)
def pr_curve_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation harness: the precision/recall curve of a
    candidate filter (n_chars >= threshold) against a weak label
    (lang == 'en') at 9 thresholds in ONE pass — the
    threshold-tuning loop every quality/dedup filter runs before a
    100 TB rollout. The threshold table broadcasts onto the scan
    (9× row multiplier on a 3-column projection, then map-side
    combined counts); precision/recall come out as integer ppm —
    zero floats end to end."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    d = docs.select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y")
    )
    t = spark.range(1, 10).select((F.col("id") * 100).alias("thr"))
    c = (
        d.crossJoin(F.broadcast(t))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("n_chars") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("n_chars") >= F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when((F.col("n_chars") < F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).alias("fn"),
        )
    )
    return c.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 1000000 div (tp + fp)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_ppm"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 1000000 div (tp + fn)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_ppm"),
    ).orderBy("thr")


@register(
    "grouping_sets_day_type",
    "SELECT CAST(ts AS DATE) AS day, event_type, "
    "COUNT(*) AS n, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents "
    "FROM events GROUP BY GROUPING SETS ((CAST(ts AS DATE)), "
    "(event_type), ()) ORDER BY day NULLS FIRST, event_type NULLS FIRST",
)
def grouping_sets_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-day totals, per-type totals, and
    the grand total from ONE scan (completing the reshape family
    next to ROLLUP/CUBE/pivot/unpivot). Catalyst compiles the three
    sets to a single Expand feeding one hash aggregation — a
    union-of-aggregates formulation would rescan the fact table per
    set. Integer-cents sums keep the multi-set totals exact."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            "event_type",
            cents.alias("cents"),
        )
        .groupingSets(
            [["day"], ["event_type"], []], "day", "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("cents").alias("v_cents"))
        .orderBy(
            F.col("day").asc_nulls_first(),
            F.col("event_type").asc_nulls_first(),
        )
    )


@register(
    "quantile_normalize_scores",
    "WITH r AS (SELECT doc_id, source, n_chars, "
    "row_number() OVER (PARTITION BY source "
    "ORDER BY n_chars, doc_id) AS rk, "
    "COUNT(*) OVER (PARTITION BY source) AS cnt FROM documents) "
    "SELECT doc_id, source, "
    "CAST(CASE WHEN cnt > 1 THEN (CAST(rk AS BIGINT) - 1) * 1000000 "
    "// (cnt - 1) "
    "ELSE 0 END AS BIGINT) AS pct_ppm FROM r",
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration: replace each document's raw
    quality signal (n_chars here) with its within-source percentile
    rank in exact integer ppm — the standard fix when sources score
    on incomparable scales and a global threshold would over-prune
    one source (quantile normalization / rank transform). Ties break
    deterministically on doc_id; a single-doc source maps to 0. One
    source-keyed window shuffle; a pathologically hot source
    range-partitions within the key at 100 TB (same playbook as
    pack_sequences' shards)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("cnt"),
    )
    return r.select(
        "doc_id",
        "source",
        F.when(
            F.col("cnt") > 1,
            # row_number() is 32-bit: widen BEFORE the multiply or
            # sources beyond ~2148 docs wrap silently (non-ANSI)
            F.expr("(cast(rk as bigint) - 1) * 1000000 div (cnt - 1)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pct_ppm"),
    )


@register(
    "corpus_report_by_source",
    "WITH h AS (SELECT doc_id, source, "
    "len(string_split(text, ' ')) AS n_tok, md5(text) AS hh "
    "FROM documents), "
    "dups AS (SELECT hh, COUNT(*) AS cnt FROM h GROUP BY hh) "
    "SELECT source, COUNT(*) AS n_docs, "
    "CAST(SUM(n_tok) AS BIGINT) AS total_tokens, "
    "CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_exact_dup, "
    "CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1000000 "
    "// COUNT(*) AS BIGINT) AS dup_ppm "
    "FROM h JOIN dups USING (hh) GROUP BY source ORDER BY source",
)
def corpus_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per source, document and token
    counts plus the exact-duplicate rate (docs whose content hash
    collides with ANY other doc, corpus-wide) in integer ppm — the
    per-ingest health dashboard a curation pipeline publishes next
    to the data-quality audit. Two hash aggregations (md5 count +
    per-source rollup) and one hash-keyed join; the md5 key is
    uniform so neither shuffle can skew."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    h = docs.select(
        "source",
        word_count(F.col("text")).cast("long").alias("n_tok"),
        F.md5("text").alias("hh"),
    )
    dups = h.groupBy("hh").agg(F.count("*").alias("cnt"))
    return (
        h.join(dups, "hh")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_exact_dup"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_exact_dup",
            F.expr("n_exact_dup * 1000000 div n_docs").alias("dup_ppm"),
        )
        .orderBy("source")
    )


@register(
    "equidepth_bin_orders",
    "WITH t AS (SELECT o_orderkey, "
    "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders), "
    "q AS (SELECT quantile_cont(cents, 0.25) AS q1, "
    "quantile_cont(cents, 0.50) AS q2, "
    "quantile_cont(cents, 0.75) AS q3 FROM t), "
    "b AS (SELECT o_orderkey, cents, CASE "
    "WHEN cents <= q1 THEN 1 WHEN cents <= q2 THEN 2 "
    "WHEN cents <= q3 THEN 3 ELSE 4 END AS bin FROM t, q) "
    "SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n, "
    "CAST(MIN(cents) AS BIGINT) AS lo, CAST(MAX(cents) AS BIGINT) AS hi "
    "FROM b GROUP BY bin ORDER BY bin",
)
def equidepth_bin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) binning: assign every order to its
    price quartile via ONE exact percentile aggregate broadcast back
    over the scan (never a global ntile window, which single-tasks
    the table — the same cutpoint pattern as perplexity_buckets'
    terciles), then report per-bin counts and integer-cents bounds.
    `percentile` interpolates identically to DuckDB's quantile_cont,
    and bin edges compare integer cents against the shared cutpoint
    doubles, so assignment is bit-identical cross-engine. The
    feature-bucketing primitive for calibration / monotone binning;
    at 100 TB swap in approx_percentile — plan shape unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    q = t.agg(
        F.percentile("cents", F.lit(0.25)).alias("q1"),
        F.percentile("cents", F.lit(0.50)).alias("q2"),
        F.percentile("cents", F.lit(0.75)).alias("q3"),
    )
    b = t.crossJoin(F.broadcast(q)).select(
        "o_orderkey",
        "cents",
        F.when(F.col("cents") <= F.col("q1"), F.lit(1))
        .when(F.col("cents") <= F.col("q2"), F.lit(2))
        .when(F.col("cents") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("bin"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        )
        .orderBy("bin")
    )


@register(
    "table_fingerprint_orders",
    "WITH h AS (SELECT CAST(CAST(('0x' || substr(md5(concat_ws('|', "
    "CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
    "o_orderstatus, CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) "
    "AS VARCHAR), CAST(epoch_us(o_orderdate) AS VARCHAR))), 1, 15)) "
    "AS UBIGINT) AS BIGINT) AS rh FROM orders) "
    "SELECT COUNT(*) AS n_rows, "
    "CAST(bit_xor(rh) AS BIGINT) AS fingerprint FROM h",
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive whole-table fingerprint: md5 each row's
    canonical string (keys, integer cents, epoch-micros date), fold
    the 60-bit prefixes with BIT_XOR — commutative and associative,
    so the fingerprint is identical for ANY row order, partitioning,
    or engine (the md5-prefix convention shared with the dedup
    oracles). The replication/migration validation primitive: two
    copies of a table match iff (n_rows, fingerprint) match, checked
    in one aggregate-only pass with no sort and no driver data.
    XOR's self-inverse means duplicate PAIRS cancel — pair with the
    row count (and the PK-dup check in data_quality_audit) to close
    that blind spot."""
    orders = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        R.epoch_us("o_orderdate").cast("string"),
    )
    rh = md5_int(canon, 15)
    return orders.select(rh.alias("rh")).agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(rh)").cast("long").alias("fingerprint"),
    )




# --------------------------------------------------------------------
# round 10 (cont.): k-core decomposition by unrolled peeling over the
# strong-tie supplier graph
# --------------------------------------------------------------------


def _kcore_oracle_sql() -> str:
    parts = [
        f"WITH {_STRONG_TIE_CTES}, ",
        # e is referenced by every peel round: inline CTEs would
        # re-run the Σdeg² common-customer join once per reference
        # (the LPA-oracle lesson) — materialize the cut once
        "em AS MATERIALIZED (SELECT s1, s2 FROM e), ",
        "und AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM em "
        "UNION ALL SELECT s2 AS a, s1 AS b FROM em), ",
        "n0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)",
    ]
    for t in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f", d{t} AS MATERIALIZED (SELECT u.a AS node, "
            f"CAST(COUNT(*) AS BIGINT) AS d "
            f"FROM und u JOIN n{t-1} x ON u.a = x.node "
            f"JOIN n{t-1} y ON u.b = y.node GROUP BY 1)"
            f", n{t} AS MATERIALIZED (SELECT node FROM d{t} "
            f"WHERE d >= {_KCORE_K})"
        )
    parts.append(
        f" SELECT node, d AS deg_core, "
        f"(SELECT COUNT(*) FROM n{_KCORE_ROUNDS}) = "
        f"(SELECT COUNT(*) FROM n{_KCORE_ROUNDS - 1}) AS converged "
        f"FROM d{_KCORE_ROUNDS} WHERE d >= {_KCORE_K}"
    )
    return "".join(parts)


@register("kcore_suppliers", _kcore_oracle_sql())
def kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983; Batagelj-Zaveršnik
    peeling) of the strong-tie supplier graph: iteratively remove
    nodes of degree < k until (towards) fixpoint — the standard
    coherent-subgroup extraction next to triangles/communities, and
    the degeneracy-ordering building block. 4 unrolled peel rounds at
    k=2; output = surviving nodes with their degree w.r.t. the prior
    round's survivors plus a global `converged` boolean certifying
    whether the peel reached fixpoint (the hash pins the peel
    TRAJECTORY either way). Plan: the top-2000 rank-cut edge table is
    persisted once and mirrored; each round is two node-keyed
    LEFT SEMI joins + ONE count agg over the shrinking survivor set,
    and each survivor table eager-localCheckpoints because the next
    round references it twice (both endpoints — the LPA
    tree-doubling lesson). At 100 TB each peel round is one
    degree-count shuffle over the current core — exactly how
    distributed k-core runs (Montresor et al. 2013); full coreness
    numbers = rerun per k or bucket by binary search."""
    from .operators.graph import kcore_peel

    e = _strong_tie_edges(spark, sf_dir)
    out = kcore_peel(e, "s1", "s2", k=_KCORE_K, rounds=_KCORE_ROUNDS)
    e.unpersist()
    return out


_ASSORT_SQL = (
    f"WITH {_STRONG_TIE_CTES}, "
    "em AS MATERIALIZED (SELECT s1, s2 FROM e), "
    "und AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM em "
    "UNION ALL SELECT s2 AS a, s1 AS b FROM em), "
    "dg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1), "
    "ed AS (SELECT d1.d AS j, d2.d AS k FROM em "
    "JOIN dg d1 ON em.s1 = d1.a JOIN dg d2 ON em.s2 = d2.a), "
    "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, "
    "CAST(SUM(j * k) AS BIGINT) AS s1, "
    "CAST(SUM(j + k) AS BIGINT) AS s2, "
    "CAST(SUM(j * j + k * k) AS BIGINT) AS s3 FROM ed) "
    # numerator/denominator go through 128-bit integers (DuckDB
    # HUGEINT / Spark DECIMAL(38,0)) before the *1e6 scaling: under
    # extreme degree skew 4*m*s1 reaches ~6e16 and the ppm product
    # would wrap int64 silently in Spark (non-ANSI) while DuckDB
    # raises — 128-bit keeps both exact; both engines' integer
    # division truncates toward zero, verified.
    "SELECT m, s1, s2, s3, "
    "CAST((CAST(4 AS HUGEINT) * m * s1 - CAST(s2 AS HUGEINT) * s2) "
    "* 1000000 // NULLIF(CAST(2 AS HUGEINT) * m * s3 "
    "- CAST(s2 AS HUGEINT) * s2, 0) AS BIGINT) AS assortativity_ppm "
    "FROM s"
)


@register("degree_assortativity", _ASSORT_SQL)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the strong-tie supplier graph (Newman
    2002 §II: the Pearson correlation of degrees at either end of an
    edge — do hubs link to hubs?). The textbook estimator reduces to
    three edge sums (Σjk, Σ(j+k), Σ(j²+k²)) and the edge count, so
    r = (4m·S1 − S2²) / (2m·S3 − S2²) is an EXACT integer rational —
    emitted as one truncating ppm division plus its four integer
    components (the hash pins the full computation, not just the
    ratio). Plan: edge cut persisted once; ONE degree agg + two
    degree joins + ONE 4-sum single-row aggregate — no window, no
    float anywhere. At 100 TB: degrees are a node-keyed agg, the
    joins are node-keyed hash joins, and the final fold is map-side
    combined into one row."""
    e = _strong_tie_edges(spark, sf_dir)
    und = e.select(F.col("s1").alias("a")).unionByName(
        e.select(F.col("s2").alias("a"))
    )
    dg = und.groupBy("a").agg(F.count("*").alias("d"))
    ed = (
        e.join(dg.select(F.col("a").alias("s1"), F.col("d").alias("j")), "s1")
        .join(dg.select(F.col("a").alias("s2"), F.col("d").alias("k")), "s2")
        .select("j", "k")
    )
    s = ed.agg(
        F.count("*").alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("s1"),
        F.sum(F.col("j") + F.col("k")).alias("s2"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k")).alias("s3"),
    )
    out = s.select(
        "m",
        "s1",
        "s2",
        "s3",
        F.expr(
            "cast((cast(4 as decimal(38,0)) * m * s1"
            " - cast(s2 as decimal(38,0)) * s2) * 1000000"
            " div nullif(cast(2 as decimal(38,0)) * m * s3"
            " - cast(s2 as decimal(38,0)) * s2, 0) as bigint)"
        ).alias("assortativity_ppm"),
    )
    return out


# --------------------------------------------------------------------
# round 10 (cont.): nDCG@10 of the BM25 ranking — the graded ranking
# metric completing the eval-harness family (PR curve, ECE, recall
# evals, kappa)
# --------------------------------------------------------------------

# ROUND(1e6 / log2(i+1)) for ranks 1..10 — embedded as literals on
# both sides so no runtime log is in the certified path
_DCG_W = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]


def _ndcg_oracle_sql() -> str:
    wvals = ", ".join(f"({i + 1}, {w})" for i, w in enumerate(_DCG_W))
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return (
        f"WITH base AS ({_BM25_SQL}), "
        "rk AS (SELECT doc_id, ROW_NUMBER() OVER "
        "(ORDER BY score_milli DESC, doc_id) AS r FROM base), "
        "g AS (SELECT doc_id, CAST(COUNT(DISTINCT w) AS BIGINT) AS grade "
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
        f"FROM documents) t WHERE w IN ({terms}) GROUP BY doc_id), "
        f"w AS (SELECT * FROM (VALUES {wvals}) AS v(r, wt)), "
        "dcg AS (SELECT CAST(SUM(COALESCE(g.grade, 0) * w.wt) AS BIGINT) "
        "AS dcg_um FROM rk JOIN w USING (r) "
        "LEFT JOIN g ON rk.doc_id = g.doc_id), "
        "ig AS (SELECT grade, ROW_NUMBER() OVER "
        "(ORDER BY grade DESC, doc_id) AS r FROM g), "
        "idcg AS (SELECT CAST(SUM(ig.grade * w.wt) AS BIGINT) AS idcg_um "
        "FROM ig JOIN w USING (r)), "
        "nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_graded FROM g) "
        "SELECT dcg_um, idcg_um, "
        "dcg_um * 1000000 // NULLIF(idcg_um, 0) AS ndcg_ppm, n_graded "
        "FROM dcg CROSS JOIN idcg CROSS JOIN nrel"
    )


@register("ndcg_bm25_eval", _ndcg_oracle_sql())
def ndcg_bm25_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking (Järvelin & Kekäläinen 2002)
    against a term-coverage relevance grade (distinct query terms
    present, 0..3) — the graded ranking metric that completes the
    eval-harness family next to the PR curve, calibration ECE, and
    the ANN/LSH recall evals. The log2 rank discounts are
    micro-quantized LITERALS (no runtime log), grades and discounts
    multiply as exact integers, and the ideal DCG needs only the
    grade VALUES (ties in the ideal ordering cannot change it), so
    dcg/idcg/ndcg_ppm are hash-exact. Plan: the BM25 top-10 reuses
    the certified query's exact pipeline; grades are ONE term-
    filtered distinct-count agg (the IN-list prunes the token explode
    at the scan); every window runs on <= 10 rows; the ideal top-10
    is a TakeOrderedAndProject heap over the graded docs. At 100 TB
    the eval joins the ranking (k rows) against the grade table —
    ranking-metric cost is O(k), not corpus-sized."""
    from pyspark.sql import Window

    base = bm25_topk_docs(spark, sf_dir)
    rk = base.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_milli"), F.col("doc_id")))
        .alias("r"),
    )
    docs = load_table(spark, sf_dir, "documents", widen=True)
    g = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("w").alias("grade"))
    )
    w = spark.createDataFrame(
        [(i + 1, wt) for i, wt in enumerate(_DCG_W)], "r int, wt long"
    )
    dcg = (
        rk.join(F.broadcast(w), "r")
        .join(g, "doc_id", "left")
        .agg(
            F.sum(F.coalesce(F.col("grade"), F.lit(0)) * F.col("wt"))
            .cast("long")
            .alias("dcg_um")
        )
    )
    ig = (
        g.orderBy(F.desc("grade"), "doc_id")
        .limit(10)
        .select(
            "grade",
            F.row_number()
            .over(Window.orderBy(F.desc("grade"), F.col("doc_id")))
            .alias("r"),
        )
    )
    idcg = ig.join(F.broadcast(w), "r").agg(
        F.sum(F.col("grade") * F.col("wt")).cast("long").alias("idcg_um")
    )
    nrel = g.agg(F.count("*").alias("n_graded"))
    return (
        dcg.crossJoin(idcg)
        .crossJoin(nrel)
        .select(
            "dcg_um",
            "idcg_um",
            F.expr("dcg_um * 1000000 div nullif(idcg_um, 0)").alias(
                "ndcg_ppm"
            ),
            "n_graded",
        )
    )


# --------------------------------------------------------------------
# round 10 (cont.): HITS hubs & authorities over the customer ->
# supplier purchase graph
# --------------------------------------------------------------------


def _hits_oracle_sql() -> str:
    parts = [
        f"WITH e0 AS ({_BIPROJ_SQL}), ",
        "e AS MATERIALIZED (SELECT c, s FROM e0), ",
        "cs AS MATERIALIZED (SELECT DISTINCT c FROM e), ",
        "ss AS MATERIALIZED (SELECT DISTINCT s FROM e), ",
        f"h0 AS (SELECT c, CAST({_HITS_SCALE} AS BIGINT) AS h FROM cs)",
    ]
    prev_h = "h0"
    for t in range(1, _HITS_ITERS + 1):
        parts.append(
            f", ar{t} AS (SELECT e.s, CAST(SUM(h.h) AS BIGINT) AS a "
            f"FROM e JOIN {prev_h} h ON e.c = h.c GROUP BY e.s)"
            f", am{t} AS (SELECT GREATEST(MAX(a), 1) AS m FROM ar{t})"
            f", a{t} AS MATERIALIZED (SELECT ss.s, "
            f"COALESCE(ar{t}.a, 0) * {_HITS_SCALE} // am{t}.m AS a "
            f"FROM ss LEFT JOIN ar{t} ON ss.s = ar{t}.s CROSS JOIN am{t})"
            f", hr{t} AS (SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS h "
            f"FROM e JOIN a{t} a ON e.s = a.s GROUP BY e.c)"
            f", hm{t} AS (SELECT GREATEST(MAX(h), 1) AS m FROM hr{t})"
            f", h{t} AS MATERIALIZED (SELECT cs.c, "
            f"COALESCE(hr{t}.h, 0) * {_HITS_SCALE} // hm{t}.m AS h "
            f"FROM cs LEFT JOIN hr{t} ON cs.c = hr{t}.c CROSS JOIN hm{t})"
        )
        prev_h = f"h{t}"
    parts.append(
        f" SELECT s AS supplier, CAST(a AS BIGINT) AS authority_micro "
        f"FROM a{_HITS_ITERS} ORDER BY a DESC, s LIMIT 20"
    )
    return "".join(parts)


@register("hits_copurchase", _hits_oracle_sql())
def hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999 §3) over the customer
    -> supplier purchase bipartite graph: customers are hubs,
    suppliers authorities; 3 unrolled mutual-reinforcement rounds
    (a = Mᵀh, h = Ma) in exact BIGINT with the subspace-iteration
    max-abs rescale to 1e6 integer units by truncating division (the
    pmi/lsa normalization — scores are nonnegative here so max ==
    max-abs), so the ENTIRE trajectory is hash-certified; top-20
    authorities with full (score, id) tie-break. PageRank answers
    "globally important node"; HITS separates "buys broadly" from
    "bought broadly" — the other classic spectral ranking, and on a
    bipartite graph it converges to the singular vectors of M. Plan:
    the distinct edge table is eager-checkpointed ONCE and every
    half-round reads it back; each half-round is ONE key-partitioned
    join + hash agg (the pagerank shape) + a 1-row broadcast rescale;
    final cut is TakeOrderedAndProject. At 100 TB: identical to
    distributed power iteration — edges shuffle on the join key,
    scores ride as skinny (node, int) rows."""
    pairs = (
        _supplier_projection(spark, sf_dir)
        .localCheckpoint(eager=True)
    )
    cs = pairs.select("c").distinct()
    ss = pairs.select("s").distinct()
    h = cs.select("c", F.lit(_HITS_SCALE).cast("long").alias("v"))
    for _ in range(_HITS_ITERS):
        a = _hits_half_round(pairs, h, "c", ss, "s")
        h = _hits_half_round(pairs, a, "s", cs, "c")
    return (
        a.orderBy(F.desc("v"), "s")
        .limit(20)
        .select(
            F.col("s").alias("supplier"),
            F.col("v").cast("long").alias("authority_micro"),
        )
    )


def _hits_half_round(
    pairs: DataFrame,
    score: DataFrame,
    src: str,
    nodes: DataFrame,
    dst: str,
) -> DataFrame:
    """One HITS half-round over the (c, s) edge table: each ``dst``
    node's inbound sum of its ``src`` neighbours' scores ``v``, then
    the max rescale to ``_HITS_SCALE`` integer units (truncating division;
    nodes with no inbound edge score 0). Returns (dst, v) over
    ``nodes``.

    The inbound-sum aggregate is eager-checkpointed: its max rides in
    as a BROADCAST, and exchange reuse never crosses a broadcast
    boundary (stage_io gotcha), so a lazy chain re-executed the edge
    join once per max AND re-analyzed a score tree that embeds every
    earlier broadcast — the LPA twice-referenced-frame lesson applied
    to power iteration. The checkpointed frame is one score row per
    node (the |V|-sized state any distributed HITS carries); a
    half-round costs exactly one keyed join + agg job."""
    raw = (
        pairs.join(score, src).groupBy(dst).agg(F.sum("v").alias("raw"))
    ).localCheckpoint(eager=True)
    m = raw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
    return (
        nodes.join(raw, dst, "left")
        .crossJoin(F.broadcast(m))
        .select(
            dst, F.expr(f"coalesce(raw, 0) * {_HITS_SCALE} div m").alias("v")
        )
    )


# --------------------------------------------------------------------
# round 11: butterfly (4-cycle) counting in the purchase bipartite
# graph — the bipartite clustering primitive beside triangles
# --------------------------------------------------------------------

_BUTTERFLY_SQL = """
WITH ia0 AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
deg AS (SELECT u FROM ia0 GROUP BY u HAVING COUNT(*) <= 10000),
ia AS (SELECT ia0.u, ia0.i FROM ia0 JOIN deg USING (u)),
co AS (SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS co
       FROM ia a JOIN ia b ON a.u = b.u AND a.i < b.i GROUP BY 1, 2),
bf AS (SELECT i, j, co * (co - 1) // 2 AS bf FROM co WHERE co >= 2),
tot AS (SELECT CAST(COALESCE(SUM(bf), 0) AS BIGINT) AS total_butterflies
        FROM bf),
per AS (SELECT item, CAST(SUM(bf) AS BIGINT) AS n_butterflies,
               CAST(COUNT(*) AS BIGINT) AS n_copartners
        FROM (SELECT i AS item, bf FROM bf
              UNION ALL SELECT j AS item, bf FROM bf)
        GROUP BY item)
SELECT item, n_butterflies, n_copartners, total_butterflies
FROM per CROSS JOIN tot
ORDER BY n_butterflies DESC, item LIMIT 20
"""


@register("butterfly_counts_bipartite", _BUTTERFLY_SQL)
def butterfly_counts_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2x2 biclique / 4-cycle) counting over the
    customer-part purchase bipartite graph (Wang-Fu-Cheng rectangle
    counting; Sanei-Mehri et al. 2018) — the bipartite analogue of
    triangle counting and the base of bipartite clustering
    coefficients. Exact per-pair identity: butterflies(i,j) =
    C(co_ij, 2) with co_ij the common-customer count, so per-item
    and global totals are pure integer sums; top-20 items with full
    (count, item) tie-break, the global total riding as a 1-row
    broadcast column. Plan: the distinct user-item edges pair-join
    user-keyed (hot baskets capped by cap_hot_keys at 10k, the cap
    MIRRORED in the oracle's deg CTE so both sides compute the same
    capped semantics under any skew; AQE skew-split — the
    item_item_recs contract), ONE (i,j) count shuffle, the co>=2
    prune drops the co=1 bulk BEFORE the per-item explode, one
    item-keyed sum, TakeOrderedAndProject. At 100 TB identical to
    the wedge-count phase of distributed rectangle counting: SUM
    C(co,2) never materializes a 4-cycle."""
    ia = _capped_interactions(spark, sf_dir)
    # one explicit user-keyed exchange, renames above it (ReusedExchange;
    # full-width pair stage — the recommend.item_item_topk shape)
    iar = ia.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "u"
    )
    a = iar.select("u", F.col("i").alias("i1"))
    b = iar.select("u", F.col("i").alias("i2"))
    co = (
        a.join(b, "u")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= 2)
        .select(
            "i1", "i2", F.expr("co * (co - 1) div 2").alias("bf")
        )
    )
    return _pair_rollup(
        co, "i1", "i2", "bf", "n_butterflies", "total_butterflies"
    )
