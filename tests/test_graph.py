"""PageRank: exact integer arithmetic on known graphs."""

from __future__ import annotations

import pytest

from bbcnews_scraper_nlp_spark.operators.graph import PR_SCALE, pagerank


def _pr(spark, edges, iters=3):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df, "src", "dst", iters=iters).collect()
    }


def test_symmetric_cycle_is_uniform(spark):
    # directed 3-cycle: out-degree 1 everywhere -> ranks stay equal
    got = _pr(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert len(set(got.values())) == 1
    # mass stays ~1.0 (integral truncation loses <1 unit per div)
    assert abs(sum(got.values()) - PR_SCALE) < 100


def test_star_hub_dominates(spark):
    # undirected star: hub h <-> leaves x/y/z
    pairs = [("h", "x"), ("h", "y"), ("h", "z")]
    edges = pairs + [(b, a) for a, b in pairs]
    got = _pr(spark, edges)
    assert got["h"] > got["x"] == got["y"] == got["z"]


def test_matches_reference_float_pagerank(spark):
    # vs a literal float implementation of the same truncating updates
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    deg = {s: sum(1 for a, _ in edges if a == s) for s in nodes if any(a == s for a, _ in edges)}
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(3):
        inbound = {v: 0 for v in nodes}
        for s, d in edges:
            inbound[d] += r[s] // deg[s]
        r = {v: (15 * PR_SCALE) // (100 * n) + (85 * inbound[v]) // 100 for v in nodes}
    got = _pr(spark, edges)
    assert got == r


def test_deterministic_across_partitionings(spark):
    edges = [(f"n{i}", f"n{(i * 7) % 23}") for i in range(60)]
    df1 = spark.createDataFrame(edges, "src string, dst string")
    a = {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df1, "src", "dst").collect()
    }
    b = {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df1.repartition(7), "src", "dst").collect()
    }
    assert a == b


def test_triangle_query_counts_k3_correctly(spark):
    # the ordered 3-way self-join counts each triangle once per node:
    # a K4 has 4 triangles, each node participates in exactly 3
    from pyspark.sql import functions as F

    nodes = ["a", "b", "c", "d"]
    edges = [(x, y) for x in nodes for y in nodes if x < y]
    e = spark.createDataFrame(edges, "s1 string, s2 string")
    ab = e.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    bc = e.select(F.col("s1").alias("b"), F.col("s2").alias("c"))
    ac = e.select(F.col("s1").alias("a"), F.col("s2").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    assert tri.count() == 4
    pern = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select("b"))
        .union(tri.select("c"))
        .groupBy("node")
        .agg(F.count("*").alias("n"))
    )
    assert {r["node"]: r["n"] for r in pern.collect()} == {
        n: 3 for n in nodes
    }


def test_data_quality_audit_clean_on_testdata(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    got = {
        r["check_name"]: r["n_violations"]
        for r in REGISTRY["data_quality_audit"].fn(spark, sf_dir).collect()
    }
    assert len(got) == 6
    assert all(v == 0 for v in got.values()), got  # testdata is clean


def test_cap_hot_keys_bounds_fanout_and_noop_below_cap(spark):
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.queries import cap_hot_keys

    rows = [("hot", i) for i in range(500)] + [
        (f"k{i}", j) for i in range(20) for j in range(3)
    ]
    df = spark.createDataFrame(rows, "c string, s long")
    capped = cap_hot_keys(df, "c", 100)
    # the hot key vanishes entirely; normal keys untouched
    assert capped.filter(F.col("c") == "hot").count() == 0
    assert capped.count() == 60
    # pair fanout after the cap is bounded by 20 * C(3,2) = 60
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "c")
        .filter(F.col("a.s") < F.col("b.s"))
    )
    assert pairs.count() == 60
    # cap above every group size -> row-identical passthrough
    assert cap_hot_keys(df, "c", 10_000).count() == df.count()


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_copurchase",  # lazy persists read by the returned plan
        "kcore_suppliers",  # persist + eager localCheckpoints
        "kmv_distinct_setops",  # persisted sketch rows
        "streaming_dedup",  # memory-sink view of a drained stream
    ],
)
def test_release_blocks_empties_storage_and_query_reruns(spark, sf_dir, name):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY
    from bbcnews_scraper_nlp_spark.session import release_blocks

    fn = REGISTRY[name].fn
    try:
        first = sorted(fn(spark, sf_dir).collect())
        release_blocks(spark)
        assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert not [v for v in spark.sql("SHOW VIEWS").collect() if v.isTemporary]
        # blocks are owned by the caller, not by the query: a fresh
        # call rebuilds them and returns the same rows
        assert sorted(fn(spark, sf_dir).collect()) == first
    finally:
        release_blocks(spark)


def test_bounded_shortest_paths_matches_dijkstra_within_hops(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import (
        bounded_shortest_paths,
    )

    #      1 --2-- 2 --2-- 3
    #      |               |
    #      10              1     (0-1-2-3-4 costs 2+2+2+1=7; 0-4 direct
    #  0 --+               |      via 0-1(10)? no: 0-1 edge is 10,
    #      \------1------- 4      0-4 edge is 1)
    edges = [
        (0, 1, 10), (1, 2, 2), (2, 3, 2), (3, 4, 1), (0, 4, 1),
        (5, 6, 1),  # disconnected from 0
    ]
    sym = edges + [(b, a, w) for a, b, w in edges]
    e = spark.createDataFrame(sym, "src long, dst long, w long")
    src = spark.createDataFrame([(0,)], "node long")

    got = {
        r["node"]: r["dist"]
        for r in bounded_shortest_paths(e, "src", "dst", "w", src, hops=4).collect()
    }
    # reference: hop-capped DP relaxation (NOT unbounded Dijkstra —
    # with a hop cap the answer can exceed the true shortest path)
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b, w in sym:
        adj[a].append((b, w))
    # DP over hops (exactly what hop-bounded shortest path means)
    INF = float("inf")
    dist = defaultdict(lambda: INF)
    dist[0] = 0
    for _ in range(4):
        nxt = dict(dist)
        for u, du in list(dist.items()):
            for v, w in adj[u]:
                if du + w < nxt.get(v, INF):
                    nxt[v] = du + w
        dist = defaultdict(lambda: INF, nxt)
    want = {k: v for k, v in dist.items() if v < INF}
    assert got == want
    assert got[4] == 1 and got[3] == 2 and got[2] == 4  # via the cheap arc
    assert 5 not in got and 6 not in got  # unreachable stays absent


# ---------------------------------------------------------------- LPA


from bbcnews_scraper_nlp_spark.operators.graph import label_propagation


def _lpa(spark, edges, iters=3):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["node"]: r["community"]
        for r in label_propagation(df, "src", "dst", iters=iters).collect()
    }


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_lpa_two_cliques(spark):
    # two disconnected triangles: each floods to its own min label
    t1 = _sym([("a1", "a2"), ("a2", "a3"), ("a1", "a3")])
    t2 = _sym([("b1", "b2"), ("b2", "b3"), ("b1", "b3")])
    got = _lpa(spark, t1 + t2)
    assert got["a1"] == got["a2"] == got["a3"] == "a1"
    assert got["b1"] == got["b2"] == got["b3"] == "b1"


def test_lpa_matches_literal_python(spark):
    # vs a literal synchronous-LPA with the same min tie-break
    import collections

    pairs = [(f"n{i}", f"n{(i * 5 + 1) % 17}") for i in range(30)]
    edges = [(a, b) for a, b in _sym(pairs) if a != b]
    inn = collections.defaultdict(list)
    for s, d in edges:
        inn[d].append(s)
    nodes = sorted({n for e in edges for n in e})
    lbl = {v: v for v in nodes}
    for _ in range(3):
        new = {}
        for v in nodes:
            votes = collections.Counter(lbl[u] for u in inn[v])
            if not votes:
                new[v] = lbl[v]
                continue
            mc = max(votes.values())
            new[v] = min(l for l, c in votes.items() if c == mc)
        lbl = new
    assert _lpa(spark, edges) == lbl


def test_lpa_no_in_edges_keeps_own_label(spark):
    # directed: c has no in-edges -> keeps its own label
    got = _lpa(spark, [("c", "a"), ("a", "b"), ("b", "a")], iters=2)
    assert got["c"] == "c"


def test_lpa_deterministic_across_partitionings(spark):
    pairs = [(f"n{i}", f"n{(i * 7) % 23}") for i in range(60)]
    edges = [(a, b) for a, b in _sym(pairs) if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {
        r["node"]: r["community"]
        for r in label_propagation(df, "src", "dst").collect()
    }
    b = {
        r["node"]: r["community"]
        for r in label_propagation(df.repartition(7), "src", "dst").collect()
    }
    assert a == b


def test_random_walks_follow_edges_and_length(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import random_walks

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a"), ("c", "b"),
             ("a", "c")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    rows = random_walks(df, "src", "dst", steps=3).collect()
    byw = {}
    for r in rows:
        byw.setdefault(r["walk"], {})[r["step"]] = r["node"]
    # one walk per node, each with steps+1 positions starting at its node
    assert len(byw) == 3
    edge_set = set(pairs)
    for walk, path in byw.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert walk == f"{path[0]}#0"
        for t in range(3):
            assert (path[t], path[t + 1]) in edge_set


def test_random_walks_deterministic_and_md5_pick(spark):
    import hashlib

    from bbcnews_scraper_nlp_spark.operators.graph import random_walks

    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("c", "a"),
             ("d", "a")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = sorted(
        (r["walk"], r["step"], r["node"])
        for r in random_walks(df, "src", "dst", steps=2).collect()
    )
    again = sorted(
        (r["walk"], r["step"], r["node"])
        for r in random_walks(
            df.repartition(5), "src", "dst", steps=2
        ).collect()
    )
    assert got == again
    # literal-python replay of walk a#0 step 1: neighbors of a sorted
    # by id, pick = md5("rw-v1:a#0:1:a") 48-bit prefix mod 3
    nbrs = ["b", "c", "d"]
    pick = int(hashlib.md5(b"rw-v1:a#0:1:a").hexdigest()[:12], 16) % 3
    step1 = {r[2] for r in got if r[0] == "a#0" and r[1] == 1}
    assert step1 == {nbrs[pick]}


def test_random_walks_multiple_walks_per_node(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import random_walks

    pairs = [("a", "b"), ("b", "a")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    rows = random_walks(df, "src", "dst", steps=1, walks_per_node=3).collect()
    walks = {r["walk"] for r in rows}
    assert walks == {"a#0", "a#1", "a#2", "b#0", "b#1", "b#2"}
    assert len(rows) == 6 * 2


def test_node2vec_walks_valid_and_deterministic(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import node2vec_walks

    pairs = [(a, b) for a in "abcd" for b in "abcd" if a != b]
    df = spark.createDataFrame(pairs, "src string, dst string")
    rows = node2vec_walks(df, "src", "dst", steps=3).collect()
    byw = {}
    for r in rows:
        byw.setdefault(r["walk"], {})[r["step"]] = r["node"]
    assert len(byw) == 4
    edge_set = set(pairs)
    for walk, path in byw.items():
        assert sorted(path) == [0, 1, 2, 3]
        for t in range(3):
            assert (path[t], path[t + 1]) in edge_set
    again = {}
    for r in node2vec_walks(
        df.repartition(7), "src", "dst", steps=3
    ).collect():
        again.setdefault(r["walk"], {})[r["step"]] = r["node"]
    assert byw == again


def test_node2vec_bias_literal_python_replay(spark):
    import hashlib

    from bbcnews_scraper_nlp_spark.operators.graph import node2vec_walks

    # path graph a-b-c plus edge b-d: from b arriving from a, the
    # candidates (id-ordered) are a (return, w=500), c (far — a,c not
    # adjacent, w=2000), d (far, w=2000); replay the md5 interval pick
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
             ("b", "d"), ("d", "b")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    rows = node2vec_walks(df, "src", "dst", steps=2).collect()
    path = {}
    for r in rows:
        if r["walk"] == "a#0":
            path[r["step"]] = r["node"]
    assert path[0] == "a" and path[1] == "b"  # a's only neighbor
    cands = [("a", 500), ("c", 2000), ("d", 2000)]
    tot = sum(w for _, w in cands)
    r = int(hashlib.md5(b"n2v-v1:a#0:2:a:b").hexdigest()[:12], 16) % tot
    cum = 0
    for node, w in cands:
        cum += w
        if r < cum:
            expect = node
            break
    assert path[2] == expect


def test_personalized_pagerank_mass_concentrates_at_seeds(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import pagerank

    # star: hub h connected to spokes a..e both ways; seed = {a}
    spokes = ["a", "b", "c", "d", "e"]
    pairs = [("h", x) for x in spokes] + [(x, "h") for x in spokes]
    df = spark.createDataFrame(pairs, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df, "src", "dst", seeds).collect()
    }
    # seed and hub hold nearly all mass; a beats every other spoke
    assert got["a"] > got["b"] == got["c"] == got["d"] == got["e"]
    assert got["h"] > got["b"]
    # global pagerank by contrast ranks all spokes equally with a
    gl = {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df, "src", "dst").collect()
    }
    assert gl["a"] == gl["b"]
    # every node a seed: the restart mass and teleport are exactly
    # global pagerank's
    every = spark.createDataFrame([(x,) for x in ["h"] + spokes], "node string")
    assert {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df, "src", "dst", every).collect()
    } == gl


def test_personalized_pagerank_unreachable_gets_zero(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import pagerank

    # two disconnected components; seed in one -> the other gets 0
    pairs = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["pr_scaled"]
        for r in pagerank(df, "src", "dst", seeds).collect()
    }
    assert got["x"] == 0 and got["y"] == 0
    assert got["a"] > 0 and got["b"] > 0


def test_pmi_embedding_matches_literal_python(spark):
    """Literal-Python twin of the ENTIRE pmi_embedding_vectors chain
    (walks -> window pairs -> milli-nat PMI -> PPMI -> 3 subspace-
    iteration rounds with max-abs integer rescale) on a planted
    graph: every value of the final embedding table must match the
    pure-Python replay exactly — the same guarantee the DuckDB
    oracle gives cross-engine, pinned here against an independent
    implementation."""
    import hashlib
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from bbcnews_scraper_nlp_spark.q_graph import _pmi_embedding_from_edges

    pairs = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2),
             (3, 4), (4, 3), (4, 5), (5, 4)]
    df = spark.createDataFrame(pairs, "s1 long, s2 long")
    _, emb = _pmi_embedding_from_edges(spark, df)
    got = {(r["node"], r["dim"]): r["val_micro"] for r in emb.collect()}

    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
    for a in adj:
        adj[a] = sorted(adj[a])
    corpus = []
    for n in sorted(adj):
        walk, cur = f"{n}#0", n
        corpus.append((walk, 0, cur))
        for t in range(1, 5):
            nb = adj[cur]
            pick = int(
                hashlib.md5(
                    f"rw-v1:{walk}:{t}:{cur}".encode()
                ).hexdigest()[:12],
                16,
            ) % len(nb)
            cur = nb[pick]
            corpus.append((walk, t, cur))
    pc = defaultdict(int)
    by_walk = defaultdict(list)
    for w, s, nd in corpus:
        by_walk[w].append((s, nd))
    for w, items in by_walk.items():
        for s1, n1 in items:
            for s2, n2 in items:
                if s1 != s2 and abs(s1 - s2) <= 2:
                    pc[(n1, n2)] += 1
    n_tot = sum(pc.values())
    na, nbc = defaultdict(int), defaultdict(int)
    for (a, b), c in pc.items():
        na[a] += c
        nbc[b] += c

    def spark_round(x):  # Spark ROUND = HALF_UP over the shortest repr
        return int(
            Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    mat = {}
    for (a, b), c in pc.items():
        pmi = spark_round(1000 * math.log(c * n_tot / (na[a] * nbc[b])))
        if pmi > 0:
            mat[(a, b)] = pmi
    vnodes = sorted({nd for _, _, nd in corpus})

    def tdiv(a, b):  # truncating integer division (Spark `div`)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    v = {
        (nd, r): int(
            hashlib.md5(f"emb-v1:{nd}:{r}".encode()).hexdigest()[:12], 16
        ) % 2001 - 1000
        for nd in vnodes
        for r in range(4)
    }
    for _ in range(3):
        u = defaultdict(int)
        for (i, j), wgt in mat.items():
            for r in range(4):
                u[(i, r)] += wgt * v[(j, r)]
        s = {
            r: max([abs(val) for (nd, rr), val in u.items() if rr == r]
                   or [0])
            for r in range(4)
        }
        v = {
            (nd, r): tdiv(u.get((nd, r), 0) * 1000000, max(s[r], 1))
            for nd in vnodes
            for r in range(4)
        }
    assert got == v, (
        sorted(got.items())[:8], sorted(v.items())[:8]
    )


# ---------------------------------------------------------------------------
# k-core peeling (round 10)
# ---------------------------------------------------------------------------


def test_kcore_peel_planted_triangle_with_tails(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import kcore_peel

    # triangle 1-2-3 (the 2-core), plus a path tail 3-4-5 and a
    # pendant 1-6: peeling must strip the tail one hop per round
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (1, 6)],
        "s1 long, s2 long",
    )
    rows = {
        r["node"]: (r["deg_core"], r["converged"])
        for r in kcore_peel(edges, "s1", "s2", k=2, rounds=4).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert all(v == (2, True) for v in rows.values())

    # k above the max degree empties the core
    assert kcore_peel(edges, "s1", "s2", k=4, rounds=3).count() == 0


def test_kcore_peel_unconverged_flag(spark):
    from bbcnews_scraper_nlp_spark.operators.graph import kcore_peel

    # a long path needs one round per pendant hop: with rounds=1 the
    # peel cannot reach fixpoint and must say so
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "s1 long, s2 long"
    )
    out = kcore_peel(edges, "s1", "s2", k=2, rounds=1).collect()
    assert out and all(not r["converged"] for r in out)


# ---------------------------------------------------------------
# round 11: butterfly counting
# ---------------------------------------------------------------


def test_butterfly_counts_match_quadruple_enumeration(spark):
    from itertools import combinations

    from pyspark.sql import functions as F

    # planted bipartite graph: K_{2,3} on (u1,u2)x(i1,i2,i3) holds
    # C(2,2)*C(3,2)=3 butterflies; an extra pendant edge adds none
    edges = [
        (1, 10), (1, 11), (1, 12),
        (2, 10), (2, 11), (2, 12),
        (3, 12),  # pendant
        (3, 13), (4, 13),  # a path, no 4-cycle
    ]
    # literal enumeration over user pairs x item pairs
    from collections import defaultdict

    items_of = defaultdict(set)
    for u, i in edges:
        items_of[u].add(i)
    total = 0
    per_item = defaultdict(int)
    for u, v in combinations(sorted(items_of), 2):
        common = items_of[u] & items_of[v]
        for i, j in combinations(sorted(common), 2):
            total += 1
            per_item[i] += 1
            per_item[j] += 1
    assert total == 3

    df = spark.createDataFrame(edges, ["u", "i"])
    a = df.select("u", F.col("i").alias("i1"))
    b = df.select("u", F.col("i").alias("i2"))
    co = (
        a.join(b, "u")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= 2)
        .select("i1", "i2", F.expr("co * (co - 1) div 2").alias("bf"))
    )
    got_total = co.agg(F.sum("bf")).collect()[0][0]
    assert got_total == total
    per = (
        co.select(F.col("i1").alias("item"), "bf")
        .unionByName(co.select(F.col("i2").alias("item"), "bf"))
        .groupBy("item")
        .agg(F.sum("bf").alias("n"))
    )
    assert {(r["item"], r["n"]) for r in per.collect()} == {
        (i, n) for i, n in per_item.items()
    }


def test_butterfly_query_schema_and_total_consistency(spark, sf_dir):
    # the queries hub first: q_graph alone is a circular import
    import bbcnews_scraper_nlp_spark.queries  # noqa: F401
    from bbcnews_scraper_nlp_spark.q_graph import butterfly_counts_bipartite
    from pyspark.sql import functions as F  # noqa: F401

    rows = butterfly_counts_bipartite(spark, sf_dir).collect()
    assert rows, "testdata must produce butterflies"
    tot = rows[0]["total_butterflies"]
    assert all(r["total_butterflies"] == tot for r in rows)
    # every endpoint-sum bound: per-item counts sum (over ALL items)
    # to 2x total; the visible top-20 must not exceed it
    assert sum(r["n_butterflies"] for r in rows) <= 2 * tot
    assert [
        (-r["n_butterflies"], r["item"]) for r in rows
    ] == sorted((-r["n_butterflies"], r["item"]) for r in rows)


def test_butterfly_sampled_exact_lane_equals_exact_counts(spark):
    """With gamma² above every degree the draw never fires and the
    sampled estimator must equal 1000x the exact butterfly count per
    pair; with a small gamma the draw really drops wedges and the
    estimator stays an exact integer expression (deterministic)."""
    from collections import defaultdict
    from itertools import combinations

    from pyspark.sql import functions as F  # noqa: F401

    import bbcnews_scraper_nlp_spark.queries  # noqa: F401
    from bbcnews_scraper_nlp_spark.q_graph import butterfly_sampled_counts

    edges = [
        (1, 10), (1, 11), (1, 12),
        (2, 10), (2, 11), (2, 12),
        (3, 12),
        (3, 13), (4, 13),
        (5, 10), (5, 11),
    ]
    items_of = defaultdict(set)
    for u, i in edges:
        items_of[u].add(i)
    exact = defaultdict(int)
    for u, v in combinations(sorted(items_of), 2):
        for i, j in combinations(sorted(items_of[u] & items_of[v]), 2):
            exact[(i, j)] += 1
    ia = spark.createDataFrame(edges, ["u", "i"])
    # exact lane: every degree <= 4 <= gamma² = 36
    got = {
        (r["i"], r["j"]): r["bfm"]
        for r in butterfly_sampled_counts(ia, gamma=6).collect()
    }
    assert got == {k: 1000 * v for k, v in exact.items() if v > 0}
    # sampled lane: gamma=1 (gamma²=1 < every degree) — deterministic
    # md5 draws, so just pin the invariants: milli values non-negative
    # integers, and no pair exceeds its p=1 upper bound scaled by the
    # exact correction (est <= 1000*C(co,2)*ni*nj since min(n,1)=1)
    deg = {i: sum(1 for s in items_of.values() if i in s)
           for s in items_of.values() for i in s}
    for r in butterfly_sampled_counts(ia, gamma=1).collect():
        i, j, bfm = r["i"], r["j"], r["bfm"]
        assert bfm >= 0
        co = sum(1 for s in items_of.values() if i in s and j in s)
        assert bfm <= 1000 * co * (co - 1) // 2 * deg[i] * deg[j]
