"""Graph analytics over edge DataFrames.

Complements the connected-components operator in ``dedup.py`` (used
there for duplicate clustering) with node-importance scoring. The
reference has no graph surface; this extends the engine the same way
the dedup/similarity operators do — a first-class capability a
100 TB training-data pipeline needs (e.g. ranking crawl frontiers or
weighting documents by link centrality, cf. the Common Crawl harmonic
centrality ranks used by CCNet-style curation).

Design constraints shared with the rest of the engine:
- fixed, small iteration counts unrolled into ONE lazy DAG (no
  driver-side convergence loop reading results back);
- integer-scaled rank arithmetic so every aggregation is exact
  integer math — partial-aggregation order cannot change the result,
  and a DuckDB oracle reproduces it bit-for-bit;
- every shuffle keys on a node id (uniform by construction here;
  power-law graphs want the salted-join pattern from
  ``relational.salted_join`` on the hottest hubs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traindata import md5_int

PR_SCALE = 10**12  # rank mass carried as integer micro-units
PR_DAMPING_PCT = 85  # share of a node's rank that follows its out-edges

# node2vec transition weights in milli-units: return 1/p, stay within
# distance 1, explore 1/q — p=2, q=0.5, the paper's
# community-oriented setting
N2V_W_RETURN = 500
N2V_W_NEAR = 1000
N2V_W_FAR = 2000


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame | None = None,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank with exact integer arithmetic; with
    ``seeds``, personalized PageRank / random-walk-with-restart
    (Haveliwala 2002; Tong et al. 2006).

    ``edges`` is a directed edge list (symmetrize beforehand for an
    undirected graph). Ranks are integers in units of ``1/PR_SCALE``.
    The restart set R is every node when ``seeds`` is None, else the
    node ids in ``seeds``' first column (small — it broadcasts onto
    the node set as a left-join flag). Each node of R starts at
    ``PR_SCALE div |R|`` and every other node at 0; an iteration sends
    ``rank div out_degree`` along every out-edge, and the new rank is
    ``teleport + (PR_DAMPING_PCT * inbound_sum) div 100`` with
    ``teleport = ((100 - PR_DAMPING_PCT) * PR_SCALE) div (100 * |R|)``
    on R and 0 elsewhere. Restarting at the seeds only makes rank
    proximity TO the seeds instead of global importance (the
    "entities related to these" recommender); with every node as a
    seed the two are identical. All divisions are integral (`div`),
    all sums are BIGINT sums — no floating point anywhere, so the
    result is independent of partial-aggregation order and exactly
    reproducible in any engine (the driver's DuckDB oracles unroll
    the same iterations with ``//``). Truncation loses < 1 micro-unit
    per edge per iteration — ranking-irrelevant at PR_SCALE=1e12.

    Plan shape per iteration: one hash join (ranks ⋈ out-edges, both
    keyed on the node id) + one hash aggregation (sum by dst) + one
    left join back onto the node set for teleport-only nodes. |R|
    and the teleport constant ride along as 1-row broadcast
    aggregates — no driver-side action during plan construction.

    Returns (node, pr_scaled BIGINT), all nodes.

    The node set (seed-flagged under ``seeds``) and degree-attached
    edge set are persisted (lazily — no job at construction) because
    every unrolled iteration reads them; ``session.release_blocks``
    frees them after the caller's action.
    """
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = e.groupBy("__src").agg(F.count("*").alias("__deg"))
    # out-edges with the sender's degree attached — referenced once
    # per iteration, so persist it (the standard iterative-graph move,
    # cf. GraphX): without it Spark re-derives the whole edge subtree
    # (often an expensive upstream join) for every iteration, since
    # exchange reuse only applies within structurally identical
    # subtrees. Lazy persist: no job runs at construction time.
    ed = e.join(deg, "__src").persist(StorageLevel.MEMORY_AND_DISK)
    if seeds is None:
        restart = nodes
    else:
        restart = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        nodes = nodes.join(
            restart.withColumn("__is_seed", F.lit(1)), "node", "left"
        ).persist(StorageLevel.MEMORY_AND_DISK)

    def on_restart(mass):
        if seeds is None:
            return mass
        return F.when(F.col("__is_seed") == 1, mass).otherwise(F.lit(0))

    n1 = F.broadcast(restart.agg(F.count("*").alias("__n")))
    ranks = nodes.crossJoin(n1).select(
        "node", on_restart(F.expr(f"{PR_SCALE} div __n")).alias("__r")
    )
    teleport = on_restart(
        F.expr(f"({100 - PR_DAMPING_PCT} * {PR_SCALE}) div (100 * __n)")
    )
    for _ in range(iters):
        inbound = (
            ed.join(ranks.withColumnRenamed("node", "__src"), "__src")
            .select(F.col("__dst"), F.expr("__r div __deg").alias("__c"))
            .groupBy("__dst")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.join(inbound.withColumnRenamed("__dst", "node"), "node", "left")
            .crossJoin(n1)
            .select(
                "node",
                (
                    teleport
                    + F.expr(
                        f"({PR_DAMPING_PCT} * coalesce(__s, 0L)) div 100"
                    )
                ).alias("__r"),
            )
        )
    return ranks.select("node", F.col("__r").alias("pr_scaled"))


def bounded_shortest_paths(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    source: DataFrame,
    hops: int = 4,
) -> DataFrame:
    """Single-source shortest paths bounded to ``hops`` edges:
    Bellman-Ford with the relaxation loop UNROLLED into one lazy DAG
    (the same fixed-iteration discipline as ``pagerank`` — no
    driver-side frontier reads). ``source`` is a (node) DataFrame
    (usually one row); weights must be positive integers so every
    candidate distance is exact integer math and the MIN fold is
    order-independent — bit-reproducible under any partitioning, and
    replayable by a recursive-CTE oracle with the same hop cap.

    Iteration k holds distances using <= k edges: one node-keyed hash
    join (frontier ⋈ out-edges) + one min-aggregation per hop. State
    stays distributed; at 100 TB the standard refinements are a
    delta-frontier (join only nodes whose distance improved — needs
    a convergence check, i.e. an action per iteration) and weighted
    salting on hub nodes (relational.salted_join).

    Callers iterating many hops should persist ``edges``; this
    function does not persist.

    Returns (node, dist) for every node reachable within ``hops``.
    """
    e = edges.select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        F.col(weight).cast("long").alias("__w"),
    )
    dist = source.select(
        F.col(source.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(hops):
        relaxed = (
            dist.join(e.withColumnRenamed("__src", "node"), "node")
            .select(
                F.col("__dst").alias("node"),
                (F.col("dist") + F.col("__w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            # each hop references the previous distance frame TWICE
            # (carry + relax), so a lazy chain doubles the analyzed
            # tree per hop (2^hops copies of the edge derivation —
            # the LPA lesson). A LAZY local checkpoint truncates the
            # lineage at analysis time but materializes only as a
            # side effect of the first downstream job, so no extra
            # blocking action runs per hop.
            .localCheckpoint(eager=False)
        )
    return dist


def label_propagation(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007) for
    community detection — fixed ``iters`` unrolled into one lazy DAG.

    Every node starts with its own id as its label; each iteration a
    node adopts the most frequent label among its IN-neighbors, ties
    broken by MINIMUM label, and nodes with no in-edges keep their
    current label. Synchronous updates + the total tie order make the
    result deterministic and engine-independent: labels are node ids
    (orderable), counts are exact integers, so a DuckDB oracle can
    unroll the identical iterations (no floats anywhere; the classic
    async/random-order LPA is NOT reproducible, which is why the
    synchronous variant is the one a certified pipeline wants).
    Symmetrize ``edges`` beforehand for an undirected graph.

    Plan shape per iteration: one node-keyed hash join (labels ⋈
    in-edges), one (node, label) count aggregation, a per-node max
    filter, and a min-label tie-break aggregation — every shuffle
    keys on a node id or (node, label). No driver-side state; at
    100 TB hub nodes take the salted-join pattern and the vote tally
    is a map-side-combinable count.

    Lineage: unlike pagerank's rank chain (one reference per
    iteration → linear lazy DAG), the label update references the
    previous labels TWICE (the vote join and the keep-own-label
    combine), so a lazy chain re-ANALYZES a tree that doubles per
    iteration — measured 11 s of pure plan construction + 31 s
    execution for 3 iterations over a 2000-edge graph. Each
    iteration therefore ends in ``localCheckpoint(eager=True)``, the
    connected-components contract (dedup.py:534): lineage truncated,
    plan size constant per iteration.

    Returns (node, community) for every node in the edge set —
    already materialized (the eager checkpoints run the iterations
    at call time, again the connected-components contract).
    """
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        votes = (
            labels.withColumnRenamed("node", "__src")
            .join(e, "__src")
            .groupBy(F.col("__dst").alias("node"), "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        # most-frequent label with MIN tie-break, folded into ONE
        # aggregation: min(struct(-cnt, lbl)).lbl is lexicographically
        # smallest = largest cnt then smallest lbl — identical winner
        # to the max-count filter + min-label pass it replaces, at one
        # node-keyed exchange instead of three (agg + join + agg).
        winner = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), "lbl"))
            .getField("lbl")
            .alias("new_lbl")
        )
        labels = (
            labels.join(winner, "node", "left")
            .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("lbl").alias("community"))

def random_walks(
    edges: DataFrame,
    src: str,
    dst: str,
    steps: int = 4,
    walks_per_node: int = 1,
) -> DataFrame:
    """Deterministic random-walk sampling — the walk-corpus stage of
    DeepWalk/node2vec (Perozzi et al. 2014; Grover & Leskovec 2016,
    first-order p=q=1 case): ``walks_per_node`` walks of ``steps``
    hops from every node, where step t of walk w at node v moves to
    the neighbor ranked md5("rw-v1:w:t:v") mod deg(v) in v's
    id-ordered adjacency list. Swapping the PRNG for the engine's
    md5 flavor makes the ENTIRE walk corpus a pure function of the
    graph — reproducible across runs, engines, and partitionings
    (the kfold_split argument applied to graph sampling), so a
    DuckDB oracle replays every trajectory bit-for-bit; real
    node2vec's per-executor RNG walks cannot be certified at all.

    Returns (walk, step, node): walk = "<start>#<r>", step 0..steps.

    Plan: the ranked adjacency table (src, dst, rn, deg — one
    row_number window keyed on src) is built once and persisted
    (every step re-reads it — the pagerank edge-table shape); each
    step is ONE node-keyed hash join (frontier ⋈ adjacency, ≤ deg(v)
    fan-out collapsed by the rn = hash-pick filter) and the frontier
    chain is linear (each step
    references the previous once — no lineage doubling, no
    checkpoint needed, unlike LPA). At 100 TB: frontiers shuffle on
    node id, walk count scales linearly in executors, hub adjacency
    rows take AQE skew-splits.
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("s1"), F.col(dst).alias("s2"))
    w = Window.partitionBy("s1").orderBy("s2")
    adj = (
        e.withColumn("rn", F.row_number().over(w) - F.lit(1))
        .withColumn("d", F.count("*").over(Window.partitionBy("s1")))
        .persist()
    )
    # derive starts from the persisted adjacency, not the raw edge
    # subtree — otherwise the (possibly expensive) edge derivation
    # runs a second time just to list the nodes
    nodes = adj.select("s1").distinct()
    starts = nodes.join(
        F.broadcast(
            nodes.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("r")
            )
        )
    ).select(
        F.concat(F.col("s1").cast("string"), F.lit("#"), F.col("r")).alias(
            "walk"
        ),
        F.col("s1").alias("node"),
    )
    cur = starts.select("walk", "node", F.lit(0).alias("step"))
    frames = [cur]
    for t in range(1, steps + 1):
        pick = F.pmod(
            md5_int(
                F.concat(
                    F.lit("rw-v1:"),
                    F.col("walk"),
                    F.lit(f":{t}:"),
                    F.col("node").cast("string"),
                ),
                12,
            ),
            F.col("d"),
        )
        cur = (
            cur.join(adj, cur["node"] == adj["s1"])
            .filter(F.col("rn") == pick)
            .select(
                "walk",
                F.col("s2").alias("node"),
                F.lit(t).alias("step"),
            )
        )
        frames.append(cur)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out

def node2vec_walks(
    edges: DataFrame,
    src: str,
    dst: str,
    steps: int = 4,
) -> DataFrame:
    """Second-order (p, q)-biased walks — full node2vec sampling
    (Grover & Leskovec 2016), deterministic. At node v, having
    arrived from t, neighbor x (id-ordered) gets integer weight
    ``N2V_W_RETURN`` if x = t (1/p), ``N2V_W_NEAR`` if (t, x) is an
    edge (distance 1), else ``N2V_W_FAR`` (1/q); the step draws
    md5("n2v-v1:walk:step:t:v") mod Σweights and picks the neighbor
    whose cumulative-weight interval contains it — exactly
    node2vec's alias-sampled transition with the PRNG swapped for
    the engine's md5 flavor, so the BFS-ish (q>1 in milli-units:
    far < near weight) vs DFS-ish bias is reproducible and
    hash-certifiable cross-engine. Step 1 has no predecessor
    and draws first-order (uniform rank pick, as random_walks).

    Returns (walk, step, node), walk = "<start>#0", step 0..steps.

    Plan per biased step: frontier ⋈ adjacency (node-keyed, ≤ deg
    fan-out) → near-flag LEFT join against the persisted edge set
    on (prev, x) → per-walk cumulative-weight window (partitions
    are ≤ deg rows) → interval filter. Both joins hash-partition on
    node-id-shaped keys; nothing is ever quadratic. The adjacency
    AND the raw edge set are persisted once; frontier lineage is
    linear.
    """
    from pyspark.sql import Window

    e = (
        edges.select(F.col(src).alias("s1"), F.col(dst).alias("s2"))
        .distinct()
        .persist()
    )
    w = Window.partitionBy("s1").orderBy("s2")
    adj = (
        e.withColumn("rn", F.row_number().over(w) - F.lit(1))
        .withColumn("d", F.count("*").over(Window.partitionBy("s1")))
        .persist()
    )

    def _pick_hash(salt_cols) -> "F.Column":
        return md5_int(F.concat(F.lit("n2v-v1:"), *salt_cols), 12)

    starts = adj.select("s1").distinct().select(
        F.concat(F.col("s1").cast("string"), F.lit("#0")).alias("walk"),
        F.col("s1").alias("cur"),
    )
    frames = [
        starts.select("walk", F.col("cur").alias("node"), F.lit(0).alias("step"))
    ]
    # step 1: first-order uniform pick
    h1 = _pick_hash([F.col("walk"), F.lit(":1:"), F.col("cur").cast("string")])
    state = (
        starts.join(adj, starts["cur"] == adj["s1"])
        .filter(F.col("rn") == F.pmod(h1, F.col("d")))
        .select(
            "walk",
            F.col("cur").alias("prev"),
            F.col("s2").alias("cur"),
        )
    )
    frames.append(
        state.select("walk", F.col("cur").alias("node"), F.lit(1).alias("step"))
    )
    for t in range(2, steps + 1):
        cand = state.join(adj, state["cur"] == adj["s1"]).select(
            "walk", "prev", "cur", F.col("s2").alias("x")
        )
        near = cand.join(
            e.select(
                F.col("s1").alias("prev"),
                F.col("s2").alias("x"),
                F.lit(1).alias("nf"),
            ),
            ["prev", "x"],
            "left",
        ).select(
            "walk",
            "prev",
            "cur",
            "x",
            F.when(F.col("x") == F.col("prev"), F.lit(N2V_W_RETURN))
            .when(F.col("nf") == 1, F.lit(N2V_W_NEAR))
            .otherwise(F.lit(N2V_W_FAR))
            .alias("wt"),
        )
        cw = Window.partitionBy("walk").orderBy("x")
        tw = Window.partitionBy("walk")
        ht = _pick_hash(
            [
                F.col("walk"),
                F.lit(f":{t}:"),
                F.col("prev").cast("string"),
                F.lit(":"),
                F.col("cur").cast("string"),
            ],
        )
        state = (
            near.withColumn("cum", F.sum("wt").over(cw))
            .withColumn("tot", F.sum("wt").over(tw))
            .withColumn("r", F.pmod(ht, F.col("tot")))
            .filter(
                (F.col("cum") - F.col("wt") <= F.col("r"))
                & (F.col("r") < F.col("cum"))
            )
            .select(
                "walk",
                F.col("cur").alias("prev"),
                F.col("x").alias("cur"),
            )
        )
        frames.append(
            state.select(
                "walk", F.col("cur").alias("node"), F.lit(t).alias("step")
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out

def kcore_peel(
    edges: DataFrame, src: str, dst: str, k: int = 2, rounds: int = 4
) -> DataFrame:
    """k-core by unrolled peeling (Seidman 1983; Batagelj-Zaveršnik;
    distributed form per Montresor et al. 2013): repeatedly drop
    nodes of degree < k. ``edges`` is an undirected edge list given
    one direction; it is mirrored and eager-checkpointed here. Each
    round is two node-keyed LEFT SEMI joins + ONE count agg, and each
    survivor set eager-localCheckpoints because the next round
    references it twice (both endpoints — the LPA tree-doubling
    lesson). Returns (node, deg_core, converged): survivors of round
    ``rounds`` with their degree w.r.t. the prior round's survivors,
    plus a global fixpoint flag."""
    und = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).localCheckpoint(eager=True)
    n = und.select(F.col("a").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    deg = None
    prev_cnt = None
    for _ in range(rounds):
        prev = n
        deg = (
            und.join(prev.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(prev.select(F.col("node").alias("b")), "b", "left_semi")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count("*").cast("long").alias("d"))
        )
        n = (
            deg.filter(F.col("d") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        prev_cnt = prev
    conv = (
        n.agg(F.count("*").alias("ca"))
        .crossJoin(prev_cnt.agg(F.count("*").alias("cb")))
        .select((F.col("ca") == F.col("cb")).alias("converged"))
    )
    return (
        deg.filter(F.col("d") >= k)
        .crossJoin(F.broadcast(conv))
        .select("node", F.col("d").alias("deg_core"), "converged")
    )
