"""Training-corpus preparation, relational surface II, data profiling,
TPC-H widening, duplicate clustering, corpus prep.
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import relational as R
from .operators import textstats as TS
from .operators.relational import HRW_TAG
from .operators.similarity import KMEANS_SEED_TAG
from .operators.dedup import SPAN_MIN_COUNT
from .operators.suffixarray import SPAN_LEN
from .operators.traindata import (
    CURRICULUM_BANDS,
    CURRICULUM_SALT,
    MIX_SALT,
    SAMPLE_BUCKETS,
    SHUFFLE_SALT,
    SPLIT_BUCKETS,
    md5_int,
)
from .queries_base import register
from .q_certificates import _MINHASH_PAIR_SELECT, _minhash_pair_ctes  # noqa: F401


# --------------------------------------------------------------------
# training-corpus preparation (operators/traindata.py)
# --------------------------------------------------------------------

_BUCKET_SQL = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"


@register(
    "split_train_val_test",
    f"WITH b AS (SELECT doc_id, {_BUCKET_SQL} % {SPLIT_BUCKETS} AS bucket "
    "FROM documents) "
    "SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' "
    "ELSE 'test' END AS split, COUNT(*) AS n_docs FROM b GROUP BY 1",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split from md5(doc_id) — reproducible
    across runs/engines/partitionings (no rand()), the property a
    re-materialized 100 TB corpus needs. Pure projection + one tiny
    aggregate."""
    from .operators.traindata import deterministic_split

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return (
        deterministic_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "kfold_assignment",
    f"WITH b AS (SELECT doc_id, n_chars, {_BUCKET_SQL} % 5 AS fold "
    "FROM documents) "
    "SELECT CAST(fold AS INT) AS fold, COUNT(*) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM b GROUP BY fold",
)
def kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment
    (traindata.kfold_split): fold = md5-bucket(doc_id) % 5, so fold
    membership is a pure function of the id — the same folds
    re-materialize on every run, engine, and partitioning (the
    evaluation counterpart of split_train_val_test). The per-fold
    char sums pin the MEMBERSHIP, not just the sizes, cross-engine.
    Pure projection + one 5-row aggregate; zero shuffles beyond the
    map-side-combinable count."""
    from .operators.traindata import kfold_split

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return (
        kfold_split(docs, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_CONTAM_N = 5
_CONTAM_SQL = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "arrs AS (SELECT doc_id, list_distinct(list_transform("
    f"range(0, greatest(len(t) - {_CONTAM_N - 1}, 0)), "
    f"i -> array_to_string(t[i+1:i+{_CONTAM_N}], ' '))) AS sh FROM toks), "
    "doc_sh AS (SELECT doc_id, len(sh) AS total, unnest(sh) AS s FROM arrs "
    "WHERE doc_id % 97 <> 0), "
    "bench AS (SELECT DISTINCT unnest(sh) AS s FROM arrs WHERE doc_id % 97 = 0) "
    "SELECT doc_id, COUNT(*) AS contaminated_ngrams, total AS total_ngrams, "
    "ROUND(CAST(COUNT(*) AS DOUBLE) / total, 6) AS contamination_ratio "
    "FROM doc_sh JOIN bench USING (s) GROUP BY doc_id, total"
)


@register("contamination_check", _CONTAM_SQL)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training docs contain verbatim
    word n-grams from a held-out benchmark set (docs with
    doc_id % 97 == 0 stand in for the eval set). Benchmark shingles
    are distinct-aggregated then broadcast — the training side (the
    100 TB side) never shuffles."""
    from .operators.traindata import contamination

    docs = load_table(spark, sf_dir, "documents", widen=True)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination(train, bench, "doc_id", "text", n=_CONTAM_N)


def _pii_augmented_sql() -> str:
    from .operators.traindata import pii_scrub_sql

    aug = (
        "text || ' reach user' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.org or 10.0.' || CAST(doc_id % 200 AS VARCHAR) || "
        "'.' || CAST(doc_id % 250 AS VARCHAR) || ' acct ' || "
        "CAST(900000000 + doc_id AS VARCHAR)"
    )
    return (
        f"SELECT doc_id, {pii_scrub_sql(aug)} AS scrubbed FROM documents"
    )


@register("pii_scrub_text", _pii_augmented_sql())
def pii_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, IPv4s, long digit runs) over text with
    synthetic PII planted per doc so the regexes actually fire. Narrow
    codegen projection — linear scale-out, no shuffle."""
    from .operators.traindata import pii_scrub

    docs = load_table(spark, sf_dir, "documents", widen=True)
    aug = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" acct "),
        (F.lit(900000000) + F.col("doc_id")).cast("string"),
    )
    return docs.select("doc_id", pii_scrub(aug).alias("scrubbed"))


_PACK_BUDGET, _PACK_SHARDS = 512, 8
_PACK_SQL = (
    "WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) "
    f"AS n_tokens, {_BUCKET_SQL} % {_PACK_SHARDS} AS shard FROM documents) "
    "SELECT doc_id, n_tokens, shard, CAST(FLOOR(CAST(SUM(n_tokens) OVER "
    "(PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    f"CURRENT ROW) - n_tokens AS DOUBLE) / {_PACK_BUDGET}) AS INT) AS bin FROM d"
)


@register("pack_sequences_bins", _PACK_SQL)
def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per hash-shard, docs are laid
    out in id order and cut every 512 tokens; bin = the context-window
    index where each doc starts. One window shuffle, sharded for
    scale."""
    from .operators.traindata import pack_sequences

    docs = load_table(spark, sf_dir, "documents", widen=True)
    with_tokens = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        with_tokens, "doc_id", "n_tokens", budget=_PACK_BUDGET, shards=_PACK_SHARDS
    )


# --------------------------------------------------------------------
# extended relational surface II: group top-k, cube, correlated EXISTS
# --------------------------------------------------------------------


@register(
    "top3_orders_per_segment",
    "SELECT * FROM (SELECT c_mktsegment, o_orderkey, o_totalprice, "
    "ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
    "ORDER BY o_totalprice DESC, o_orderkey) AS rk "
    "FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rk <= 3",
)
def top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (the group-limit operator): row_number window
    with a deterministic tie-break, filtered to k. Spark pushes a
    per-partition rank limit below the shuffle (WindowGroupLimit), so
    each map task ships at most k rows per group — the 100 TB-safe
    group-limit."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "cube_status_priority",
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations) — Expand-based
    multi-grouping in one pass over the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


_EXISTS_SQL = (
    "SELECT o_orderkey, o_totalprice FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)"
)


@register("orders_with_bulk_items", _EXISTS_SQL)
def orders_with_bulk_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL front-end (register_views +
    spark.sql — the engine's second API surface). Catalyst decorrelates
    to a left-semi hash join; the identical SQL string runs on the
    DuckDB oracle."""
    from .catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


# --------------------------------------------------------------------
# data profiling (operators/profiling.py)
# --------------------------------------------------------------------

_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
_PROFILE_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
    f"COUNT(*) - COUNT({c}) AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS n_distinct, "
    f"CAST(MIN({c}) AS VARCHAR) AS min_str, "
    f"CAST(MAX({c}) AS VARCHAR) AS max_str FROM documents"
    for c in _PROFILE_COLS
)


@register("profile_documents", _PROFILE_SQL)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus QA profile: one aggregation pass computes every column's
    count/null/distinct/min/max, stack() unpivots to a row per column.
    Exact distincts here (oracle-portable); approx_count_distinct is
    the documented 100 TB path."""
    from .operators.profiling import column_profile

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return column_profile(docs, _PROFILE_COLS)


_QUANTILE_SQL = (
    "SELECT l_returnflag, "
    "quantile_cont(l_extendedprice, 0.25) AS p25, "
    "quantile_cont(l_extendedprice, 0.50) AS p50, "
    "quantile_cont(l_extendedprice, 0.75) AS p75 "
    "FROM lineitem GROUP BY l_returnflag"
)


@register("price_quantiles", _QUANTILE_SQL)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (order statistics with linear
    interpolation — Spark `percentile` ≡ DuckDB `quantile_cont`).
    The scale path is percentile_approx's mergeable t-digest; the
    exact form is the oracle."""
    from .operators.profiling import grouped_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_quantiles(
        li, "l_extendedprice", ["l_returnflag"], [0.25, 0.50, 0.75]
    )


# --------------------------------------------------------------------
# TPC-H shape widening: Q4/Q10/Q14/Q18/Q19 on the testdata columns
# --------------------------------------------------------------------


@register(
    "tpch_q4_priority_check",
    "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "AND l_returnflag = 'R') "
    "GROUP BY o_orderpriority",
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: date-ranged fact filter + EXISTS semi-join +
    group count. The semi-join never widens rows (left_semi — no
    duplicate inflation from multi-lineitem orders), and the lineitem
    side is pre-filtered so the shuffle carries only matching keys."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .join(returned, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q10_returned_items",
    "SELECT c_custkey, c_name, n_name, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 "
    "AS revenue "
    "FROM customer, orders, lineitem, nation "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00' "
    "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most — fact-fact join with
    both sides pre-filtered, broadcast nation enrich, top-20 via
    TakeOrderedAndProject. Aggregates on the join keys BEFORE pulling
    the wide name columns would be the sf1000 refinement; at any sf
    the nation join broadcasts."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    agg = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg((F.sum(price * (100 - disc)) / 10000.0).alias("revenue"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("revenue").alias("revenue"))
    )
    return agg.orderBy(F.desc("revenue"), F.col("c_custkey")).limit(20)


@register(
    "tpch_q14_promo_revenue",
    "SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN "
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) ELSE 0 END) AS BIGINT) "
    "AS promo_revenue_scaled, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) "
    "AS total_revenue_scaled "
    "FROM lineitem, part WHERE l_partkey = p_partkey "
    "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact-dim
    join. Both sums stay exact scaled integers; the oracle compares
    the two exact sums (a derived promo ratio is one fp division the
    caller can do). part broadcasts at every sf where it fits; at
    100 TB AQE picks shuffle-hash on the uniform p_partkey."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    rev = price * (100 - disc)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
        )
        .join(part.select("p_partkey", "p_type"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            .alias("promo_revenue_scaled"),
            F.sum(rev).alias("total_revenue_scaled"),
        )
    )


@register(
    "tpch_q18_large_orders",
    "SELECT c_custkey, o_orderkey, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 "
    "AS total_qty "
    "FROM customer, orders, lineitem "
    "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
    "HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 18000) "
    "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
    "GROUP BY c_custkey, o_orderkey "
    "ORDER BY total_qty DESC, o_orderkey LIMIT 100",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-HAVING subquery feeding a semi-join,
    then re-aggregate with customer context, top-100. The HAVING agg
    runs once on integer-scaled quantities; its key list semi-joins
    orders (no row inflation) before the final join+agg."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("q"))
        .filter(F.col("q") > 18000)
        .select("l_orderkey")
    )
    return (
        orders.join(big, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey"), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "o_orderkey")
        .agg((F.sum(qty) / 100.0).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive_pred",
    "SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 "
    "AS revenue FROM lineitem, part WHERE l_partkey = p_partkey AND ("
    "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity >= 1 AND l_quantity <= 11) "
    "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 "
    "AND l_quantity >= 10 AND l_quantity <= 20) "
    "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 "
    "AND l_quantity >= 20 AND l_quantity <= 30))",
)
def tpch_q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive join predicates. Authored as an
    equi-join on p_partkey with the OR-of-ANDs as a post-join filter —
    Catalyst extracts the common equi-key (no nested-loop join) and
    pushes the single-sided conjuncts (brand/size membership union)
    into each scan via constraint inference."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg((F.sum(price * (100 - disc)) / 10000.0).alias("revenue"))
    )


# --------------------------------------------------------------------
# duplicate clustering: connected components (pairs -> clusters)
# --------------------------------------------------------------------


@register(
    "dedup_cc_clusters",
    "SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, source) AS cluster_rep "
    "FROM documents",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components duplicate clustering over a deterministic
    candidate graph: consecutive doc_ids within each (lang, source)
    group are linked, producing one *path graph* per group — the
    adversarial-diameter shape for CC (plain min-propagation needs
    O(chain length) shuffles; pointer jumping needs O(log)). The
    oracle knows the answer analytically: every group chains into one
    component whose representative is the group's min doc_id.

    The production pairing (MinHash/SimHash edges) runs in
    ``dedup_minhash_clusters``; this query pins the CC kernel itself
    to an exact oracle."""
    from .operators.dedup import duplicate_clusters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    edges = (
        docs.select("doc_id", "lang", "source")
        .withColumn("nxt", F.lead("doc_id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("nxt").alias("dst"))
    )
    return duplicate_clusters(
        docs.select("doc_id"), "doc_id", edges, "src", "dst"
    ).select("doc_id", "cluster_rep")


def _minhash_clusters_oracle_sql() -> str:
    """Recursive-CTE twin of pairs → connected components → keep the
    min-id canonical: label propagation to a fixpoint (UNION dedup
    terminates it), min reachable id per node = cluster rep; docs in
    no pair keep themselves via the left join."""
    return (
        "WITH RECURSIVE docs_src AS (SELECT doc_id, text FROM documents),\n"
        + _minhash_pair_ctes("docs_src")
        + f""",
pairs AS ({_MINHASH_PAIR_SELECT.replace(chr(10), ' ')}),
edges AS (
  SELECT id_1 AS src, id_2 AS dst FROM pairs
  UNION ALL SELECT id_2, id_1 FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
),
lab AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node)
SELECT d.doc_id FROM documents d
LEFT JOIN lab ON lab.node = d.doc_id
WHERE lab.node IS NULL OR lab.root = d.doc_id"""
    )


@register("dedup_minhash_clusters", _minhash_clusters_oracle_sql())
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pair finding -> connected
    components -> keep the min-id canonical per duplicate cluster.
    The full 100 TB dedup path (pairs alone under-delete transitive
    duplicate chains: A~B, B~C must drop two docs, not one). md5
    shingle-hash flavor, so the DuckDB oracle recomputes the pairs
    and resolves the clusters with a recursive label-propagation
    CTE; the distributed CC kernel additionally has a union-find
    pytest twin."""
    from .operators.dedup import keep_cluster_canonical, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents", widen=True)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", jaccard_threshold=0.5, shingle_hash="md5"
    ).select("id_1", "id_2")
    return keep_cluster_canonical(docs.select("doc_id", "text"), "doc_id", pairs).select(
        "doc_id"
    )


# --------------------------------------------------------------------
# training-corpus prep: stratified sample, deterministic shuffle,
# repetition quality signals
# --------------------------------------------------------------------

_SAMPLE_FRACTIONS = {"src1": 0.5, "src2": 0.5, "src3": 0.25}


@register(
    "stratified_sample_sources",
    "WITH b AS (SELECT doc_id, source, "
    f"{_BUCKET_SQL} % {SAMPLE_BUCKETS} AS bucket FROM documents) "
    "SELECT doc_id, source FROM b WHERE bucket < (CASE "
    + " ".join(
        f"WHEN source = '{s}' THEN {int(round(f * SAMPLE_BUCKETS))}"
        for s, f in _SAMPLE_FRACTIONS.items()
    )
    + " ELSE 1000 END)",
)
def stratified_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (domain mixing): per-source
    keep fractions from md5 hash-buckets — reproducible across
    engines/partitionings, unlike rand()-based sampleBy. Pure
    filter, no shuffle."""
    from .operators.traindata import stratified_sample

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return stratified_sample(
        docs, "source", _SAMPLE_FRACTIONS, "doc_id", default_fraction=0.1
    ).select("doc_id", "source")


_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_MIX_BUCKET = (
    f"CAST(('0x' || substr(md5('{MIX_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    f"AS UBIGINT) % {SAMPLE_BUCKETS}"
)


@register(
    "mix_sources_weighted",
    f"SELECT doc_id, source FROM documents WHERE {_MIX_BUCKET} < "
    "(CASE source "
    + " ".join(
        f"WHEN '{s}' THEN {int(round(w * SAMPLE_BUCKETS))}"
        for s, w in sorted(_MIX_WEIGHTS.items())
    )
    + " ELSE 1000 END)",
)
def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data-mixing: per-source deterministic sampling
    rates (keep all of src0, half of src1, a quarter of src2, 10% of
    everything else) via salted hash-bucket Bernoulli — a pure
    projection, reproducible on any engine/partitioning."""
    from .operators.traindata import mix_sources

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return mix_sources(
        docs, "source", "doc_id", _MIX_WEIGHTS, default_weight=0.1
    ).select("doc_id", "source")


@register(
    "select_token_budget",
    "WITH d AS (SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    "len(text) AS order_key FROM documents), "
    "r AS (SELECT doc_id, n_tokens, "
    "SUM(n_tokens) OVER (ORDER BY order_key DESC, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run "
    "FROM d) "
    "SELECT doc_id, n_tokens FROM r "
    "WHERE run <= 20000 OR run - n_tokens = 0",
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: fill a 20k-token budget with
    the highest-priority documents (here: longest first — the
    order column is pluggable), running cumsum cutoff with a
    first-row guarantee. The exact-semantics anchor for the banded
    approximation used at 100 TB (see operator docstring)."""
    from .operators.traindata import select_token_budget as op

    docs = load_table(spark, sf_dir, "documents", widen=True)
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").alias("order_key"),
    )
    return op(d, "n_tokens", "order_key", "doc_id", budget=20_000).select(
        "doc_id", "n_tokens"
    )


_DSIR_SQL = """
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, tgt, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, tgt, t[i] || ' ' || t[i + 1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)),
b AS (SELECT doc_id, tgt,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096 AS bkt
      FROM grams),
tot AS (SELECT count(*) AS raw_total,
               count(*) FILTER (tgt) AS tgt_total FROM b),
lr AS (SELECT bkt,
              CAST(ROUND(LN(((count(*) FILTER (tgt) + 1.0) * (raw_total + 4096))
                          / ((count(*) + 1.0) * (tgt_total + 4096))) * 1e6)
                   AS BIGINT) AS lrs
       FROM b, tot
       GROUP BY bkt, raw_total, tgt_total)
SELECT d.doc_id,
       count(lr.bkt) AS n_grams,
       ROUND(COALESCE(SUM(lr.lrs), 0) / 1e6, 6) + 0.0 AS weight
FROM documents d
LEFT JOIN b ON d.doc_id = b.doc_id
LEFT JOIN lr ON b.bkt = lr.bkt
GROUP BY d.doc_id
"""


@register("dsir_importance_weights", _DSIR_SQL)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): per-document importance
    weight from hashed unigram+bigram likelihood ratios, target
    distribution = English documents, raw = whole corpus. Integer-
    scaled per-bucket log-ratios make the per-doc sum exact in any
    aggregation order — hash-oracled end to end."""
    from .operators.traindata import dsir_weights

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return dsir_weights(
        docs, "text", "doc_id", F.col("lang") == "en", n_buckets=4096
    )


@register(
    "rolling_distinct_users_7d",
    "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id "
    "FROM events), "
    "days AS (SELECT DISTINCT day FROM du) "
    "SELECT d.day, count(DISTINCT u.user_id) AS users_7d "
    "FROM days d JOIN du u "
    "ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day "
    "GROUP BY d.day",
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day — COUNT DISTINCT over a
    sliding window, which no window frame can express (distinct isn't
    decomposable). Exact form: day-grain dedup first (events collapse
    to ≤ days×users rows), then a 7-wide day-range join + distinct
    count. This is the exact-semantics anchor; the sketch path
    (profiling.distinct_sketches + merge_sketches over the same day
    range) replaces the distinct count with register-max HLL merges at
    100 TB — `sketch_distinct_users_daily` covers those mechanics."""
    ev = load_table(spark, sf_dir, "events", widen=True)
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().withColumnRenamed("day", "d")
    return (
        days.join(
            du,
            (F.col("day") >= F.date_sub(F.col("d"), 6))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.col("d").alias("day"), "users_7d")
    )


@register(
    "ohlc_resample_hourly",
    "WITH b AS (SELECT event_type, "
    "epoch_us(ts) // 3600000000 AS hr, "
    "epoch_us(ts) AS us, event_id, "
    "CAST(ROUND(value * 100) AS BIGINT) AS v100 FROM events) "
    "SELECT event_type, hr, "
    "struct_extract(min((us, event_id, v100)), 3) / 100.0 AS open, "
    "CAST(max(v100) AS BIGINT) / 100.0 AS high, "
    "CAST(min(v100) AS BIGINT) / 100.0 AS low, "
    "struct_extract(max((us, event_id, v100)), 3) / 100.0 AS close, "
    "count(*) AS n FROM b GROUP BY event_type, hr",
)
def ohlc_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsample (financial-style resample): per event type and
    hour, open/high/low/close/count — open/close via min/max-struct
    argmin/argmax on (epoch_us, event_id) so ties are deterministic;
    values ride as scaled ints. ONE map-side-combined hash agg; the
    struct min/max partials collapse per map task, so the exchange
    carries ≤ types×hours skinny rows."""
    ev = load_table(spark, sf_dir, "events", widen=True)
    us = R.epoch_us("ts")
    v100 = F.round(F.col("value") * 100).cast("long")
    b = ev.select(
        "event_type",
        us.alias("__us"),
        "event_id",
        v100.alias("__v"),
        # integer division (div), never float `/` + cast: epoch micros
        # exceed double's exact-integer range after division rounding
    ).withColumn("hr", F.expr("__us div 3600000000"))
    return b.groupBy("event_type", "hr").agg(
        (F.min(F.struct("__us", "event_id", "__v"))["__v"] / F.lit(100.0)).alias("open"),
        (F.max("__v") / F.lit(100.0)).alias("high"),
        (F.min("__v") / F.lit(100.0)).alias("low"),
        (F.max(F.struct("__us", "event_id", "__v"))["__v"] / F.lit(100.0)).alias("close"),
        F.count("*").alias("n"),
    )


_INVIDX_SQL = """
WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
t AS (SELECT doc_id AS d, i - 1 AS p, arr[i] AS term
      FROM a, unnest(range(1, len(arr) + 1)) AS r(i)
      WHERE arr[i] <> ''),
rn AS (SELECT term, d, p,
              row_number() OVER (PARTITION BY term ORDER BY d, p) AS rn
       FROM t),
b AS (SELECT term, CAST((rn - 1) // 2000 AS INT) AS block,
             list_sort(list(CAST(d AS VARCHAR) || ':' || CAST(p AS VARCHAR)))
             AS postings
      FROM rn GROUP BY term, block),
s AS (SELECT term, count(DISTINCT d) AS df, count(*) AS tf
      FROM t GROUP BY term)
SELECT b.term, b.block, s.df, s.tf,
       array_to_string(b.postings, ' ') AS postings
FROM b JOIN s USING (term)
"""


@register("inverted_index_blocks", _INVIDX_SQL)
def inverted_index_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked inverted index (Lucene-style posting blocks): term ->
    bounded sorted "doc:pos" blocks + exact df/tf. Hot terms span
    many blocks instead of one unbounded postings row — see
    operators/textstats.build_inverted_index for the scale shape.
    Hash-oracled end to end. Postings are flattened to a single
    space-joined string here (the operator keeps its array return):
    registered results must be atomic-typed so the driver's pandas
    canonicalizer can sort/hash them."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    idx = TS.build_inverted_index(docs, "text", "doc_id", block_size=2000)
    return idx.withColumn("postings", F.array_join("postings", " "))


@register(
    "range_frame_trailing_sum",
    "SELECT event_id, user_id, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER ("
    "PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) "
    "/ 100.0 AS trailing_1h_sum "
    "FROM events",
)
def range_frame_trailing_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (time-valued frame bound — the §2.6 frame
    flavor ROWS frames can't express): per user, trailing-1-hour
    event-value sum over the epoch-microsecond order. Values ride as
    scaled ints so the frame sum is exact in any order; the range
    bound is a literal in identical units (micros) on both engines.
    One shuffle on user_id; each partition's frame scan is linear
    (two-pointer), never O(n²)."""
    ev = load_table(spark, sf_dir, "events", widen=True)
    base = ev.select(
        "event_id",
        "user_id",
        R.epoch_us("ts").alias("__us"),
        F.round(F.col("value") * 100).cast("long").alias("__v100"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        (F.sum("__v100").over(w) / F.lit(100.0)).alias("trailing_1h_sum"),
    )


@register(
    "curriculum_order_bands",
    "WITH b AS (SELECT doc_id, n_chars, "
    f"CAST(ntile({CURRICULUM_BANDS}) OVER (ORDER BY n_chars DESC, doc_id) "
    "AS INT) AS band, "
    f"md5('{CURRICULUM_SALT}:' || CAST(doc_id AS VARCHAR)) AS h "
    "FROM documents) "
    "SELECT doc_id, band, "
    "CAST(row_number() OVER (PARTITION BY band ORDER BY h, doc_id) AS INT) "
    "AS band_pos FROM b",
)
def curriculum_order_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: 4 quality bands (here: length-scored,
    best first) with a deterministic hash shuffle within each band —
    the easy-to-hard training schedule. Exact-ntile anchor of the
    banded percentile approximation used at 100 TB (see operator
    docstring)."""
    from .operators.traindata import curriculum_order

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return curriculum_order(docs, "n_chars", "doc_id", method="exact")


@register(
    "value_histogram",
    "SELECT event_type, "
    "CAST(least(floor(value / 25), 19) AS INT) AS bin, "
    "count(*) AS n FROM events GROUP BY event_type, bin",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per event type (profiling family):
    bin = clamp(floor(value/25), 0..19) — one map-side-combined
    hash agg, ≤ types×20 rows shuffled."""
    ev = load_table(spark, sf_dir, "events", widen=True)
    return (
        ev.groupBy(
            "event_type",
            F.least(F.floor(F.col("value") / 25), F.lit(19))
            .cast("int")
            .alias("bin"),
        )
        .agg(F.count("*").alias("n"))
    )


@register(
    "deterministic_shuffle_order",
    f"WITH h AS (SELECT doc_id, md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)) AS hh "
    "FROM documents), "
    "s AS (SELECT doc_id, CAST(CAST('0x' || substr(hh, 1, 8) AS BIGINT) % 8 AS INT) "
    "AS shard, hh FROM h) "
    "SELECT doc_id, shard, "
    "CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS INT) "
    "AS shard_pos FROM s",
)
def deterministic_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: (shard, shard_pos) total order
    from a salted md5 — the scalable ORDER BY hash (per-shard windows
    instead of one global sort; shards is the memory/parallelism
    knob)."""
    from .operators.traindata import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return deterministic_shuffle(docs, "doc_id", shards=8).select(
        "doc_id", "shard", "shard_pos"
    )


@register(
    "repetition_quality",
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "g AS (SELECT doc_id, w, CASE WHEN len(w) >= 2 THEN list_transform("
    "range(0, len(w) - 1), i -> array_to_string(w[i+1:i+2], ' ')) "
    "ELSE [] END AS bi FROM t) "
    "SELECT doc_id, "
    "CASE WHEN len(w) > 0 THEN CAST(list_max(list_transform(list_distinct(w), "
    "d -> len(list_filter(w, x -> x = d)))) AS DOUBLE) / len(w) "
    "ELSE 0.0 END AS top_word_share, "
    "CASE WHEN len(bi) > 0 THEN 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) "
    "/ len(bi) ELSE 0.0 END AS dup_bigram_frac "
    "FROM g",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top-word share + duplicate-
    bigram fraction, per document. Narrow HOF pipeline (no explode,
    no shuffle) — exact integer counts, one fp division each."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    top_share, dup_frac = TS.repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        top_share.alias("top_word_share"),
        dup_frac.alias("dup_bigram_frac"),
    )


_SPAN_REMOVE_SQL = """
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
g AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 4], ' ')
             AS gram
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - 3, 0))) AS pos
            FROM t)),
dup AS (SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram)
        WHERE c >= 2),
cov AS (SELECT DISTINCT doc_id, pos + u AS idx
        FROM (SELECT g.doc_id, g.pos, unnest(range(0, 4)) AS u
              FROM g SEMI JOIN dup ON g.gram = dup.gram)),
tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS idx,
               unnest(toks) AS word FROM t),
keep AS (SELECT tok.doc_id, tok.idx, tok.word FROM tok
         ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx),
clean AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS ct,
                 COUNT(*) AS nk FROM keep GROUP BY doc_id)
SELECT t.doc_id, coalesce(c.ct, '') AS clean_text,
       CAST(len(t.toks) - coalesce(c.nk, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN clean c ON t.doc_id = c.doc_id
"""


@register("dedup_span_removal", _SPAN_REMOVE_SQL)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span removal (Lee et al. 2022 — the
    transform behind dup_ngram_span_score's signal): every token
    covered by a word 4-gram occurring >= 2 times in the corpus is
    deleted and the survivors reassembled in order. One gram-count
    shuffle + linear coverage fanout (n rows per duplicated gram
    instance, never pairwise)."""
    from .operators.dedup import remove_dup_spans

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return remove_dup_spans(docs, "doc_id", "text", n=4)


_PPL_SQL = """
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS idx,
               unnest(toks) AS word FROM t),
uni AS (SELECT word, COUNT(*) AS c_a FROM tok GROUP BY word),
v AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM tok),
big AS (SELECT doc_id, word AS a,
               LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS b
        FROM tok),
bg AS (SELECT doc_id, a, b FROM big WHERE b IS NOT NULL),
bi AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
scored AS (SELECT bi.a, bi.b,
        CAST(ROUND(ln((CAST(c_ab AS DOUBLE) + 1.0) /
                      (CAST(c_a AS DOUBLE) + (SELECT v FROM v)))
                   * 1000.0) AS BIGINT) AS mn
        FROM bi JOIN uni ON bi.a = uni.word),
doc AS (SELECT bg.doc_id, SUM(s.mn) AS sm, COUNT(*) AS m
        FROM bg JOIN scored s ON bg.a = s.a AND bg.b = s.b
        GROUP BY bg.doc_id),
sc AS (SELECT doc_id, m AS n_bigrams,
              -CAST(sm AS BIGINT) / (m * 1000.0) AS cross_entropy
       FROM doc),
cut AS (SELECT quantile_cont(cross_entropy, 1.0 / 3.0) AS q1,
               quantile_cont(cross_entropy, 2.0 / 3.0) AS q2 FROM sc)
SELECT doc_id, n_bigrams, cross_entropy,
  CASE WHEN cross_entropy <= (SELECT q1 FROM cut) THEN 'head'
       WHEN cross_entropy <= (SELECT q2 FROM cut) THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM sc
"""


@register("perplexity_buckets", _PPL_SQL)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality filtering (Wenzek et al. 2020):
    per-doc cross-entropy under an add-one bigram LM fit on the
    corpus, bucketed head/middle/tail at exact tercile cutpoints
    (one percentile aggregate broadcast back — never a global ntile
    window). Millinat-quantized NLL terms make the per-doc mean exact
    integer arithmetic and absorb Java-vs-libm ln ulp skew."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return TS.perplexity_quality(docs, "doc_id", "text")




# --------------------------------------------------------------------
# round 10 (cont.): trained k-means clustering over the embedding
# table — the data-adaptive centroid stage SemDeDup-style semantic
# dedup clusters with, as exact unrolled integer Lloyd iterations
# --------------------------------------------------------------------


_KMEANS_K = 8
_KMEANS_ITERS = 3
_KMEANS_DIM = 64  # embedding components clustered


def _kmeans_oracle_sql() -> str:
    """DuckDB twin of operators/similarity.kmeans_lloyd: same
    micro-unit quantization, md5-ranked seeds, packed-bigint argmin
    with lower-cid tie-break, truncating-division centroid update,
    and empty-cluster COALESCE, unrolled iteration by iteration."""
    k, iters, dim = _KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM
    q = (
        "WITH pts AS (SELECT vec_id AS id, "
        f"list_transform(range(1, {dim + 1}), i -> "
        "CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS e "
        "FROM embeddings), "
        "sd AS (SELECT id, e, ROW_NUMBER() OVER "
        f"(ORDER BY md5('{KMEANS_SEED_TAG}:' || CAST(id AS VARCHAR)), id) "
        "- 1 AS cid "
        "FROM pts), "
        f"c0 AS (SELECT cid, e AS c FROM sd WHERE cid < {k})"
    )
    dist = (
        f"CAST(list_aggregate(list_transform(range(1, {dim + 1}), "
        "i -> (p.e[i] - c.c[i]) * (p.e[i] - c.c[i])), 'sum') AS BIGINT)"
    )
    for t in range(1, iters + 1):
        q += (
            f", a{t} AS (SELECT p.id, MIN({dist} * {k} + c.cid) AS pack "
            f"FROM pts p CROSS JOIN c{t - 1} c GROUP BY p.id)"
            f", u{t} AS (SELECT a.pack % {k} AS cid, t.i AS i, "
            "CAST(SUM(p.e[t.i]) AS BIGINT) AS s, COUNT(*) AS n "
            f"FROM a{t} a JOIN pts p ON a.id = p.id "
            f"CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) t "
            "GROUP BY 1, 2)"
            f", m{t} AS (SELECT cid, list(s // n ORDER BY i) AS c "
            f"FROM u{t} GROUP BY cid)"
            f", c{t} AS (SELECT p.cid, COALESCE(m.c, p.c) AS c "
            f"FROM c{t - 1} p LEFT JOIN m{t} m USING (cid))"
        )
    fin = iters + 1
    q += (
        f", a{fin} AS (SELECT p.id, MIN({dist} * {k} + c.cid) AS pack "
        f"FROM pts p CROSS JOIN c{iters} c GROUP BY p.id) "
        f"SELECT id AS vec_id, CAST(pack % {k} AS BIGINT) AS cluster, "
        f"pack // {k} AS dist2 FROM a{fin}"
    )
    return q


@register("kmeans_lloyd_embeddings", _kmeans_oracle_sql())
def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained k-means over the embedding table (Lloyd 1982), k=8,
    3 unrolled iterations, every value exact integer micro-units —
    the ENTIRE final assignment table (cluster AND squared distance)
    is hash-certified cross-engine, which MLlib's sampled-init
    fp-accumulating KMeans cannot do. This is the trained-centroid
    stage a production SemDeDup pipeline runs before the within-cell
    pair pass (`semdedup_embeddings` certifies the pair pass over
    FIXED hyperplane cells; this closes the loop with data-adaptive
    cells). Plan: quantized points persisted once (InMemoryTableScan);
    per iteration assignment is a pure projection (k centroids ride
    in as ONE sorted broadcast row, k·dim distance terms unrolled to
    codegen, LEAST-packed argmin with lower-cid tie-break — zero
    shuffle) and the update is ONE map-side-combinable hash agg
    carrying k×(dim+1) longs per map task. At 100 TB each Lloyd round
    is one broadcast + one k-row shuffle — the canonical distributed
    k-means; k·dim beyond codegen comfort switches assignment to a
    vectorized Pandas-UDF argmin over the same broadcast."""
    from .operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.kmeans_lloyd(
        emb,
        "vec_id",
        "embedding",
        k=_KMEANS_K,
        iters=_KMEANS_ITERS,
        dim=_KMEANS_DIM,
    ).select(F.col("id").alias("vec_id"), "cluster", "dist2")


# --------------------------------------------------------------------
# round 10 (cont.): rendezvous-hash shard assignment, temperature-
# based mixture apportionment, Poisson-bootstrap confidence intervals
# --------------------------------------------------------------------


# the HRW topology change consistent_hash_shards audits, and the shard
# count streaming_hrw_route routes to
_HRW_SHARDS_BEFORE = 8
_HRW_SHARDS = 9


def _hrw_shard_sql(n_shards: int) -> str:
    """DuckDB twin of operators.relational.hrw_shard: the packed
    (48-bit md5 prefix * 16 + shard) GREATEST over ``n_shards``."""
    packs = ", ".join(
        f"CAST(('0x' || substr(md5('{HRW_TAG}:{s}:' || "
        f"CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) * 16 + {s}"
        for s in range(n_shards)
    )
    return f"GREATEST({packs}) % 16"


def _hrw_oracle_sql() -> str:
    g1 = _hrw_shard_sql(_HRW_SHARDS_BEFORE)
    g2 = _hrw_shard_sql(_HRW_SHARDS)
    return (
        f"WITH a AS (SELECT {g1} AS a8, {g2} AS a9 FROM documents), "
        "n8 AS (SELECT a8 AS shard, COUNT(*) AS n FROM a GROUP BY 1), "
        "n9 AS (SELECT a9 AS shard, COUNT(*) AS n, "
        "CAST(SUM(CASE WHEN a8 <> a9 THEN 1 ELSE 0 END) AS BIGINT) AS m "
        "FROM a GROUP BY 1) "
        f"SELECT t.shard, COALESCE(n8.n, 0) AS n_before, "
        "COALESCE(n9.n, 0) AS n_after, COALESCE(n9.m, 0) AS moved_in "
        f"FROM (SELECT unnest(range({_HRW_SHARDS})) AS shard) t "
        "LEFT JOIN n8 ON t.shard = n8.shard "
        "LEFT JOIN n9 ON t.shard = n9.shard"
    )


@register("consistent_hash_shards", _hrw_oracle_sql())
def consistent_hash_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing (Thaler & Ravishankar
    1998) — the shard-assignment primitive behind consistent data
    placement: each doc goes to the shard with the max
    md5("hrw-v1:shard:doc_id") score, certified at S=8 and S=9
    side by side. The output hash PINS HRW's minimal-movement
    property numerically: moved_in = 0 for every pre-existing shard
    (docs only ever move TO the new shard, ~1/9 of them).
    Plan: assignment is a PURE PROJECTION — each candidate score
    packs (48-bit md5 prefix · 16 + shard) into one BIGINT and
    GREATEST picks the winner, zero shuffle, whole-stage codegen; the
    only exchanges carry <= S count rows of map-side partials. At
    100 TB re-sharding cost is exactly the moved_in column — this
    query is the audit that proves a topology change moves the
    minimum."""
    from .operators.relational import hrw_shard

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        hrw_shard(F.col("doc_id"), _HRW_SHARDS_BEFORE).alias("a8"),
        hrw_shard(F.col("doc_id"), _HRW_SHARDS).alias("a9"),
    )
    n8 = a.groupBy(F.col("a8").alias("shard")).agg(F.count("*").alias("n_b"))
    n9 = a.groupBy(F.col("a9").alias("shard")).agg(
        F.count("*").alias("n_a"),
        F.sum((F.col("a8") != F.col("a9")).cast("long")).alias("m"),
    )
    spine = spark.range(_HRW_SHARDS).select(F.col("id").alias("shard"))
    return (
        spine.join(n8, "shard", "left")
        .join(n9, "shard", "left")
        .select(
            "shard",
            F.coalesce("n_b", F.lit(0)).alias("n_before"),
            F.coalesce("n_a", F.lit(0)).alias("n_after"),
            F.coalesce("m", F.lit(0)).alias("moved_in"),
        )
    )


_MIX_SQL = """
WITH src AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
w AS (SELECT source, n_docs,
             CAST(FLOOR(SQRT(n_docs)) AS BIGINT) AS weight FROM src),
t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
q AS (SELECT source, n_docs, weight,
             (1000000 * weight) // tw AS base,
             (1000000 * weight) % tw AS rem
      FROM w CROSS JOIN t),
r AS (SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             1000000 - CAST(SUM(base) OVER () AS BIGINT) AS leftover
      FROM q)
SELECT source, n_docs, weight,
       base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc,
       ((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) * 1000000)
         // n_docs AS epochs_ppm
FROM r
"""


@register("temperature_mix_weights", _MIX_SQL)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture apportionment for multi-source
    training data (the alpha-sampling of XLM / mT5, Conneau & Lample
    2019 §3.1, at alpha = 0.5 so the power is an exact integer
    FLOOR(SQRT) — the skipgram ^0.75 floor-nest precedent): source
    weights n^alpha, then a 1,000,000-sample budget apportioned by
    the largest-remainder (Hamilton) method — base = B*w // W, the
    B - sum(base) leftover units going to the largest remainders
    (ties broken by source name), so allocations are EXACT integers
    that sum to B by construction (no float re-normalization drift).
    epochs_ppm = alloc·10^6 // n_docs exposes the repetition factor
    per source (the "how many epochs of each corpus" number mixture
    designers actually read). Plan: one map-side-combinable count
    agg; every window runs on the <= |sources| aggregate (bounded
    frame, the bucket-totals pattern) — never on data-sized input."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    src = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = src.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    )
    tot = w.agg(F.sum("weight").alias("tw"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "weight",
        F.expr("(1000000 * weight) div tw").alias("base"),
        ((F.lit(1000000) * F.col("weight")) % F.col("tw")).alias("rem"),
    )
    r = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.col("source")))
        .alias("rk"),
        (
            F.lit(1000000)
            - F.sum("base").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("leftover"),
    )
    alloc = F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long")
    return r.select(
        "source",
        "n_docs",
        "weight",
        alloc.alias("alloc"),
        F.expr(
            "((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) * 1000000)"
            " div n_docs"
        ).alias("epochs_ppm"),
    )


# Poisson(1) CDF in exact ppm (floor), k = 0..7; u >= the last
# threshold draws weight 8. Embedded as literals on BOTH sides so no
# runtime exp() is in the certified path.
_POIS_PPM = [367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989]
_N_BOOT = 32


def _boot_oracle_sql() -> str:
    case = "CASE " + " ".join(
        f"WHEN u < {t} THEN {i}" for i, t in enumerate(_POIS_PPM)
    ) + " ELSE 8 END"
    return (
        f"WITH reps AS (SELECT unnest(range({_N_BOOT})) AS b), "
        "d AS (SELECT event_type, event_id, "
        "CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events), "
        "u AS (SELECT d.event_type, d.cents, reps.b, "
        "CAST(('0x' || substr(md5('boot-v1:' || CAST(d.event_id AS VARCHAR) "
        "|| ':' || CAST(reps.b AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000 "
        "AS u FROM d CROSS JOIN reps), "
        f"wt AS (SELECT event_type, b, {case} AS w, cents FROM u), "
        "bm AS (SELECT event_type, b, "
        "CAST(SUM(w * cents) AS BIGINT) // CAST(SUM(w) AS BIGINT) AS m "
        "FROM wt GROUP BY 1, 2 HAVING SUM(w) > 0), "
        "rk AS (SELECT event_type, b, m, "
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m, b) AS r, "
        "COUNT(*) OVER (PARTITION BY event_type) AS nb FROM bm), "
        "ci AS (SELECT event_type, "
        "MAX(CASE WHEN r = 2 THEN m END) AS ci_lo_cents, "
        "MAX(CASE WHEN r = nb - 1 THEN m END) AS ci_hi_cents "
        "FROM rk GROUP BY 1), "
        "pt AS (SELECT event_type, COUNT(*) AS n, "
        "CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_cents "
        "FROM d GROUP BY 1) "
        "SELECT pt.event_type, pt.n, pt.mean_cents, "
        "ci.ci_lo_cents, ci.ci_hi_cents "
        "FROM pt JOIN ci ON pt.event_type = ci.event_type"
    )


@register("poisson_bootstrap_ci", _boot_oracle_sql())
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence intervals for per-type mean value
    (Chamandy et al. 2012, "Estimating uncertainty for massive data
    streams" — THE resampling method that works in one distributed
    pass: resample weights are independent per row, so no replicate
    ever needs the dataset in one place). 32 replicates; each row's
    weight in replicate b is Poisson(1)-distributed via the exact
    integer inverse-CDF (ppm thresholds embedded as literals) applied
    to md5("boot-v1:event_id:b") mod 10^6 — a pure function of
    (row, b), so the WHOLE bootstrap is deterministic and
    hash-certified. Replicate means are exact integer cents
    (SUM(w·cents) // SUM(w)); the interval is order statistics 2 and
    31 of the 32 replicate means (a ~93.75% CI, no interpolation —
    exact order stats, engine-agnostic). Plan: the 32× fan-out is a
    projection (explode of a literal sequence); ONE map-side-
    combinable (type, b) agg collapses it to types×32 partials per
    map task before the exchange; ranking windows run on the
    types×32-row aggregate only. At 100 TB this is the standard way
    to put error bars on corpus stats without a second pass."""
    # widen: the 32-way replicate explode + one md5 per (row, b) is
    # the dominant cost and sat in the single-partition scan task
    # (profiled: one 4.4 s task at sf0.1); map-side partial agg
    # collapses to types x 32 partials either way
    events = load_table(spark, sf_dir, "events", widen=True)
    from pyspark.sql import Window

    d = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    u = d.select(
        "event_type",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT - 1))).alias("b"),
        F.col("event_id"),
    ).withColumn(
        "u",
        md5_int(
            F.concat(
                F.lit("boot-v1:"),
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            ),
            12,
        )
        % 1000000,
    )
    wexpr = F.lit(8)
    for i, t in reversed(list(enumerate(_POIS_PPM))):
        wexpr = F.when(F.col("u") < t, F.lit(i)).otherwise(wexpr)
    bm = (
        u.withColumn("w", wexpr)
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("event_type", "b", F.expr("swv div sw").alias("m"))
    )
    wt = Window.partitionBy("event_type")
    rk = bm.select(
        "event_type",
        "m",
        F.row_number().over(wt.orderBy("m", "b")).alias("r"),
        F.count("*").over(wt).alias("nb"),
    )
    ci = rk.groupBy("event_type").agg(
        F.max(F.when(F.col("r") == 2, F.col("m"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("r") == F.col("nb") - 1, F.col("m"))).alias(
            "ci_hi_cents"
        ),
    )
    pt = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("sum(cents) div count(*)").alias("mean_cents"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n", "mean_cents", "ci_lo_cents", "ci_hi_cents"
    )


# --------------------------------------------------------------------
# round 10 (cont.): intrinsic eval of the MinHash-LSH dedup family —
# band-collision candidate recall/precision vs exact-Jaccard truth
# --------------------------------------------------------------------


def _minhash_eval_sql() -> str:
    from .q_certificates import _PLANTED_DOCS_CTE

    return (
        f"WITH {_PLANTED_DOCS_CTE},\n"
        + _minhash_pair_ctes("alldocs")
        + """,
tin AS (SELECT s1.doc_id AS id_1, s2.doc_id AS id_2, COUNT(*) AS i
        FROM shingle s1 JOIN shingle s2
          ON s1.h = s2.h AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2),
truth AS MATERIALIZED (
  SELECT t.id_1, t.id_2 FROM tin t
  JOIN sz z1 ON z1.doc_id = t.id_1
  JOIN sz z2 ON z2.doc_id = t.id_2
  WHERE 3 * t.i >= z1.n + z2.n),
cd AS MATERIALIZED (SELECT DISTINCT id_1, id_2 FROM cand),
hit AS (SELECT COUNT(*) AS n_hit FROM truth JOIN cd USING (id_1, id_2))
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cd) AS n_cand,
       n_hit,
       n_hit * 1000000 // NULLIF((SELECT COUNT(*) FROM truth), 0)
         AS recall_ppm,
       n_hit * 1000000 // NULLIF((SELECT COUNT(*) FROM cd), 0)
         AS precision_ppm
FROM hit"""
    )


@register("minhash_recall_eval", _minhash_eval_sql())
def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic eval of the MinHash-LSH dedup family (the
    ann_recall_eval sibling for near-dup detection, Broder 1997 /
    Leskovec-Rajaraman-Ullman ch.3 S-curve in practice): band-
    collision CANDIDATE pairs (64 hashes × 16 bands, pre-
    verification) scored against exact-Jaccard >= 0.5 ground truth
    over the SAME hashed-shingle universe and the same planted-dups
    fixture the certified LSH queries use — so the measured
    recall/precision isolates exactly the banding approximation, not
    hash or tokenize differences. The J >= 0.5 truth predicate is
    pure integer cross-multiplication (3·|A∩B| >= |A|+|B|), so every
    output column is exact. Plan: ONE lsh-signature pass (persisted,
    the minhash_lsh_pairs contract) feeds both legs — candidates via
    the banded key-only self-join, truth via the shingle-keyed
    equi-join whose Σdf² fan-out is the honest cost of exact truth;
    at 100 TB this eval runs on a sampled slice (truth is quadratic
    BY DEFINITION — the LSH index under eval is the scale path),
    while the candidate leg is the production shape itself."""
    from pyspark.sql import functions as F  # noqa: F811
    from .operators.dedup import (
        MINHASH_BANDS,
        MINHASH_NUM_HASHES,
        SHINGLE_MODE,
        SHINGLE_N,
        lsh_signatures,
    )
    from .q_certificates import _docs_with_near_dups
    from pyspark.storagelevel import StorageLevel

    docs = _docs_with_near_dups(spark, sf_dir)
    base = lsh_signatures(
        docs, "doc_id", "text", MINHASH_NUM_HASHES, SHINGLE_MODE, SHINGLE_N,
        "md5",
    ).persist(StorageLevel.MEMORY_AND_DISK)


    # Candidates join on the RAW signature slice (not lsh_banded's
    # xxhash64 of it): the oracle's cand CTE requires exact per-row
    # minhash equality, so a 64-bit band-hash collision between
    # unequal slices would add a Spark-only candidate and desync
    # n_cand — and unlike the certified dedup query there is no
    # downstream exact-Jaccard verification here to absorb it. The
    # production bucket key stays hashed (dedup.lsh_banded); the
    # certification artifact pays 4 longs of shuffle-key width for
    # collision-free equality.
    rows = MINHASH_NUM_HASHES // MINHASH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"__m{i}").cast("string")
                    for i in range(b * rows, b * rows + rows)
                ],
            ).alias("bkey"),
        )
        for b in range(MINHASH_BANDS)
    ]
    banded = base.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("__b")
    ).select(
        "doc_id",
        F.col("__b.band").alias("band"),
        F.col("__b.bkey").alias("bkey"),
    )
    left = banded.select("band", "bkey", F.col("doc_id").alias("id_1"))
    right = banded.select("band", "bkey", F.col("doc_id").alias("id_2"))
    cd = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .dropDuplicates(["id_1", "id_2"])
    )

    sh = base.select(
        F.col("doc_id").alias("id"), F.explode("__sh").alias("h")
    )
    sz = base.select(
        F.col("doc_id").alias("id"), F.size("__sh").alias("n")
    )
    tin = (
        sh.alias("s1")
        .join(
            sh.alias("s2"),
            (F.col("s1.h") == F.col("s2.h"))
            & (F.col("s1.id") < F.col("s2.id")),
        )
        .groupBy(
            F.col("s1.id").alias("id_1"), F.col("s2.id").alias("id_2")
        )
        .agg(F.count("*").alias("i"))
    )
    truth = (
        tin.join(sz.select(F.col("id").alias("id_1"), F.col("n").alias("n1")), "id_1")
        .join(sz.select(F.col("id").alias("id_2"), F.col("n").alias("n2")), "id_2")
        .filter(3 * F.col("i") >= F.col("n1") + F.col("n2"))
        .select("id_1", "id_2")
    )

    t_cnt = truth.agg(F.count("*").alias("n_truth"))
    c_cnt = cd.agg(F.count("*").alias("n_cand"))
    h_cnt = truth.join(cd, ["id_1", "id_2"]).agg(
        F.count("*").alias("n_hit")
    )
    return (
        t_cnt.crossJoin(c_cnt)
        .crossJoin(h_cnt)
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.expr("n_hit * 1000000 div nullif(n_truth, 0)").alias(
                "recall_ppm"
            ),
            F.expr("n_hit * 1000000 div nullif(n_cand, 0)").alias(
                "precision_ppm"
            ),
        )
    )


# --------------------------------------------------------------------
# round 10 (cont.): calibration audit of the quality classifier and
# per-source KL divergence (domain-shift audit)
# --------------------------------------------------------------------


def _ece_sql() -> str:
    from .q_graph import _LOGREG_SQL

    return (
        f"WITH sc AS ({_LOGREG_SQL}), "
        "d AS (SELECT sc.score_milli AS s, "
        "CAST(documents.lang = 'en' AS INT) AS y "
        "FROM sc JOIN documents USING (doc_id)), "
        "b AS (SELECT LEAST(s // 100, 9) AS bin, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(s) AS BIGINT) AS ss, CAST(SUM(y) AS BIGINT) AS pos "
        "FROM d GROUP BY 1), "
        "g AS (SELECT bin, n, ss * 1000 // n AS conf_ppm, "
        "pos * 1000000 // n AS pos_ppm FROM b), "
        "rows_ AS (SELECT bin, n, conf_ppm, pos_ppm, "
        "ABS(conf_ppm - pos_ppm) AS gap_ppm FROM g), "
        "tot AS (SELECT CAST(-1 AS BIGINT) AS bin, "
        "CAST(SUM(n) AS BIGINT) AS n, "
        "CAST(SUM(n * conf_ppm) AS BIGINT) // CAST(SUM(n) AS BIGINT) "
        "AS conf_ppm, "
        "CAST(SUM(n * pos_ppm) AS BIGINT) // CAST(SUM(n) AS BIGINT) "
        "AS pos_ppm, "
        "CAST(SUM(n * gap_ppm) AS BIGINT) // CAST(SUM(n) AS BIGINT) "
        "AS gap_ppm FROM rows_) "
        "SELECT * FROM rows_ UNION ALL SELECT * FROM tot"
    )


@register("calibration_ece", _ece_sql())
def calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the deployed quality classifier
    (Naeini et al. 2015 ECE / DeGroot-Fienberg reliability diagram):
    the logreg score (quality_logreg_score's EXACT kernel — shared
    code, so classifier and audit can never desynchronize) binned
    into 10 confidence deciles against the lang=='en' weak label
    (pr_curve_quality_filter's convention). Per bin: count, mean
    confidence, empirical positive rate, |gap| — all integer ppm; the
    bin=-1 summary row's gap_ppm IS the expected calibration error
    (count-weighted mean gap, one truncating division). Plan: ONE
    map-side-combinable 10-group agg over the score projection; the
    summary re-aggregates the 10-row bin table, never the corpus —
    the audit every learned filter needs before its keep-threshold
    is trusted at 100 TB."""
    from .functions.text_clean import ALL_STOPWORDS

    docs = load_table(spark, sf_dir, "documents", widen=True)
    score = TS.logreg_quality_score(F.col("text"), list(ALL_STOPWORDS))
    d = docs.select(
        F.round(score).cast("long").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    b = d.groupBy(
        F.least(F.expr("s div 100"), F.lit(9)).alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum("s").alias("ss"),
        F.sum("y").cast("long").alias("pos"),
    )
    rows = b.select(
        "bin",
        "n",
        F.expr("ss * 1000 div n").alias("conf_ppm"),
        F.expr("pos * 1000000 div n").alias("pos_ppm"),
    ).withColumn(
        "gap_ppm", F.abs(F.col("conf_ppm") - F.col("pos_ppm"))
    )
    tot = rows.agg(
        F.lit(-1).cast("long").alias("bin"),
        F.sum("n").alias("n"),
        F.expr("sum(n * conf_ppm) div sum(n)").alias("conf_ppm"),
        F.expr("sum(n * pos_ppm) div sum(n)").alias("pos_ppm"),
        F.expr("sum(n * gap_ppm) div sum(n)").alias("gap_ppm"),
    )
    return rows.unionByName(tot)


_KL_SQL = r"""
WITH tok AS (SELECT source,
                    unnest(string_split_regex(lower(text), '\s+')) AS w
             FROM documents),
sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
       FROM tok WHERE w <> '' GROUP BY 1, 2),
wt AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
st AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS c_s,
              CAST(COUNT(*) AS BIGINT) AS vocab FROM sw GROUP BY 1),
tt AS (SELECT CAST(SUM(c_sw) AS BIGINT) AS n FROM sw),
term AS (SELECT sw.source, sw.c_sw,
         CAST(ROUND(1000 * ln((CAST(sw.c_sw AS DOUBLE) * tt.n)
                              / (CAST(st.c_s AS DOUBLE) * wt.c_w)))
              AS BIGINT) AS lr
         FROM sw JOIN wt USING (w) JOIN st USING (source) CROSS JOIN tt)
SELECT st.source, st.c_s AS n_tokens, st.vocab,
       CAST(SUM(term.c_sw * term.lr) AS BIGINT) // st.c_s AS kl_millinat
FROM term JOIN st USING (source)
GROUP BY st.source, st.c_s, st.vocab
"""


@register("kl_divergence_sources", _KL_SQL)
def kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift audit: KL(source unigram LM ‖ corpus unigram LM)
    per source (Kullback-Leibler 1951; the divergence DSIR-style
    importance sampling and domain-mixing decisions read) in exact
    milli-nats: each term's log-ratio is milli-quantized BEFORE the
    weighted sum (the perplexity/nb convention — integer ROUND
    absorbs Java-vs-libm ln ulp skew), so the per-source sum is
    fold-order-free integer math with one truncating division. The
    source distribution's support is a subset of the corpus's by
    construction, so every term is finite — no smoothing constant to
    disagree over. Plan: ONE token explode feeds one (source, word)
    agg (persisted — the word-total, source-total, and corpus-total
    legs all fold from it, never rescanning the corpus; broadcast
    legs re-execute their subtree by the exchange-reuse rule, which
    the persist converts to cache hits); the term join keys on the
    Heaps-bounded vocab; output is |sources| rows."""
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents", widen=True)
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    sw = (
        tok.groupBy("source", "w")
        .agg(F.count("*").alias("c_sw"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wt = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    st = sw.groupBy("source").agg(
        F.sum("c_sw").alias("c_s"), F.count("*").alias("vocab")
    )
    tt = sw.agg(F.sum("c_sw").alias("n"))
    term = (
        sw.join(wt, "w")
        .join(F.broadcast(st), "source")
        .join(F.broadcast(tt))
        .select(
            "source",
            "c_sw",
            "c_s",
            "vocab",
            F.round(
                1000
                * F.log(
                    (F.col("c_sw").cast("double") * F.col("n"))
                    / (F.col("c_s").cast("double") * F.col("c_w"))
                )
            )
            .cast("long")
            .alias("lr"),
        )
    )
    return (
        term.groupBy("source", "c_s", "vocab")
        .agg(F.expr("cast(sum(c_sw * lr) as bigint) div c_s").alias("kl_millinat"))
        .select(
            "source",
            F.col("c_s").alias("n_tokens"),
            "vocab",
            "kl_millinat",
        )
    )


# --------------------------------------------------------------------
# round 10 (cont.): LSA document embeddings — integer randomized
# subspace iteration over the TF-IDF matrix (the document-side
# sibling of pmi_embedding_vectors)
# --------------------------------------------------------------------


_LSA_DIMS = 4


def _lsa_oracle_sql() -> str:
    seed = (
        "CAST(('0x' || substr(md5('lsa-v1:' || w || ':' "
        "|| CAST(r AS VARCHAR)), 1, 12)) AS BIGINT) % 2001 - 1000"
    )
    return rf"""
WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
tf AS MATERIALIZED (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE w <> '' GROUP BY 1, 2),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
m AS MATERIALIZED (SELECT tf.doc_id AS d, tf.w, tf.c *
     CAST(ROUND(1000 * ln(CAST(nn.n AS DOUBLE) / df.df)) AS BIGINT) AS wt
     FROM tf JOIN df USING (w) CROSS JOIN nn WHERE df.df < nn.n),
dims AS (SELECT CAST(unnest(range({_LSA_DIMS})) AS INT) AS r),
terms AS (SELECT DISTINCT w FROM m),
v0 AS (SELECT w, r, {seed} AS v FROM terms CROSS JOIN dims),
u1r AS (SELECT m.d, v.r, SUM(m.wt * v.v) AS u
        FROM m JOIN v0 v ON m.w = v.w GROUP BY 1, 2),
s1 AS (SELECT r, GREATEST(MAX(ABS(u)), 1) AS s FROM u1r GROUP BY r),
u1 AS MATERIALIZED (SELECT u1r.d, u1r.r,
      CAST(u1r.u * 1000000 // s1.s AS BIGINT) AS v
      FROM u1r JOIN s1 USING (r)),
t1r AS (SELECT m.w, u.r, SUM(m.wt * u.v) AS t
        FROM m JOIN u1 u ON m.d = u.d GROUP BY 1, 2),
s2 AS (SELECT r, GREATEST(MAX(ABS(t)), 1) AS s FROM t1r GROUP BY r),
t1 AS MATERIALIZED (SELECT t1r.w, t1r.r,
      CAST(t1r.t * 1000000 // s2.s AS BIGINT) AS v
      FROM t1r JOIN s2 USING (r)),
u2r AS (SELECT m.d, v.r, SUM(m.wt * v.v) AS u
        FROM m JOIN t1 v ON m.w = v.w GROUP BY 1, 2),
s3 AS (SELECT r, GREATEST(MAX(ABS(u)), 1) AS s FROM u2r GROUP BY r)
SELECT u2r.d AS doc_id, u2r.r AS dim,
       CAST(u2r.u * 1000000 // s3.s AS BIGINT) AS val_micro
FROM u2r JOIN s3 USING (r)
"""


@register("lsa_doc_embeddings", _lsa_oracle_sql())
def lsa_doc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSA document embeddings (Deerwester et al. 1990) as a 4-dim
    randomized subspace-iteration sketch (Halko et al. 2011 range
    finder, M·Mᵀ power round) of the TF-IDF matrix — the document-
    side sibling of pmi_embedding_vectors, same certification trick:
    integer TF-IDF weights (tf · milli-quantized idf), md5-seeded
    ±1000 start vectors over TERMS, the M·v → Mᵀ·u → M·t chain in
    exact bigint with per-dim max-abs rescale to ±1e6 micro-units by
    truncating division — zero float accumulation, so the ENTIRE
    embedding table hash-matches cross-engine (impossible for an
    SVD library's fp Lanczos). Corpus-stopword terms (df = N) carry
    idf 0 and are dropped. Plan: ONE token explode → ONE persisted
    (doc, term) tf table every leg folds from; each multiply round is
    ONE key-partitioned join + hash agg (the pagerank shape) + a
    4-row broadcast rescale; vectors ride as skinny (id, dim, int)
    rows. At 100 TB this is exactly how distributed randomized SVD
    range finders run on sparse matrices — M stays relational,
    never densified."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return lsa_embed_documents(spark, docs)


def lsa_embed_documents(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The lsa_doc_embeddings body over an arbitrary (doc_id, text)
    frame — parameterized so pytest can drive it with a planted
    two-cluster corpus and check semantic recovery."""
    from pyspark.storagelevel import StorageLevel

    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    tf = (
        tok.groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfr = tf.groupBy("w").agg(F.count("*").alias("df"))
    nn = tf.agg(F.countDistinct("doc_id").alias("n"))
    m = (
        tf.join(dfr, "w")
        .join(F.broadcast(nn))
        .filter(F.col("df") < F.col("n"))
        .select(
            F.col("doc_id").alias("d"),
            "w",
            (
                F.col("c")
                * F.round(
                    1000
                    * F.log(F.col("n").cast("double") / F.col("df"))
                ).cast("long")
            ).alias("wt"),
        )
        .localCheckpoint(eager=True)
    )
    dims = spark.range(_LSA_DIMS).select(F.col("id").cast("int").alias("r"))
    terms = m.select("w").distinct()
    v0 = terms.join(dims).select(
        "w",
        "r",
        (
            F.pmod(
                md5_int(
                    F.concat(
                        F.lit("lsa-v1:"),
                        F.col("w"),
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

    def mul_rescale(mat, vec, key_in, key_out):
        r_ = (
            mat.join(vec, key_in)
            .groupBy(key_out, "r")
            .agg(F.sum(F.col("wt") * F.col("v")).alias("u"))
            # r_ feeds both the rescale join and the broadcast max;
            # the broadcast side re-runs the M·v join (no exchange
            # reuse across a broadcast boundary), but mat is eager-
            # checkpointed so the re-run is one cheap keyed join —
            # a per-round r_ checkpoint was measured SLOWER at sf0.1
            # (4.0 s → 5.6 s: block-store writes cost more than the
            # re-run saves at this width). Revisit if dims grows.
        )
        s_ = r_.groupBy("r").agg(
            F.greatest(F.max(F.abs(F.col("u"))), F.lit(1)).alias("s")
        )
        return r_.join(F.broadcast(s_), "r").select(
            key_out, "r", F.expr("u * 1000000 div s").cast("long").alias("v")
        )

    u1 = mul_rescale(m, v0, "w", "d")
    t1 = mul_rescale(m, u1, "d", "w")
    u2 = mul_rescale(m, t1, "w", "d")
    return u2.select(
        F.col("d").alias("doc_id"),
        F.col("r").alias("dim"),
        F.col("v").alias("val_micro"),
    )


@register(
    "streaming_hrw_route",
    f"SELECT doc_id, {_hrw_shard_sql(_HRW_SHARDS)} AS shard FROM documents",
)
def streaming_hrw_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash routing as a STREAMING ingest gate (the
    streaming_quality_gate pattern applied to data placement):
    documents stream in and exit with their HRW shard assignment,
    stateless 1:1, append-mode AvailableNow drain. The oracle is the
    BATCH per-doc assignment SQL unchanged — the hash match certifies
    the narrow streaming plan and the batch projection compute the
    identical placement, which is exactly the property a router must
    hold across backfill (batch) and live (streaming) paths at
    100 TB."""
    from .streaming.ingest import streaming_hrw_route_batch

    return streaming_hrw_route_batch(spark, sf_dir, _HRW_SHARDS).select(
        "doc_id", F.col("shard").cast("long").alias("shard")
    )


# --------------------------------------------------------------------
# round 11: suffix-array exact-substring dedup (Lee et al. 2022 §4.1
# ExactSubstr) — the exact half beside the n-gram approximations
# (dedup_span_removal / dup_ngram_span_score)
# --------------------------------------------------------------------

_SUFFIX_SPAN_SQL = f"""
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
g AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + {SPAN_LEN}], ' ')
             AS gram
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - {SPAN_LEN - 1}, 0))) AS pos
            FROM t)),
dup AS (SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram)
        WHERE c >= {SPAN_MIN_COUNT}),
st AS (SELECT doc_id, pos FROM g SEMI JOIN dup ON g.gram = dup.gram),
br AS (SELECT doc_id, pos,
       CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {SPAN_LEN}
            THEN 1 ELSE 0 END AS brk FROM st),
isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS isl FROM br)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {SPAN_LEN} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {SPAN_LEN} - MIN(pos) AS BIGINT) AS span_len,
       CAST(COUNT(*) AS BIGINT) AS n_dup_starts
FROM isl GROUP BY doc_id, isl
"""


@register("suffix_array_spans", _SUFFIX_SPAN_SQL)
def suffix_array_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array exact-substring dedup (Lee et al. 2022 §4.1
    ExactSubstr): maximal spans of >= 16 tokens whose text occurs
    more than once corpus-wide, found by DISTRIBUTED PREFIX-DOUBLING
    suffix ranking (operators/suffixarray.py) — 4 doubling rounds of
    fixed-width (two-integer-rank) rows reach the 16-token window
    with NO n-gram string materialization (the n-gram join's 16x
    byte amplification is what kills it at 100 TB; the sibling
    dedup_span_removal keeps the approximation for comparison). All
    global ranks are deterministic two-level ranks (broadcast
    integer-arithmetic bucketing + per-bucket row_number + exclusive
    bucket-prefix offsets — never a single-partition window, never
    sampled range boundaries), so the ranking is a pure function of
    the data and the span output is hash-exact against the oracle's
    direct 16-gram formulation (equal-window detection at the
    threshold makes the two computations provably identical).
    Reference intent: pipelines.py:33-44's URL-level dedup done to
    the published training-data standard. Spans merge by
    gaps-and-islands on one doc-keyed window; output is pure
    integers."""
    from .operators.suffixarray import duplicated_spans

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return duplicated_spans(
        docs, "doc_id", "text"
    )


_SUFFIX_REMOVE_SQL = f"""
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
g AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + {SPAN_LEN}], ' ')
             AS gram
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - {SPAN_LEN - 1}, 0))) AS pos
            FROM t)),
dup AS (SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram)
        WHERE c >= {SPAN_MIN_COUNT}),
cov AS (SELECT DISTINCT doc_id, pos + u AS idx
        FROM (SELECT g.doc_id, g.pos, unnest(range(0, {SPAN_LEN})) AS u
              FROM g SEMI JOIN dup ON g.gram = dup.gram)),
tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS idx,
               unnest(toks) AS word FROM t),
keep AS (SELECT tok.doc_id, tok.idx, tok.word FROM tok
         ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx),
clean AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS ct,
                 COUNT(*) AS nk FROM keep GROUP BY doc_id)
SELECT t.doc_id, coalesce(c.ct, '') AS clean_text,
       CAST(len(t.toks) - coalesce(c.nk, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN clean c ON t.doc_id = c.doc_id
"""


@register("suffix_span_removal", _SUFFIX_REMOVE_SQL)
def suffix_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr (Lee et al. 2022 §4.1 remove
    step): delete every token inside the maximal >= 16-token
    exactly-duplicated spans that suffix_array_spans finds, and
    reassemble each document from the survivors in order — the
    cleaned-corpus TRANSFORM the span report exists to feed (the
    4-gram approximation sibling is dedup_span_removal). The Spark
    side reuses the prefix-doubling suffix ranking (no 16x n-gram
    byte amplification); the oracle is the direct 16-gram coverage +
    the proven ordered-reassembly recipe — equal-window detection at
    the threshold makes island coverage == per-start interval union,
    so the two formulations are provably identical. Plan: the
    doubling rounds + one rank-count shuffle + semi-join + doc-keyed
    island window, then ONE covered-token explode (linear — islands
    are disjoint, no distinct), an anti-join, and the
    sort-in-array reassembly aggregate. Every doc returns a row
    (n_removed = 0 rows pass through untouched)."""
    from .operators.suffixarray import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return remove_duplicated_spans(
        docs, "doc_id", "text"
    )


_CONTAM_SPAN_SQL = f"""
WITH t AS (SELECT doc_id, doc_id % 13 = 0 AS bench,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
g AS (SELECT doc_id, bench, pos,
             array_to_string(toks[pos + 1 : pos + {SPAN_LEN}], ' ') AS gram
      FROM (SELECT doc_id, bench, toks,
                   unnest(range(0, greatest(len(toks) - {SPAN_LEN - 1}, 0))) AS pos
            FROM t)),
bg AS (SELECT DISTINCT gram FROM g WHERE bench),
st AS (SELECT doc_id, pos FROM g SEMI JOIN bg ON g.gram = bg.gram
       WHERE NOT bench),
br AS (SELECT doc_id, pos,
       CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {SPAN_LEN}
            THEN 1 ELSE 0 END AS brk FROM st),
isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS isl FROM br)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {SPAN_LEN} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {SPAN_LEN} - MIN(pos) AS BIGINT) AS span_len,
       CAST(COUNT(*) AS BIGINT) AS n_dup_starts
FROM isl GROUP BY doc_id, isl
"""


@register("exact_substr_contamination", _CONTAM_SPAN_SQL)
def exact_substr_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark decontamination (the suffix-array
    counterpart of contamination_check's n-gram-set overlap — Lee et
    al. 2022's ExactSubstr applied across corpora, the GPT-3 appendix
    decontamination done exactly): maximal >= 16-token spans of
    TRAINING documents whose text occurs verbatim anywhere in the
    benchmark partition (doc_id % 13 == 0 — a larger eval slice than
    contamination_check's % 97 so the certified span set is
    non-trivial at EVERY driver SF; % 97 yields zero shared 16-grams
    at sf0.01). ONE bounded-window suffix ranking over the union
    corpus puts train and bench windows in the same rank groups by
    construction; groups containing a bench position mark their train
    positions contaminated; islands merge per document. Unlike the
    shingle-set check this yields the exact REMOVABLE character
    ranges, not a per-doc ratio. Plan: the prefix-doubling rounds +
    one rank-keyed max agg + one semi-join + one doc-keyed island
    window — the bench side rides the same ranking, no second scan
    chain."""
    from .operators.suffixarray import contaminated_spans

    docs = load_table(spark, sf_dir, "documents", widen=True).select(
        "doc_id", "text", (F.col("doc_id") % 13 == 0).alias("is_bench")
    )
    return contaminated_spans(docs, "doc_id", "text", "is_bench")
