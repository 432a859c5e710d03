"""TPC-H-shaped headline aggregations and the extended relational
surface: as-of join, sessionization, pivot, gap-fill.
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import relational as R
from .queries_base import register


# --------------------------------------------------------------------
# TPC-H-shaped headline aggregations (bench workhorses)
# --------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 "
    "AS sum_base_price, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 "
    "AS sum_disc_price, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) "
    "/ (COUNT(*) * 100.0) AS avg_qty, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "/ (COUNT(*) * 100.0) AS avg_price, "
    "CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) "
    "/ (COUNT(*) * 100.0) AS avg_disc, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-agg — the engine's headline
    batch-agg benchmark. Integer-scaled money math -> exact sums in
    any aggregation order (the 100 TB-safe formulation; int64
    headroom to ~sf1000 for the scaled products)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty) / 100.0).alias("sum_qty"),
            (F.sum(price) / 100.0).alias("sum_base_price"),
            (F.sum(price * (100 - disc)) / 10000.0).alias("sum_disc_price"),
            (F.sum(qty) / (F.count("*") * 100.0)).alias("avg_qty"),
            (F.sum(price) / (F.count("*") * 100.0)).alias("avg_price"),
            (F.sum(disc) / (F.count("*") * 100.0)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q1_decimal_scale",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS HUGEINT)) AS DOUBLE) / 100.0 "
    "AS sum_qty, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS HUGEINT))) AS DOUBLE) / 10000.0 "
    "AS sum_disc_price, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
def tpch_q1_decimal_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1's beyond-sf1000 formulation: scaled money sums in
    Decimal(38,0) (vs int64 in tpch_q1, which overflows once
    sum(price_s * (100-disc_s)) passes 2^63 at ~sf1000) — oracle side
    uses HUGEINT, both cast to double only after the exact sum.
    Decimal aggregation is still exact integer arithmetic in any
    partial-agg order; ~30% slower than int64, which is why both
    formulations exist."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    qty = F.round(F.col("l_quantity") * 100).cast(dec)
    price = F.round(F.col("l_extendedprice") * 100).cast(dec)
    disc = F.round(F.col("l_discount") * 100).cast(dec)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(price * (F.lit(100).cast(dec) - disc)).cast("double") / 10000.0)
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_top_revenue",
    "SELECT o_orderkey, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 "
    "AS revenue "
    "FROM customer, orders, lineitem "
    "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey "
    "AND l_orderkey = o_orderkey "
    "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10",
)
def tpch_q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k.
    customer filter applied BEFORE the join (prunes the build side);
    top-k via TakeOrderedAndProject."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    agg = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .select("o_orderkey")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg((F.sum(price * (100 - disc)) / 10000.0).alias("revenue"))
    )
    return agg.orderBy(F.desc("revenue"), F.col("o_orderkey")).limit(10)


# --------------------------------------------------------------------
# extended relational surface: as-of join, sessionization, pivot,
# rollup, distinct aggs, Q6 scan (all oracle-checked)
# --------------------------------------------------------------------


@register(
    "asof_join_last_view",
    "SELECT c.event_id, c.user_id, c.ts, v.value AS asof_value "
    "FROM (SELECT * FROM events WHERE event_type = 'click') c "
    "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v "
    "ON c.user_id = v.user_id AND c.ts >= v.ts",
)
def asof_join_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click picks up the user's latest prior view's
    value. Spark lacks a native as-of join; this is the union-window
    composition (ONE shuffle — no range-join explosion). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return R.asof_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    ).select("event_id", "user_id", "ts", F.col("asof_value").alias("asof_value"))


@register(
    "sessionize_count",
    "WITH g AS (SELECT user_id, ts, CASE WHEN "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) "
    "IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
    f"(PARTITION BY user_id ORDER BY ts) > {R.SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new "
    "FROM events) "
    "SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions "
    "FROM g GROUP BY user_id",
)
def sessionize_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) -> sessions per user. lag +
    conditional cumsum; one shuffle on the key."""
    events = load_table(spark, sf_dir, "events")
    with_sessions = R.sessionize(events, "user_id", "ts")
    return with_sessions.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_daily_event_counts",
    "SELECT CAST(ts AS DATE) AS date, "
    + ", ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
)
def pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily counts per event type as columns (engine
    extension; Catalyst rewrites pivot into conditional aggs)."""
    events = load_table(spark, sf_dir, "events")
    out = (
        events.groupBy(F.to_date("ts").alias("date"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for empty cells; align with COUNT FILTER's 0
    return out.select(
        "date", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@register(
    "rollup_order_status",
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 "
    "AS sum_total FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)",
)
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (engine extension — free via Catalyst's
    Expand; the reference has no grouping sets)."""
    orders = load_table(spark, sf_dir, "orders")
    scaled = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), (F.sum(scaled) / 100.0).alias("sum_total")
    )


@register(
    "distinct_users_per_type",
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_users "
    "FROM events GROUP BY event_type",
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (Expand-based two-phase distinct)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


@register(
    "tpch_q6_revenue_scan",
    "SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24",
)
def tpch_q6_revenue_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered scan + single agg — measures
    pushdown + codegen throughput (all four predicates reach the
    parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(price * disc) / 10000.0).alias("revenue"))
    )


@register(
    "tpch_q5_local_supplier_revenue",
    "SELECT n_name, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 "
    "AS revenue "
    "FROM customer, orders, lineitem, supplier, nation, region "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "AND r_name = 'ASIA' "
    "GROUP BY n_name",
)
def tpch_q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a region filter — exercises
    Catalyst join reordering and broadcast of the dim chain
    (region -> nation -> supplier filters flow into the fact join)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .join(supplier, supplier.s_nationkey == nation.n_nationkey)
        .join(li, li.l_suppkey == supplier.s_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(
            customer,
            (customer.c_custkey == orders.o_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .groupBy("n_name")
        .agg((F.sum(price * (100 - disc)) / 10000.0).alias("revenue"))
    )


_Z_SQL = (
    "WITH s AS (SELECT event_id, event_type, value, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER "
    "(PARTITION BY event_type) AS BIGINT) AS s1, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * "
    "CAST(ROUND(value * 100) AS BIGINT)) OVER "
    "(PARTITION BY event_type) AS BIGINT) AS s2, "
    "COUNT(*) OVER (PARTITION BY event_type) AS n FROM events) "
    "SELECT event_id, event_type, "
    "CASE WHEN (s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n) / (n - 1) > 0 "
    "THEN (value - s1 / (n * 100.0)) / "
    "sqrt((s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n) / (n - 1)) "
    "ELSE 0.0 END AS zscore FROM s"
)


@register(
    "salted_join_skewed",
    # salted_join's contract: row-identical to the plain equi-join —
    # the salt only rewrites the shuffle key. The oracle IS the plain
    # join, so the determinism contract is hash-checked end to end.
    "SELECT e.event_id, e.user_id, e.event_type, "
    "CAST(EXTRACT(hour FROM e.ts) AS INT) AS hr "
    "FROM events e JOIN (SELECT DISTINCT event_type FROM events) d "
    "USING (event_type)",
)
def salted_join_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join on a genuinely skewed key
    (event_type: 5 distinct values over the whole table — every key
    is a hot key). The salt spreads each hot key across 16 shuffle
    partitions; output is row-identical to the unsalted join, which
    is exactly what the oracle checks."""
    events = load_table(spark, sf_dir, "events")
    dim = events.select("event_type").distinct()
    joined = R.salted_join(events, dim, "event_type", n_salts=16)
    return joined.select(
        "event_id", "user_id", "event_type",
        F.hour("ts").cast("int").alias("hr"),
    )


@register("zscore_per_type", _Z_SQL)
def zscore_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped normalization (z-score per event_type) via unordered
    analytic windows. mean/var derive from integer-scaled first and
    second moments (exact in any aggregation order), so z is the same
    double in both engines — stddev_samp() directly would diverge
    cross-engine. The applyInPandas twin (grouped-map UDF surface,
    SURVEY §2.9) is pytest-checked against this plan."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    sc = F.round(F.col("value") * 100).cast("long")
    s1 = F.sum(sc).over(w)
    s2 = F.sum(sc * sc).over(w)
    n = F.count(F.lit(1)).over(w)
    var = (s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n) / (n - 1)
    mean = s1 / (n * 100.0)
    z = F.when(var > 0, (F.col("value") - mean) / F.sqrt(var)).otherwise(0.0)
    return events.select("event_id", "event_type", z.alias("zscore"))


