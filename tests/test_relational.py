"""Relational operator builders vs pandas/python oracles."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F  # noqa: F401

from bbcnews_scraper_nlp_spark.operators import relational as R


def test_rolling_mean_min_periods_matches_pandas(spark):
    vals = [float(x) for x in [5, 3, 8, 1, 9, 2, 7, 4, 6, 0, 11, 13]]
    pdf = pd.DataFrame({"d": range(len(vals)), "v": vals})
    expected = pdf["v"].rolling(window=4).mean().tolist()

    df = spark.createDataFrame(pdf)
    out = (
        R.rolling_mean_min_periods(df, "d", ["v"], window_rows=4)
        .orderBy("d")
        .collect()
    )
    got = [r["rolling_v"] for r in out]
    for g, e in zip(got, expected):
        if pd.isna(e):
            assert g is None
        else:
            assert abs(g - e) < 1e-12


def test_dedup_keep_first_deterministic(spark):
    rows = [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (2, 9, "d"), (3, 1, "e")]
    df = spark.createDataFrame(rows, "k int, ord int, v string")
    out = R.dedup_keep_first(df, ["k"], [F.col("ord")]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "b"), (2, "c"), (3, "e")]


def test_top_n_with_tiebreak(spark):
    rows = [(i, i % 3) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, v int")
    out = R.top_n(df, [F.desc("v"), F.col("id")], 4).collect()
    assert [(r["v"], r["id"]) for r in out] == [(2, 2), (2, 5), (2, 8), (2, 11)]


def test_argmax_array_first_occurrence(spark):
    df = spark.createDataFrame([([0.1, 0.5, 0.5, 0.2],)], "arr array<double>")
    idx, mx = R.argmax_array(F.col("arr"))
    r = df.select(idx.alias("i"), mx.alias("m")).first()
    assert r["i"] == 1 and r["m"] == 0.5


def test_union_dedup(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    b = spark.createDataFrame([(2, "y2"), (3, "z")], "k int, v string")
    out = R.union_dedup(a, b, ["k"], [F.col("v")]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "x"), (2, "y"), (3, "z")]


def test_asof_join_matches_pandas_merge_asof(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    lrows = [(i, 1 + i % 2, base + dt.timedelta(minutes=m)) for i, m in enumerate([5, 12, 3, 40, 41])]
    rrows = [(1 + j % 2, base + dt.timedelta(minutes=m), float(m)) for j, m in enumerate([1, 4, 10, 39])]
    left = spark.createDataFrame(lrows, "event_id long, k int, ts timestamp")
    right = spark.createDataFrame(rrows, "k int, ts timestamp, value double")
    got = {
        r["event_id"]: r["asof_value"]
        for r in R.asof_join(left, right, "k", "ts", "ts", ["value"]).collect()
    }
    lpdf = pd.DataFrame(lrows, columns=["event_id", "k", "ts"]).sort_values("ts")
    rpdf = pd.DataFrame(rrows, columns=["k", "ts", "value"]).sort_values("ts")
    exp = pd.merge_asof(lpdf, rpdf, on="ts", by="k")
    for _, row in exp.iterrows():
        e = row["value"]
        g = got[row["event_id"]]
        if pd.isna(e):
            assert g is None
        else:
            assert g == e


def test_sessionize(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session
        (1, base + dt.timedelta(minutes=50)),   # gap 40 > 30 -> new
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = R.sessionize(df, "user_id", "ts").collect()
    sessions = {(r["user_id"], r["ts"]): r["session_id"] for r in out}
    assert sessions[(1, rows[0][1])] == 1
    assert sessions[(1, rows[1][1])] == 1
    assert sessions[(1, rows[2][1])] == 2
    assert sessions[(2, rows[3][1])] == 1


def test_anti_join_new(spark):
    new = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "url string")
    seen = spark.createDataFrame([("u2",)], "url string")
    out = R.anti_join_new(new, seen, "url").collect()
    assert sorted(r["url"] for r in out) == ["u1", "u3"]


def test_grouped_zscore_pandas_matches_window(spark):
    rows = [(i, "t" + str(i % 2), float(i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {
        r["event_id"]: r["zscore"]
        for r in R.grouped_zscore_pandas(df, "event_type", "value").collect()
    }
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    pdf["z"] = pdf.groupby("event_type")["value"].transform(
        lambda s: (s - s.mean()) / s.std(ddof=1)
    )
    for _, row in pdf.iterrows():
        assert abs(got[row["event_id"]] - row["z"]) < 1e-9


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.relational import salted_join

    # 90% of fact rows hit one hot key
    fact = spark.range(0, 5000).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 11).alias("attr")
    )
    plain = {(r["id"], r["k"], r["attr"]) for r in fact.join(dim, "k").collect()}
    salted = {
        (r["id"], r["k"], r["attr"])
        for r in salted_join(fact, dim, "k", n_salts=8).collect()
    }
    assert salted == plain and len(plain) == 5000
    # left join preserves unmatched fact rows exactly once
    dim_holey = dim.filter(F.col("k") != 7)
    left = salted_join(fact, dim_holey, "k", n_salts=8, how="left").collect()
    assert len(left) == 5000
    assert sum(1 for r in left if r["attr"] is None) == 4500


def test_column_profile_counts(spark):
    from bbcnews_scraper_nlp_spark.operators.profiling import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "k long, v string"
    )
    out = {r["column_name"]: r for r in column_profile(df, ["k", "v"]).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 3
    assert (out["k"]["min_str"], out["k"]["max_str"]) == ("1", "3")
    assert out["v"]["n_distinct"] == 2 and out["v"]["n_nulls"] == 1
    # approx path returns the same shape
    approx = column_profile(df, ["k"], exact_distinct=False).first()
    assert approx["n_distinct"] >= 1


def test_grouped_quantiles_exact(spark):
    from bbcnews_scraper_nlp_spark.operators.profiling import grouped_quantiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 6)] + [("b", 10.0), ("b", 20.0)],
        "g string, x double",
    )
    out = {r["g"]: r for r in grouped_quantiles(df, "x", ["g"], [0.5]).collect()}
    assert out["a"]["p50"] == 3.0
    assert out["b"]["p50"] == 15.0  # interpolated midpoint


def test_range_join_binned_matches_naive(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.relational import range_join_binned

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(k, base + dt.timedelta(hours=h, minutes=m))
         for k in ("a", "b")
         for h in range(0, 72, 5)
         for m in (0, 17, 59)],
        "key string, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("a", base, base + dt.timedelta(hours=7)),
            ("a", base + dt.timedelta(hours=30),
             base + dt.timedelta(hours=30, minutes=17)),
            ("b", base + dt.timedelta(hours=1),
             base + dt.timedelta(hours=49)),
            ("b", base + dt.timedelta(hours=71),
             base + dt.timedelta(hours=100)),
        ],
        "key string, w_start timestamp, w_end timestamp",
    )

    # keyless and keyed, several bin widths incl. ones smaller and
    # larger than every interval
    for bin_s in (3600, 6 * 3600, 86400, 7 * 86400):
        for key in (None, "key"):
            got = range_join_binned(
                pts, "ts", ivs.withColumnRenamed("key", "ikey")
                if key is None else ivs,
                "w_start", "w_end", bin_seconds=bin_s, key=key,
            )
            cond = (F.col("ts") >= F.col("w_start")) & (
                F.col("ts") < F.col("w_end")
            )
            if key is None:
                naive = pts.crossJoin(
                    ivs.withColumnRenamed("key", "ikey")
                ).filter(cond)
                gs = {(r["key"], r["ts"], r["ikey"], r["w_start"])
                      for r in got.collect()}
                ns = {(r["key"], r["ts"], r["ikey"], r["w_start"])
                      for r in naive.collect()}
            else:
                naive = pts.alias("p").join(
                    ivs.alias("i"),
                    (F.col("p.key") == F.col("i.key")) & cond,
                ).select(
                    F.col("p.key").alias("key"), "ts", "w_start", "w_end"
                )
                gs = {(r["key"], r["ts"], r["w_start"])
                      for r in got.select("key", "ts", "w_start").collect()}
                ns = {(r["key"], r["ts"], r["w_start"])
                      for r in naive.select("key", "ts", "w_start").collect()}
            assert gs == ns, f"bin={bin_s} key={key}"
            assert len(gs) > 0


def test_queries_survive_no_broadcast(spark, sf_dir):
    """At 100 TB the dimension sides stop fitting the broadcast
    threshold and every BroadcastHashJoin in our audited plans turns
    into SMJ/shuffle-hash. Simulate that world (threshold -1) and
    assert the join-heavy queries return row-identical results —
    i.e. correctness is plan-shape-independent."""
    from pyspark.sql import functions as F  # noqa: F401

    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    names = [
        "tpch_q3_top_revenue",
        "tpch_q7_volume_shipping",
        "tpch_q17_small_qty_revenue",
        "tpch_q22_dormant_customers",
        "range_join_ship_window",
        "asof_join_last_view",
        "j_multiway_region_count",
    ]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name in names:
            with_bc = {
                tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect()
            }
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            without = {
                tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect()
            }
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            assert with_bc == without, name
            # q7's two-nation pair set is legitimately empty at sf0.001
            if name != "tpch_q7_volume_shipping":
                assert len(with_bc) > 0, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_semi_join_exact_and_superset(spark, sf_dir):
    """bloom_semi_join: exact mode is row-identical to the plain
    left_semi join; bloom-only mode is a superset with NO false
    negatives and a sane false-positive rate."""
    from bbcnews_scraper_nlp_spark.operators import relational as R

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (
        orders.filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    exact = {
        tuple(r)
        for r in li.join(keys, "l_orderkey", "left_semi").collect()
    }
    got = {
        tuple(r)
        for r in R.bloom_semi_join(li, keys, "l_orderkey").collect()
    }
    assert got == exact

    maybe = {
        tuple(r)
        for r in R.bloom_semi_join(
            li, keys, "l_orderkey", exact=False
        ).collect()
    }
    assert maybe >= exact  # no false negatives, ever
    n_all = li.count()
    # fp rate among true negatives stays small at default sizing
    fp = (len(maybe) - len(exact)) / max(n_all - len(exact), 1)
    assert fp < 0.02, fp

    # tiny bitmap forces false positives but exact mode still holds
    small = {
        tuple(r)
        for r in R.bloom_semi_join(
            li, keys, "l_orderkey", n_bits=1 << 10
        ).collect()
    }
    assert small == exact


def test_hll_sketches_merge_and_bound(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.operators.profiling import (
        distinct_sketches,
        merge_sketches,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = distinct_sketches(ev, "user_id", [F.to_date("ts").alias("day")])
    sk.cache()
    exact = ev.select("user_id").distinct().count()
    # union of per-day sketches estimates the global cardinality
    union_est = merge_sketches(sk).collect()[0]["n_distinct_est"]
    assert abs(union_est - exact) / exact < 0.05
    # single global sketch agrees with the union of its parts
    global_est = merge_sketches(
        distinct_sketches(ev, "user_id", [])
    ).collect()[0]["n_distinct_est"]
    assert union_est == global_est
    # per-day estimates bounded too
    per_day = {r["day"]: r["n_distinct_est"] for r in merge_sketches(sk, ["day"]).collect()}
    exact_day = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for d, n in exact_day.items():
        assert abs(per_day[d] - n) / max(n, 1) < 0.1


def test_heavy_hitters_exact_and_guarantee(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.operators.profiling import approx_heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    support = 0.01
    got = [(r[0], r["cnt"]) for r in approx_heavy_hitters(ev, "event_type", support).collect()]
    n = ev.count()
    exact = [
        (r["event_type"], r["c"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > support * n)
        .orderBy(F.desc("c"), "event_type")
        .collect()
    ]
    assert got == exact


def test_heavy_hitters_times_mean_mode(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.operators.profiling import approx_heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    got = [
        (r[0], r["cnt"])
        for r in approx_heavy_hitters(ev, "user_id", times_mean=(11, 10)).collect()
    ]
    n = ev.count()
    n_users = ev.select("user_id").distinct().count()
    exact = [
        (r["user_id"], r["c"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * 10 * n_users > 11 * n)
        .orderBy(F.desc("c"), "user_id")
        .collect()
    ]
    assert got == exact
    assert len(got) > 0  # scale-invariant threshold stays non-trivial


def test_bloom_persistence_incremental_dedup(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.operators.relational import (
        filter_unseen,
        merge_bloom,
        save_bloom,
    )

    path = str(tmp_path / "seen_bloom")
    run1 = spark.createDataFrame([(i,) for i in range(200)], "k long")
    save_bloom(run1, "k", path, n_bits=1 << 16)

    run2 = spark.createDataFrame([(i,) for i in range(150, 350)], "k long")
    # without the exact store: no false negatives — every returned key
    # is truly new, and seen keys never leak through
    got = {r["k"] for r in filter_unseen(run2, "k", path).collect()}
    true_new = set(range(200, 350))
    assert got <= true_new
    # with the exact store: exact recovery of fp-flagged rows
    exact = {
        r["k"] for r in filter_unseen(run2, "k", path, exact_seen=run1).collect()
    }
    assert exact == true_new

    # fold run2 into the filter: now both runs' keys are 'seen'
    merge_bloom(spark, path, run2, "k")
    run3 = spark.createDataFrame([(i,) for i in range(300, 400)], "k long")
    both = run1.unionByName(run2)
    exact3 = {
        r["k"] for r in filter_unseen(run3, "k", path, exact_seen=both).collect()
    }
    assert exact3 == set(range(350, 400))
    # bloom_semi_join contract intact after the refactor
    from bbcnews_scraper_nlp_spark.operators.relational import bloom_semi_join

    semi = bloom_semi_join(run2, run1, "k", n_bits=1 << 16).collect()
    assert {r["k"] for r in semi} == set(range(150, 200))


def test_prefix_sum_two_level_matches_naive_window(spark):
    from bbcnews_scraper_nlp_spark.operators.relational import (
        prefix_sum_two_level,
    )

    rows = [(i * 3 + 1, (i * 17) % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(7)
    got = {
        r["k"]: r["prefix"]
        for r in prefix_sum_two_level(df, "k", "v", buckets=4).collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        want[k] = acc
        acc += v
    assert got == want


def test_prefix_sum_two_level_single_bucket_degenerate(spark):
    from bbcnews_scraper_nlp_spark.operators.relational import (
        prefix_sum_two_level,
    )

    df = spark.createDataFrame([(5, 10), (9, 1), (2, 7)], "k long, v long")
    got = {
        r["k"]: r["prefix"]
        for r in prefix_sum_two_level(df, "k", "v", buckets=256).collect()
    }
    assert got == {2: 0, 5: 7, 9: 17}


def test_incremental_agg_maintenance_handles_group_moves(spark):
    """base + CDC delta must equal the direct aggregate over the new
    snapshot even when an update moves a key BETWEEN groups."""
    from bbcnews_scraper_nlp_spark.queries import REGISTRY
    import duckdb

    got = {
        r["pri"]: (r["n_orders"], r["total_cents"])
        for r in REGISTRY["incremental_agg_maintenance"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        "'/root/testdata/sf0.001/orders.parquet'"
    )
    want = {
        pri: (n, c)
        for pri, n, c in con.execute(
            REGISTRY["incremental_agg_maintenance"].sql
        ).fetchall()
    }
    assert got == want

    # synthetic group-move: key 1 moves from group a to group b —
    # exercised through the SHARED operator the production query uses
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.relational import (
        cdc_delta_contributions,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k long, pri string, cents long"
    )
    new = spark.createDataFrame(
        [(1, "b", 11), (2, "a", 20), (4, "b", 40)], "k long, pri string, cents long"
    )
    delta = cdc_delta_contributions(old, new, "k", "pri", "cents")
    base = old.groupBy("pri").agg(
        F.count("*").alias("bn"), F.sum("cents").alias("bc")
    )
    merged = {
        r["pri"]: (r["n"], r["c"])
        for r in base.join(delta, "pri", "full_outer")
        .select(
            "pri",
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("bc", F.lit(0)) + F.coalesce("dv", F.lit(0))).alias("c"),
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    direct = {
        r["pri"]: (r["n"], r["c"])
        for r in new.groupBy("pri")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("c"))
        .collect()
    }
    assert merged == direct  # a: (1,20); b: (2,51)


def test_cdc_delta_null_groups(spark):
    """NULL is a legal group value: inserts/deletes into the NULL
    group contribute, and NULL<->non-NULL group moves are detected
    (null-safe change predicate + presence flags, not group-null
    filtering)."""
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.relational import (
        cdc_delta_contributions,
    )

    old = spark.createDataFrame(
        [
            (1, None, 10),  # NULL -> 'a' move, value unchanged
            (2, None, 20),  # stays NULL, value unchanged -> no delta
            (3, "a", 30),   # 'a' -> NULL move
            (4, None, 40),  # deleted from the NULL group
        ],
        "k long, pri string, cents long",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, None, 20),
            (3, None, 30),
            (5, None, 50),  # inserted into the NULL group
        ],
        "k long, pri string, cents long",
    )
    delta = {
        r["pri"]: (r["dn"], r["dv"])
        for r in cdc_delta_contributions(old, new, "k", "pri", "cents").collect()
    }
    # NULL group: -k1(10) +k3(30) -k4(40) +k5(50) = net 0 rows, +30
    assert delta[None] == (0, 30)
    # 'a' group: +k1(10) -k3(30) = net 0 rows, -20 cents
    assert delta["a"] == (0, -20)
    # base + delta == direct aggregate, NULL group included (the
    # merge itself must be null-safe too or the NULL group forks)
    base = old.groupBy("pri").agg(
        F.count("*").alias("bn"), F.sum("cents").alias("bc")
    ).withColumnRenamed("pri", "bp")
    d = cdc_delta_contributions(old, new, "k", "pri", "cents").withColumnRenamed(
        "pri", "dp"
    )
    merged = {
        r["pri"]: (r["n"], r["c"])
        for r in base.join(d, F.col("bp").eqNullSafe(F.col("dp")), "full_outer")
        .select(
            F.coalesce("bp", "dp").alias("pri"),
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("bc", F.lit(0)) + F.coalesce("dv", F.lit(0))).alias("c"),
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    direct = {
        r["pri"]: (r["n"], r["c"])
        for r in new.groupBy("pri")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("c"))
        .collect()
    }
    assert merged == direct


def test_skyline_2d_matches_bruteforce_dominance(spark):
    from bbcnews_scraper_nlp_spark.operators.relational import skyline_2d

    rows = [
        (i, (i * 37) % 101, (i * 61) % 53)  # ids with pseudo-random dims
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, c long, s long").repartition(7)
    got = {r["id"] for r in skyline_2d(df, "c", "s", buckets=8).collect()}
    want = {
        i
        for i, c, s in rows
        if not any(
            (c2 <= c and s2 >= s and (c2 < c or s2 > s))
            for _, c2, s2 in rows
        )
    }
    assert got == want and got  # non-empty frontier, exact match


def test_skyline_2d_keeps_exact_duplicates(spark):
    from bbcnews_scraper_nlp_spark.operators.relational import skyline_2d

    df = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 5), (3, 20, 4)], "id long, c long, s long"
    )
    got = {r["id"] for r in skyline_2d(df, "c", "s").collect()}
    assert got == {1, 2}  # duplicates both kept; (3) dominated


def test_ols_trend_matches_numpy_lstsq(spark):
    import numpy as np

    from bbcnews_scraper_nlp_spark.queries import REGISTRY
    import duckdb

    rows = REGISTRY["ols_trend_per_type"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    pts = con.execute(
        "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y FROM events "
        "GROUP BY 1, 2), mn AS (SELECT MIN(day) AS d0 FROM daily) "
        "SELECT event_type, (day - d0) AS x, y FROM daily, mn"
    ).fetchall()
    for r in rows:
        xs = np.array([x for t, x, y in pts if t == r["event_type"]], float)
        ys = np.array([y for t, x, y in pts if t == r["event_type"]], float)
        slope, intercept = np.polyfit(xs, ys, 1)
        # integer-rational result truncates toward zero at ppm/milli
        assert abs(r["slope_ppm"] / 1e6 - slope) < 1e-3, r
        assert abs(r["intercept_milli"] / 1e3 - intercept) < 1e-2, r


def test_range_bucket_spreads_high_magnitude_keys(spark):
    # epoch-microsecond-scale keys with a small span must still
    # spread across buckets (raw-key bucketing degenerates to ONE)
    from bbcnews_scraper_nlp_spark.operators.relational import _range_bucket

    base = 3_408_134_422_344_850
    df = spark.createDataFrame(
        [(base + i * 1_000_000,) for i in range(1000)], "k long"
    )
    n = _range_bucket(df, "k", 256).select("__bucket").distinct().count()
    assert n > 200, f"only {n} buckets used"


def test_concurrency_sweep_counts_midnight_carry_in(spark):
    """A day living entirely inside long sessions must report the
    carried-in concurrency, not miss it (no boundary falls inside)."""
    import duckdb

    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["day_idx"]: r["max_concurrent"]
        for r in REGISTRY["concurrent_sessions_sweep"].fn(spark, sf).collect()
    }
    con = duckdb.connect()
    ivs = con.execute(
        f"WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM "
        f"'{sf}/events.parquet'), "
        "g AS (SELECT user_id, us, CASE WHEN us - lag(us) OVER "
        "(PARTITION BY user_id ORDER BY us) IS NULL OR us - lag(us) "
        "OVER (PARTITION BY user_id ORDER BY us) > 1800000000 "
        "THEN 1 ELSE 0 END AS is_new FROM e), "
        "s AS (SELECT user_id, us, SUM(is_new) OVER "
        "(PARTITION BY user_id ORDER BY us) AS sid FROM g) "
        "SELECT MIN(us), MAX(us) FROM s GROUP BY user_id, sid"
    ).fetchall()
    DAY = 86_400_000_000
    events = sorted(
        [(a, 1) for a, _ in ivs] + [(b + 1, -1) for _, b in ivs]
    )  # end offset +1us emulates the end-after-start tie rule closely
    # literal sweep: walk boundaries, track per-day peak incl. carry-in
    want: dict[int, int] = {}
    conc = 0
    prev_us = None
    for us, delta in events:
        if prev_us is not None:
            d0, d1 = prev_us // DAY, us // DAY
            for d in range(d0 + 1, d1 + 1):  # midnights crossed at conc
                want[d] = max(want.get(d, 0), conc)
        conc += delta
        want[us // DAY] = max(want.get(us // DAY, 0), conc)
        prev_us = us
    assert got == want


def test_prefix_sum_two_level_negative_keys(spark):
    # min-normalized bucketing must handle negative integral keys
    from bbcnews_scraper_nlp_spark.operators.relational import (
        prefix_sum_two_level,
    )

    rows = [(i * 13 - 900, (i * 7) % 5 + 1) for i in range(140)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(5)
    got = {
        r["k"]: r["prefix"]
        for r in prefix_sum_two_level(df, "k", "v", buckets=8).collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        want[k] = acc
        acc += v
    assert got == want


def test_cms_overestimates_and_wide_sketch_is_exact(spark):
    from bbcnews_scraper_nlp_spark.operators.profiling import (
        build_cms,
        cms_estimate,
    )

    rows = [(f"k{i % 37}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string").repartition(7)
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    probes = df.select("k").distinct()

    # narrow sketch: collisions expected, but NEVER an underestimate
    narrow = build_cms(df, "k", depth=3, width=8)
    est_n = {r["k"]: r["est_count"] for r in cms_estimate(
        narrow, probes, "k", depth=3, width=8).collect()}
    assert set(est_n) == set(exact)
    assert all(est_n[k] >= exact[k] for k in exact)

    # wide sketch (width >> n_keys * depth): no collisions -> exact
    wide = build_cms(df, "k", depth=5, width=4096)
    est_w = {r["k"]: r["est_count"] for r in cms_estimate(
        wide, probes, "k", depth=5, width=4096).collect()}
    assert est_w == exact


def test_cms_sketches_merge_cellwise(spark):
    # counter tables from two shards sum cell-wise to the sketch of
    # the union -- the incremental/mergeable contract at scale
    from bbcnews_scraper_nlp_spark.operators.profiling import build_cms

    a = spark.createDataFrame([(f"k{i % 11}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"k{i % 17}",) for i in range(500)], "k string")
    merged = (
        build_cms(a, "k", depth=3, width=32)
        .unionAll(build_cms(b, "k", depth=3, width=32))
        .groupBy("row_i", "col_j")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = build_cms(a.unionAll(b), "k", depth=3, width=32)
    got = {(r["row_i"], r["col_j"]): r["cnt"] for r in merged.collect()}
    want = {(r["row_i"], r["col_j"]): r["cnt"] for r in whole.collect()}
    assert got == want


def test_two_level_rank_matches_global_row_number(spark):
    # duplicate and negative bucket keys (the order columns break the
    # ties), and a table whose key takes a single value (zero span)
    from pyspark.sql import Window

    from bbcnews_scraper_nlp_spark.operators.relational import two_level_rank

    mixed = [((i * 37) % 23 - 11, i) for i in range(150)]
    single = [(4, i) for i in range(9)]
    for rows in (mixed, single):
        df = spark.createDataFrame(rows, "k long, id long").repartition(5)
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy("k", "id")).alias("rn")
            ).collect()
        }
        for buckets in (1, 4, 256):
            got = {
                r["id"]: r["rank"]
                for r in two_level_rank(
                    df, F.col("k"), ["k", "id"], buckets=buckets
                ).collect()
            }
            assert got == want, (len(rows), buckets)
