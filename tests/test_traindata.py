"""Training-corpus preparation operators (operators/traindata.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.operators import traindata as TD


def test_deterministic_split_partitions_and_ratios(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = TD.deterministic_split(df, "doc_id").groupBy("split").count()
    counts = {r["split"]: r["count"] for r in out.collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000  # partition: every row exactly one split
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # roughly 80/10/10 (hash buckets are uniform-ish)
    assert 0.7 < counts["train"] / 2000 < 0.9


def test_deterministic_split_stable_under_repartition(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {
        (r["doc_id"], r["split"])
        for r in TD.deterministic_split(df, "doc_id").collect()
    }
    b = {
        (r["doc_id"], r["split"])
        for r in TD.deterministic_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b


def test_contamination_detects_planted_ngram(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox jumps right out"),
            (2, "totally unrelated content about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    out = TD.contamination(docs, bench, "doc_id", "text", n=5).collect()
    assert [r["doc_id"] for r in out] == [1]
    r = out[0]
    # "the quick brown fox jumps" is the single shared 5-gram
    assert r["contaminated_ngrams"] == 1
    assert r["total_ngrams"] == 6
    assert abs(r["contamination_ratio"] - round(1 / 6, 6)) < 1e-9


def test_pii_scrub_rules(spark):
    df = spark.createDataFrame(
        [
            (
                "mail a.smith+x@sub.example.co.uk or 192.168.0.1 "
                "card 1234567890123 short 12345678 done"
            )
        ],
        "string",
    ).toDF("text")
    out = df.select(TD.pii_scrub(F.col("text")).alias("s")).first()["s"]
    assert "<EMAIL>" in out and "@" not in out
    assert "<IP>" in out and "192.168" not in out
    assert "<ID>" in out and "1234567890123" not in out
    assert "12345678" in out  # 8 digits: below the 9-digit redaction floor


def test_pack_sequences_matches_sequential_reference(spark):
    rows = [(i, 10 + (i * 37) % 300) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = TD.pack_sequences(df, "doc_id", "n_tokens", budget=512, shards=4).collect()
    got = {r["doc_id"]: (r["shard"], r["bin"]) for r in out}
    assert len(got) == 200
    # python reference: same shard hash, concat-and-chunk per shard
    shard_of = {
        r["doc_id"]: r["shard"]
        for r in df.select(
            "doc_id", TD.hash_bucket(F.col("doc_id"), 4).alias("shard")
        ).collect()
    }
    cum: dict[int, int] = {}
    for doc_id, n_tokens in sorted(rows):
        s = shard_of[doc_id]
        before = cum.get(s, 0)
        assert got[doc_id] == (s, before // 512), doc_id
        cum[s] = before + n_tokens


def test_stratified_sample_deterministic_and_ratioed(spark):
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    out = TD.stratified_sample(
        df, "source", {"s0": 0.5, "s1": 0.1}, "doc_id"
    )
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["s0"] / 2000 - 0.5) < 0.05
    assert abs(counts["s1"] / 2000 - 0.1) < 0.03
    # determinism: identical kept set under different partitioning
    again = TD.stratified_sample(
        df.repartition(13), "source", {"s0": 0.5, "s1": 0.1}, "doc_id"
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_deterministic_shuffle_total_order_and_epochs(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    s1 = TD.deterministic_shuffle(df, "doc_id", shards=16)
    # every row exactly once, positions contiguous from 1 per shard
    rows = s1.collect()
    assert len(rows) == 1000
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # same salt -> identical order; different salt -> different order
    s1b = TD.deterministic_shuffle(df.repartition(7), "doc_id", shards=16)
    key = lambda d: sorted((r["doc_id"], r["shard"], r["shard_pos"]) for r in d.collect())
    assert key(s1) == key(s1b)
    s2 = TD.deterministic_shuffle(df, "doc_id", shards=16, salt="epoch-2")
    assert key(s1) != key(s2)


def test_repetition_stats_known_values(spark):
    from bbcnews_scraper_nlp_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # top share 1.0; bigrams all "a a" -> dup 2/3
            (2, "a b c d"),          # top share 0.25; 3 distinct bigrams -> 0.0
            (3, "x"),                # no bigrams -> 0.0
        ],
        "doc_id long, text string",
    )
    top, dup = repetition_stats(F.col("text"))
    got = {
        r["doc_id"]: (r["t"], r["d"])
        for r in df.select("doc_id", top.alias("t"), dup.alias("d")).collect()
    }
    assert got[1][0] == 1.0 and abs(got[1][1] - 2 / 3) < 1e-9
    assert got[2] == (0.25, 0.0)
    assert got[3] == (1.0, 0.0)


def test_approx_aggregates_error_bounds(spark, sf_dir):
    """The approx queries now certify their own error bounds in-row
    (deterministic-bound oracles): every bound boolean must be True
    and the carried exact values must equal the exact twins. The raw
    HLL estimate is additionally re-checked here against a TIGHTER
    envelope than the certified one (5% vs the query's 10%) so a
    quietly degrading sketch shows up in pytest before it ever
    threatens the oracle bound."""
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    exact = {
        r["event_type"]: r["n_users"]
        for r in REGISTRY["distinct_users_per_type"].fn(spark, sf_dir).collect()
    }
    rows = REGISTRY["approx_distinct_users"].fn(spark, sf_dir).collect()
    assert set(exact) == {r["event_type"] for r in rows}
    for r in rows:
        assert r["hll_within_tol"] is True
        assert r["n_users_exact"] == exact[r["event_type"]]
    # tighter direct re-check of the raw estimate
    ev = load_table(spark, sf_dir, "events")
    approx = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(2.0, 0.05 * n)

    qrows = REGISTRY["approx_price_quantiles"].fn(spark, sf_dir).collect()
    assert {(r["l_returnflag"], r["p_pct"]) for r in qrows} == {
        (f, p) for f in {r["l_returnflag"] for r in qrows} for p in (25, 50, 75)
    }
    assert all(r["rank_ok"] is True for r in qrows)
    # direct value re-check of the raw GK output vs exact quantiles
    exactq = {
        r["l_returnflag"]: r
        for r in REGISTRY["price_quantiles"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    approxq = {
        r["l_returnflag"]: r["qs"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.25, 0.5, 0.75], 10_000
            ).alias("qs")
        )
        .collect()
    }
    for flag, row in exactq.items():
        for i, col in enumerate(["p25", "p50", "p75"]):
            rel = abs(approxq[flag][i] - row[col]) / max(abs(row[col]), 1e-9)
            assert rel < 0.02, (flag, col, approxq[flag][i], row[col])

    srows = REGISTRY["sketch_distinct_users_daily"].fn(spark, sf_dir).collect()
    assert len(srows) > 0
    assert all(r["sketch_within_tol"] is True for r in srows)


def test_prepare_corpus_equals_stagewise(spark, sf_dir):
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.functions.text_clean import ALL_STOPWORDS
    from bbcnews_scraper_nlp_spark.functions.tokenize import token_count
    from bbcnews_scraper_nlp_spark.operators import textstats as TS
    from bbcnews_scraper_nlp_spark.operators.dedup import exact_dedup
    from bbcnews_scraper_nlp_spark.operators.traindata import (
        contamination,
        deterministic_split,
        pii_scrub,
    )
    from bbcnews_scraper_nlp_spark.plans.corpus import prepare_training_corpus

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)

    got = prepare_training_corpus(train, bench, contamination_n=3).select(
        "doc_id", "lang_detected", "quality", "n_tokens", "split"
    )

    # stage-by-stage twin using the individually verified operators
    toks = F.split(F.col("text"), " ")
    step = train.withColumn("lang_detected", TS.detect_language(toks))
    step = step.filter(F.col("lang_detected") == "en")
    step = step.filter(
        TS.quality_score(F.col("text"), list(ALL_STOPWORDS)) >= 0.5
    )
    top_share, dup_frac = TS.repetition_stats(F.col("text"))
    step = step.filter((top_share <= 0.5) & (dup_frac <= 0.5))
    step = exact_dedup(step, "text", "doc_id")
    dirty = contamination(step, bench, "doc_id", "text", n=3).filter(
        F.col("contamination_ratio") > 0.2
    )
    step = step.join(
        dirty.select(F.col("doc_id").alias("d")),
        F.col("doc_id") == F.col("d"),
        "left_anti",
    )
    step = step.withColumn("text", pii_scrub(F.col("text")))
    step = step.withColumn(
        "quality", TS.quality_score(F.col("text"), list(ALL_STOPWORDS))
    ).withColumn("n_tokens", token_count(F.col("text")))
    expect = deterministic_split(step, "doc_id").select(
        "doc_id", "lang_detected", "quality", "n_tokens", "split"
    )

    got_rows = {tuple(r) for r in got.collect()}
    exp_rows = {tuple(r) for r in expect.collect()}
    assert len(got_rows) > 0
    assert got_rows == exp_rows
    # determinism: running the plan twice yields identical output
    again = {
        tuple(r)
        for r in prepare_training_corpus(train, bench, contamination_n=3)
        .select("doc_id", "lang_detected", "quality", "n_tokens", "split")
        .collect()
    }
    assert again == got_rows


def test_corpus_write_partitioned_by_split_roundtrip(spark, sf_dir, tmp_path):
    """The full materialization path a training run uses: prepare the
    corpus, lay it out partitioned by split, read one split back with
    partition pruning — and get exactly the rows the plan said."""
    import os

    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.catalog import load_table
    from bbcnews_scraper_nlp_spark.plans.corpus import prepare_training_corpus
    from bbcnews_scraper_nlp_spark.sources.stage_io import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    corpus = prepare_training_corpus(docs)
    out = str(tmp_path / "corpus")
    write_partitioned(corpus, out, ["split"])

    assert sorted(
        d for d in os.listdir(out) if d.startswith("split=")
    ) == ["split=test", "split=train", "split=val"]

    back = spark.read.parquet(out)
    train = back.filter(F.col("split") == "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan

    expect = {
        r["doc_id"] for r in corpus.filter(F.col("split") == "train")
        .select("doc_id").collect()
    }
    got = {r["doc_id"] for r in train.select("doc_id").collect()}
    assert got == expect
    assert len(got) > 0


def test_mix_sources_rates_and_determinism(spark):
    from bbcnews_scraper_nlp_spark.operators.traindata import mix_sources

    rows = [(i, f"src{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_sources(
        df, "source", "doc_id", {"src0": 1.0, "src1": 0.5}, default_weight=0.0
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    assert by_src.get("src0") == 1000          # weight 1.0 keeps all
    assert 400 <= by_src.get("src1", 0) <= 600  # ~0.5 of 1000
    assert "src2" not in by_src and "src3" not in by_src  # default 0
    # deterministic: second run identical
    again = mix_sources(
        df, "source", "doc_id", {"src0": 1.0, "src1": 0.5}, default_weight=0.0
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_select_token_budget_cutoff_and_first_row(spark):
    from bbcnews_scraper_nlp_spark.operators.traindata import select_token_budget

    df = spark.createDataFrame(
        [(1, 50, 9.0), (2, 40, 8.0), (3, 30, 7.0), (4, 100, 6.0)],
        "doc_id long, n_tokens long, score double",
    )
    kept = select_token_budget(df, "n_tokens", "score", "doc_id", budget=100)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]  # 50+40<=100, +30 overflows
    # first-row guarantee: a single doc larger than the budget is kept
    one = spark.createDataFrame([(9, 500, 1.0)], "doc_id long, n_tokens long, score double")
    assert [r["doc_id"] for r in select_token_budget(one, "n_tokens", "score", "doc_id", 100).collect()] == [9]


def test_perplexity_buckets_semantics(spark):
    from bbcnews_scraper_nlp_spark.operators.textstats import (
        perplexity_quality,
    )

    # 9 docs of corpus-typical text + 3 of unique gibberish: the
    # gibberish bigrams are all singletons -> highest cross-entropy ->
    # tail bucket; typical docs head/middle. One-token doc excluded.
    typical = [(i, "the cat sat on the mat and the cat sat") for i in range(9)]
    rare = [
        (100, "zyx wvu tsr qpo nml"),
        (101, "abc bcd cde def efg"),
        (102, "qq ww ee rr tt yy"),
    ]
    df = spark.createDataFrame(
        typical + rare + [(200, "solo")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in perplexity_quality(df, "doc_id", "text").collect()}
    assert 200 not in out  # no bigram, no LM signal
    assert len(out) == 12
    for i in range(9):
        assert out[i]["n_bigrams"] == 9
        assert out[i]["ppl_bucket"] in ("head", "middle")
    for i in (100, 101, 102):
        assert out[i]["ppl_bucket"] == "tail"
        assert out[i]["cross_entropy"] > out[0]["cross_entropy"]
    # terciles: 12 docs -> 4 per bucket under distinct scores; the 9
    # identical typical docs tie, so head+middle absorbs all 9 here
    buckets = [r["ppl_bucket"] for r in out.values()]
    assert buckets.count("tail") == 3


def test_dsir_weights_ranks_target_like_docs_higher(spark):
    from pyspark.sql import functions as F

    from bbcnews_scraper_nlp_spark.operators.traindata import dsir_weights

    tgt = [(i, "alpha beta gamma alpha beta", "en") for i in range(5)]
    raw = [(10 + i, "zeta eta theta zeta eta", "de") for i in range(5)]
    mixed = [(20, "alpha beta zeta eta", "de"), (21, "", "de")]
    df = spark.createDataFrame(
        tgt + raw + mixed, "doc_id long, text string, lang string"
    )
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            df, "text", "doc_id", F.col("lang") == "en", n_buckets=256
        ).collect()
    }
    assert len(out) == 12
    # 5 tokens -> 5 unigrams + 4 bigrams
    assert out[0]["n_grams"] == 9
    assert out[21]["n_grams"] == 0 and out[21]["weight"] == 0.0
    # target-distinctive grams score high, raw-only grams low, the
    # mixed doc in between
    assert out[0]["weight"] > out[20]["weight"] > out[10]["weight"]
    # deterministic: integer-scaled sums reproduce exactly
    again = {
        r["doc_id"]: r["weight"]
        for r in dsir_weights(
            df, "text", "doc_id", F.col("lang") == "en", n_buckets=256
        ).collect()
    }
    assert {k: v["weight"] for k, v in out.items()} == again


def test_curriculum_order_band_monotone_and_deterministic(spark):
    from bbcnews_scraper_nlp_spark.operators.traindata import curriculum_order

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(40)], "doc_id long, score double"
    )
    out = curriculum_order(df, "score", "doc_id", method="exact").collect()
    assert len(out) == 40
    by_band: dict[int, list] = {}
    score = {i: float(100 - i) for i in range(40)}
    for r in out:
        by_band.setdefault(r["band"], []).append(r)
    assert sorted(by_band) == [1, 2, 3, 4]
    assert all(len(v) == 10 for v in by_band.values())
    # bands are score-monotone: every band-k score >= every band-k+1
    for k in (1, 2, 3):
        lo = min(score[r["doc_id"]] for r in by_band[k])
        hi = max(score[r["doc_id"]] for r in by_band[k + 1])
        assert lo >= hi
    # band_pos is a permutation of 1..10 within each band, and the
    # intra-band order is decorrelated from the score (hash order)
    for k, rows in by_band.items():
        assert sorted(r["band_pos"] for r in rows) == list(range(1, 11))
    ordered_ids = [
        r["doc_id"] for r in sorted(by_band[1], key=lambda r: r["band_pos"])
    ]
    assert ordered_ids != sorted(ordered_ids)  # not id order
    again = curriculum_order(df, "score", "doc_id", method="exact").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_curriculum_order_approx_matches_exact_on_separated_bands(spark):
    """The 100 TB approx-percentile banding (default method) must
    agree with the exact ntile anchor on band MEMBERSHIP whenever
    scores are well separated at the band edges — and its plan must
    contain no unpartitioned window (no ntile one-task stage)."""
    from bbcnews_scraper_nlp_spark.operators.traindata import curriculum_order

    # 4 well-separated score clusters of 25 docs each, shuffled keys
    rows = [
        (i, float(1000 * (3 - (i % 4)) + (i * 37) % 20))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    exact = {
        r["doc_id"]: r["band"]
        for r in curriculum_order(df, "score", "doc_id", method="exact").collect()
    }
    approx_df = curriculum_order(df, "score", "doc_id", method="approx")
    approx = {r["doc_id"]: r["band"] for r in approx_df.collect()}
    assert approx == exact
    # the approx plan never runs an unpartitioned ntile window
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan.lower()
    # determinism across runs
    again = {
        r["doc_id"]: r["band"]
        for r in curriculum_order(df, "score", "doc_id").collect()
    }
    assert again == approx


def test_weighted_sample_proportional_and_deterministic(spark):
    from bbcnews_scraper_nlp_spark.operators.traindata import weighted_sample

    # 100 heavy (w=50) + 100 light (w=1) rows: a k=40 A-ES sample
    # must be dominated by heavy rows (E[heavy] ≈ 39)
    rows = [(i, 50.0) for i in range(100)] + [(100 + i, 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, w double")
    got = weighted_sample(df, "w", "k", k=40).collect()
    assert len(got) == 40
    heavy = sum(1 for r in got if r["k"] < 100)
    assert heavy >= 30, heavy
    again = weighted_sample(df, "w", "k", k=40).collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in again)
    # zero/negative weights never sample
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 1.0)], "k long, w double"
    )
    assert [r["k"] for r in weighted_sample(df2, "w", "k", k=5).collect()] == [3]


def test_kfold_split_partitions_and_is_deterministic(spark):
    from bbcnews_scraper_nlp_spark.operators.traindata import kfold_split

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id bigint, text string"
    )
    out = kfold_split(df, "doc_id", k=5)
    rows = out.collect()
    # every row gets exactly one fold in [0, 5)
    assert all(0 <= r["fold"] < 5 for r in rows)
    assert len(rows) == 200
    # deterministic under repartitioning
    again = {
        r["doc_id"]: r["fold"]
        for r in kfold_split(df.repartition(7), "doc_id", k=5).collect()
    }
    assert again == {r["doc_id"]: r["fold"] for r in rows}
    # roughly balanced (md5 uniformity: each fold ~40 of 200)
    import collections

    sizes = collections.Counter(r["fold"] for r in rows)
    assert len(sizes) == 5 and all(20 <= v <= 60 for v in sizes.values())


def test_gopher_flags_match_literal_python(spark):
    """gopher_quality_flags vs a literal-Python replay of the
    published rules on adversarial docs (empty text, exactly-50
    words, symbol-heavy, no stopwords, non-alpha tokens)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: F401

    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}

    def literal(text):
        ws = [w for w in text.split(" ") if w != ""]
        n = len(ws)
        g = max(n, 1)
        mwl = 1000 * sum(len(w) for w in ws) // g
        sym = 1000000 * sum(
            1 for w in ws if "#" in w or "..." in w
        ) // g
        import re as _re

        alpha = 1000000 * sum(
            1 for w in ws if _re.search("[a-zA-Z]", w)
        ) // g
        hits = len({w for w in ws if w in stops})
        keep = int(
            50 <= n <= 100000 and 3000 <= mwl <= 10000
            and sym <= 100000 and alpha >= 800000 and hits >= 2
        )
        return (n, mwl, sym, alpha, hits, keep)

    texts = [
        "",
        " ".join(["the"] * 10 + ["that"] * 20 + ["with"] * 20),  # 50 words
        " ".join(["the", "of"] + ["word"] * 48),
        " ".join(["###", "a..."] * 30),
        " ".join(["123", "456"] * 30),
        " ".join(["supercalifragilistic"] * 60),
        "the be " + " ".join(f"w{i}" for i in range(48)),
    ]
    import pyspark.sql.functions as F  # noqa: F401

    from bbcnews_scraper_nlp_spark import queries as Q

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    # drive the same plan the registry query builds, on a local frame
    w = df.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    a = w.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("tot_len"),
        F.sum(((F.col("w").contains("#")) | (F.col("w").contains("..."))).cast("long")).alias("n_sym"),
        F.sum(F.col("w").rlike("[a-zA-Z]").cast("long")).alias("n_alpha"),
        F.count_distinct(
            F.when(F.col("w").isin(list(stops)), F.col("w"))
        ).alias("stop_hits"),
    )
    got = {}
    for r in df.select("doc_id").join(a, "doc_id", "left").collect():
        n = r["n_words"] or 0
        g = max(n, 1)
        mwl = 1000 * (r["tot_len"] or 0) // g
        sym = 1000000 * (r["n_sym"] or 0) // g
        alpha = 1000000 * (r["n_alpha"] or 0) // g
        hits = r["stop_hits"] or 0
        keep = int(
            50 <= n <= 100000 and 3000 <= mwl <= 10000
            and sym <= 100000 and alpha >= 800000 and hits >= 2
        )
        got[r["doc_id"]] = (n, mwl, sym, alpha, hits, keep)
    for i, t in enumerate(texts):
        assert got[i] == literal(t), (i, t, got[i], literal(t))
    # the exactly-50-word stopword doc must be kept (mwl 3.8, 3 hits)
    assert got[1][5] == 1
    # empty text fails on word count, symbol doc fails on sym ratio
    assert got[0][5] == 0 and got[3][5] == 0


# ---------------------------------------------------------------------------
# round 10 (cont.): HRW sharding, temperature mixing, Poisson bootstrap
# ---------------------------------------------------------------------------


def test_consistent_hash_minimal_movement(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    rows = {
        r["shard"]: r
        for r in REGISTRY["consistent_hash_shards"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == set(range(9))
    # HRW's defining property: adding shard 8 moves docs ONLY to it
    assert all(rows[s]["moved_in"] == 0 for s in range(8))
    assert rows[8]["n_before"] == 0
    assert rows[8]["moved_in"] == rows[8]["n_after"] > 0
    total = sum(r["n_before"] for r in rows.values())
    assert sum(r["n_after"] for r in rows.values()) == total
    # every pre-existing shard only shrinks
    assert all(rows[s]["n_after"] <= rows[s]["n_before"] for s in range(8))


def test_temperature_mix_exact_apportionment(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    rows = REGISTRY["temperature_mix_weights"].fn(spark, sf_dir).collect()
    # largest-remainder allocations sum EXACTLY to the budget
    assert sum(r["alloc"] for r in rows) == 1_000_000
    # monotone: a strictly larger source never gets a smaller alloc
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    for a, b in zip(by_n, by_n[1:]):
        if b["n_docs"] > a["n_docs"]:
            assert b["alloc"] >= a["alloc"]
    # temperature flattens: smallest source is over-represented
    # relative to proportional, largest under-represented
    tot = sum(r["n_docs"] for r in rows)
    lo, hi = by_n[0], by_n[-1]
    if lo["n_docs"] < hi["n_docs"]:
        assert lo["alloc"] * tot >= lo["n_docs"] * 1_000_000
        assert hi["alloc"] * tot <= hi["n_docs"] * 1_000_000


def test_poisson_bootstrap_ci_brackets_and_is_deterministic(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    fn = REGISTRY["poisson_bootstrap_ci"].fn
    rows = {r["event_type"]: r for r in fn(spark, sf_dir).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["ci_lo_cents"] <= r["ci_hi_cents"]
        # a 93.75% CI from 32 replicates over ~200+ rows should
        # bracket the point estimate
        assert r["ci_lo_cents"] <= r["mean_cents"] <= r["ci_hi_cents"]
    again = {r["event_type"]: r for r in fn(spark, sf_dir).collect()}
    assert rows == again


def test_calibration_ece_summary_is_weighted_gap(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    rows = REGISTRY["calibration_ece"].fn(spark, sf_dir).collect()
    bins = [r for r in rows if r["bin"] >= 0]
    tot = [r for r in rows if r["bin"] == -1]
    assert len(tot) == 1
    n = sum(r["n"] for r in bins)
    assert tot[0]["n"] == n
    # the summary row's gap IS the count-weighted ECE (trunc div)
    want = sum(r["n"] * r["gap_ppm"] for r in bins) // n
    assert tot[0]["gap_ppm"] == want
    for r in bins:
        assert 0 <= r["pos_ppm"] <= 1_000_000
        assert r["gap_ppm"] == abs(r["conf_ppm"] - r["pos_ppm"])


def test_kl_divergence_nonnegative_and_zero_for_identical(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    rows = REGISTRY["kl_divergence_sources"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    # KL >= 0 up to milli-nat quantization of each term
    assert all(r["kl_millinat"] >= -1 for r in rows)
    assert all(r["n_tokens"] > 0 and r["vocab"] > 0 for r in rows)

    # planted check: two sources with IDENTICAL text distribution
    # have (near-)zero divergence; a disjoint-vocab source is large
    docs = spark.createDataFrame(
        [(i, "aa bb cc dd", "s1") for i in range(40)]
        + [(100 + i, "aa bb cc dd", "s2") for i in range(40)]
        + [(200 + i, "zz yy xx ww vv uu", "s3") for i in range(10)],
        "doc_id long, text string, lang string",
    ).withColumnRenamed("lang", "source")
    out = {
        r["source"]: r["kl_millinat"]
        for r in _kl_on(spark, docs).collect()
    }
    # identically-distributed sources get IDENTICAL divergence (the
    # reference is the corpus mixture, so it is small but nonzero
    # while s3 shifts the mixture), and the disjoint-vocab source
    # dominates by an order of magnitude
    assert out["s1"] == out["s2"]
    assert 0 <= out["s1"] < out["s3"]
    assert out["s3"] > 1000  # well over 1 nat for the disjoint source

    # with the corpus = ONE distribution, KL is exactly 0
    two = docs.filter(F.col("source") != "s3")
    out2 = {
        r["source"]: r["kl_millinat"] for r in _kl_on(spark, two).collect()
    }
    assert out2 == {"s1": 0, "s2": 0}


def _kl_on(spark, docs):
    """Run the kl_divergence_sources body on an arbitrary documents
    frame (same code path, parameterized input)."""
    from pyspark.storagelevel import StorageLevel

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
    return term.groupBy("source", "c_s").agg(
        F.expr("cast(sum(c_sw * lr) as bigint) div c_s").alias("kl_millinat")
    )


# ---------------------------------------------------------------------------
# literal-Python twins: the fully-integer round-10 recipes replayed
# exactly (md5 + integer arithmetic only — no float tolerance at all)
# ---------------------------------------------------------------------------


def _md5_48(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_consistent_hash_matches_literal_python(spark, sf_dir):
    import duckdb

    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    doc_ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]

    def assign(doc_id, n):
        return max(_md5_48(f"hrw-v1:{s}:{doc_id}") * 16 + s for s in range(n)) % 16

    n8 = {}
    n9 = {}
    moved = {}
    for d in doc_ids:
        a8, a9 = assign(d, 8), assign(d, 9)
        n8[a8] = n8.get(a8, 0) + 1
        n9[a9] = n9.get(a9, 0) + 1
        if a8 != a9:
            moved[a9] = moved.get(a9, 0) + 1
    rows = {
        r["shard"]: r
        for r in REGISTRY["consistent_hash_shards"].fn(spark, sf_dir).collect()
    }
    for s in range(9):
        assert rows[s]["n_before"] == n8.get(s, 0)
        assert rows[s]["n_after"] == n9.get(s, 0)
        assert rows[s]["moved_in"] == moved.get(s, 0)


def test_temperature_mix_matches_literal_python(spark, sf_dir):
    import math

    import duckdb

    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    counts = dict(
        duckdb.sql(
            f"SELECT source, COUNT(*) FROM '{sf_dir}/documents.parquet' "
            "GROUP BY source"
        ).fetchall()
    )
    w = {s: math.isqrt(n) for s, n in counts.items()}
    tw = sum(w.values())
    base = {s: (1_000_000 * w[s]) // tw for s in w}
    rem = {s: (1_000_000 * w[s]) % tw for s in w}
    leftover = 1_000_000 - sum(base.values())
    ranked = sorted(w, key=lambda s: (-rem[s], s))
    alloc = {
        s: base[s] + (1 if i < leftover else 0)
        for i, s in enumerate(ranked)
    }
    rows = {
        r["source"]: r
        for r in REGISTRY["temperature_mix_weights"].fn(spark, sf_dir).collect()
    }
    for s in counts:
        assert rows[s]["weight"] == w[s]
        assert rows[s]["alloc"] == alloc[s]
        assert rows[s]["epochs_ppm"] == alloc[s] * 1_000_000 // counts[s]


def test_poisson_bootstrap_matches_literal_python(spark, sf_dir):
    import duckdb

    from bbcnews_scraper_nlp_spark.q_traindata import _N_BOOT, _POIS_PPM
    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    ev = duckdb.sql(
        f"SELECT event_type, event_id, "
        f"CAST(ROUND(value * 100) AS BIGINT) FROM '{sf_dir}/events.parquet'"
    ).fetchall()

    def weight(u):
        for i, t in enumerate(_POIS_PPM):
            if u < t:
                return i
        return 8

    sums: dict = {}
    for et, eid, cents in ev:
        for b in range(_N_BOOT):
            u = _md5_48(f"boot-v1:{eid}:{b}") % 1_000_000
            wv = weight(u)
            k = (et, b)
            sw, swv = sums.get(k, (0, 0))
            sums[k] = (sw + wv, swv + wv * cents)

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    per_type: dict = {}
    for (et, b), (sw, swv) in sums.items():
        if sw > 0:
            per_type.setdefault(et, []).append((tdiv(swv, sw), b))
    want = {}
    for et, ms in per_type.items():
        ms.sort()
        want[et] = (ms[1][0], ms[len(ms) - 2][0])

    rows = {
        r["event_type"]: r
        for r in REGISTRY["poisson_bootstrap_ci"].fn(spark, sf_dir).collect()
    }
    for et, (lo, hi) in want.items():
        assert rows[et]["ci_lo_cents"] == lo, et
        assert rows[et]["ci_hi_cents"] == hi, et


def test_lsa_embeddings_recover_planted_clusters(spark):
    """Semantic recovery: two disjoint-vocabulary doc clusters must
    separate in the 4-dim integer LSA space — within-cluster cosine
    similarity well above between-cluster."""
    import numpy as np

    from bbcnews_scraper_nlp_spark.q_traindata import lsa_embed_documents

    rng = np.random.default_rng(5)
    va = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    vb = ["omega", "sigma", "tau", "kappa", "lambda", "mu"]
    docs = []
    for i in range(30):
        vocab = va if i % 2 == 0 else vb
        words = [vocab[j] for j in rng.integers(0, len(vocab), size=30)]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vecs: dict[int, np.ndarray] = {}
    for r in lsa_embed_documents(spark, df).collect():
        vecs.setdefault(r["doc_id"], np.zeros(4))[r["dim"]] = r["val_micro"]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-9))

    within, between = [], []
    ids = sorted(vecs)
    for i in ids:
        for j in ids:
            if i < j:
                (within if i % 2 == j % 2 else between).append(
                    cos(vecs[i], vecs[j])
                )
    assert np.mean(within) > 0.9
    assert np.mean(within) > np.mean(between) + 0.5
