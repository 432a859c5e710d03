"""LDA invariants on a planted-topic corpus (SURVEY §7.4.2: no
numeric parity with gensim — invariants + seed stability instead)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.operators import topics as T
from bbcnews_scraper_nlp_spark.operators.coherence import (
    topics_terms_from_model,
    umass_coherence,
)

CLUSTERS = {
    0: "football match goal team league cup player striker".split(),
    1: "election vote parliament minister policy bill government".split(),
    2: "market stock price inflation bank economy trade".split(),
}


@pytest.fixture(scope="module")
def planted(spark):
    rng = random.Random(11)
    rows = []
    for i in range(240):
        c = i % 3
        words = [rng.choice(CLUSTERS[c]) for _ in range(40)]
        rows.append((i, words))
    return spark.createDataFrame(rows, "doc_id long, tokens array<string>")


def test_lda_pipeline_invariants(spark, planted):
    out = T.lda_pipeline(
        planted, "doc_id", "tokens", k=3, max_iter=15, min_df=2.0, seed=42
    ).collect()
    assert len(out) == 240
    topics_seen = set()
    for r in out:
        assert 0 <= r["dominant_topic"] < 3
        assert 0.0 < r["weight"] <= 1.0
        assert r["keywords"] and ", " in r["keywords"]
        topics_seen.add(r["dominant_topic"])
    assert len(topics_seen) == 3  # planted clusters all recovered
    # cluster purity: docs of one planted cluster should mostly agree
    by_cluster: dict[int, list[int]] = {0: [], 1: [], 2: []}
    for r in out:
        by_cluster[r["doc_id"] % 3].append(r["dominant_topic"])
    for c, tops in by_cluster.items():
        majority = max(set(tops), key=tops.count)
        purity = tops.count(majority) / len(tops)
        assert purity > 0.9, f"cluster {c} purity {purity}"


def test_lda_seed_stable(spark, planted):
    a = T.lda_pipeline(planted, "doc_id", "tokens", k=3, max_iter=5, min_df=2.0, seed=42)
    b = T.lda_pipeline(planted, "doc_id", "tokens", k=3, max_iter=5, min_df=2.0, seed=42)
    ra = sorted((r["doc_id"], r["dominant_topic"]) for r in a.collect())
    rb = sorted((r["doc_id"], r["dominant_topic"]) for r in b.collect())
    assert ra == rb


def test_umass_coherence_planted_beats_shuffled(spark, planted):
    cv = T.fit_count_vectorizer(planted, min_df=2.0)
    model = T.fit_lda(cv.transform(planted), k=3, max_iter=15, seed=42)
    terms = topics_terms_from_model(model, cv.vocabulary, num_words=6)
    out = umass_coherence(planted, terms).collect()
    assert len(out) == 3
    for r in out:
        # UMass is bounded above by log((D+1)/D) <= log 2 (the +1
        # smoothing makes perfect co-occurrence slightly positive);
        # planted clusters co-occur heavily so coherence sits near 0,
        # far above random-pair levels (<< -1)
        assert r["coherence"] <= 0.7
        assert r["coherence"] > -1.0
        assert r["n_pairs"] == 15


def test_lda_model_save_load_roundtrip(spark, planted, tmp_path):
    from pyspark.ml.clustering import LocalLDAModel

    cv = T.fit_count_vectorizer(planted, min_df=2.0)
    vec = cv.transform(planted)
    model = T.fit_lda(vec, k=3, max_iter=5, seed=42)
    path = str(tmp_path / "lda_model")
    model.save(path)
    loaded = LocalLDAModel.load(path)
    a = sorted(
        (r["doc_id"], r["dominant_topic"])
        for r in T.dominant_topics(model.transform(vec), "doc_id").collect()
    )
    b = sorted(
        (r["doc_id"], r["dominant_topic"])
        for r in T.dominant_topics(loaded.transform(vec), "doc_id").collect()
    )
    assert a == b


def test_sweep_k_returns_scores(spark, planted):
    scores = T.sweep_k(planted, "tokens", ks=[2, 3], max_iter=3, min_df=2.0)
    assert [k for k, _ in scores] == [2, 3]
    for _, s in scores:
        assert s == s  # not NaN


def test_sweep_k_cv_metric_prefers_true_k(spark, planted):
    # reference criterion: argmax c_v over the sweep (cell 8). With 3
    # planted clusters, k=3 should out-cohere k=2 (a k=2 fit must
    # merge two clusters, diluting every window co-occurrence).
    scores = dict(
        T.sweep_k(
            planted, "tokens", ks=[2, 3], max_iter=15, min_df=2.0, metric="cv"
        )
    )
    assert set(scores) == {2, 3}
    assert all(s == s for s in scores.values())
    assert scores[3] > scores[2]


def test_lda_topics_reads_its_cache(spark, sf_dir):
    """lda_topics' final job reads the cached doc-term vectors: the
    vectorize step's blocks live until the runner releases them, so
    the certificate's action does not recompute tokenize -> CV
    transform. Its rows still equal the DuckDB oracle's."""
    import duckdb

    from bbcnews_scraper_nlp_spark.queries import REGISTRY

    q = REGISTRY["lda_topics"]
    df = q.fn(spark, sf_dir)
    got = sorted(tuple(r) for r in df.collect())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:800]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    assert got == sorted(con.execute(q.sql).fetchall())


def test_topics_html_sink(spark, tmp_path):
    # S11: the pyLDAvis artifact slot — train a tiny model, write the
    # self-contained HTML, assert the data feed landed in it
    from bbcnews_scraper_nlp_spark.operators.topics import (
        fit_count_vectorizer,
        fit_lda,
    )
    from bbcnews_scraper_nlp_spark.sources.topics_html import (
        topic_viz_data,
        write_topics_html,
    )

    docs = spark.createDataFrame(
        [
            (i, ["alpha", "beta", "gamma"] if i % 2 else ["delta", "eps", "zeta"])
            for i in range(40)
        ],
        "doc_id long, tokens array<string>",
    )
    cv = fit_count_vectorizer(docs, "tokens", min_df=1.0)
    vocab = cv.vocabulary
    vectorized = cv.transform(docs)
    model = fit_lda(vectorized, k=2, max_iter=5)
    transformed = model.transform(vectorized)

    data = topic_viz_data(model, vocab, transformed, num_words=5)
    assert data["k"] == 2
    assert abs(sum(data["topic_share"]) - 1.0) < 1e-6
    assert all(len(t["terms"]) == 5 for t in data["topics"])

    out = tmp_path / "ldaplot_topics_2.html"
    write_topics_html(model, vocab, transformed, str(out), num_words=5)
    text = out.read_text()
    assert text.startswith("<!DOCTYPE html>")
    assert "Topic 0" in text and "Topic 1" in text
    # every top term of topic 0 appears in the document
    for word, _ in data["topics"][0]["terms"]:
        assert word in text
