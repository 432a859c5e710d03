"""End-to-end news pipeline on synthetic sitemap + HTML fixtures
(FIXTURES.md B1/B9 shapes): every stage produces the declared schema
and the reference's filter/dedup semantics hold."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.plans import pipeline as P

WORDS = (
    "government economy football минюст match police hospital school road "
    "energy strike storm flood budget travel health court inquiry".split()
)


def _fixtures(spark, n=40, seed=5):
    rng = random.Random(seed)
    urls, url_rows = [], []
    for i in range(n):
        section = rng.choice(["uk-england", "world-europe", "business"])
        url = f"https://www.bbc.com/news/{section}-{60000000 + i}"
        urls.append(url)
        url_rows.append((url, f"2022-08-{(i % 28) + 1:02d}T10:00:00Z"))
    # one non-news url + one duplicate (F1/F6 targets)
    xml_parts = [
        f"<url><loc>{u}</loc><lastmod>{lm}</lastmod></url>" for u, lm in url_rows
    ]
    xml_parts.append(
        "<url><loc>https://www.bbc.com/sport/foo-1</loc>"
        "<lastmod>2022-08-01T00:00:00Z</lastmod></url>"
    )
    xml_parts.append(xml_parts[0])
    sitemap = spark.createDataFrame(
        [(1, "<urlset>" + "".join(xml_parts) + "</urlset>")], "shard_id int, xml string"
    )

    html_rows = []
    for i, (url, lm) in enumerate(url_rows):
        body = " ".join(rng.choice(WORDS) for _ in range(120))
        title = "" if i % 10 == 9 else f"Headline {i}"  # some empty (F5)
        html = (
            f'<html><body><h1 id="main-heading">{title}</h1>'
            f'<time datetime="{lm}"></time>'
            f'<b class="sc-1abc">Sub {i}</b><strong>Reporter</strong>'
            f"<p>{body}</p><p>{body[:50]}</p><p>footer</p>"
            f'<a class="ed0077x" href="/topic/{i}">Topic {i}</a>'
            f'<img src="https://i/{i}.jpg"></body></html>'
        )
        html_rows.append((url, html))
    html_pages = spark.createDataFrame(html_rows, "url string, html string")
    return sitemap, html_pages


@pytest.fixture(scope="module")
def stages(spark):
    sitemap, html_pages = _fixtures(spark)
    labels = spark.createDataFrame(
        [(i, f"label_{i}") for i in range(3)], "topic_num int, topic_label string"
    )
    return P.run_full_pipeline(
        sitemap, html_pages, topic_labels=labels, k_variants=(3,), min_df=2.0,
    )


def test_links_stage(stages):
    links = stages["links"].collect()
    urls = [r["url"] for r in links]
    assert len(urls) == len(set(urls)) == 40  # dup dropped, sport filtered
    assert all("www.bbc.com/news/" in u for u in urls)


def test_articles_raw_stage(stages):
    raw = stages["articles_raw"].collect()
    assert 30 <= len(raw) < 40  # empty-title rows dropped (F5)
    for r in raw:
        assert r["title"]
        assert r["menu_submenu"] in ("uk-england", "world-europe", "business")
        assert r["date"].startswith("2022-08-")
        assert "footer" not in r["text"]  # P2 drops last paragraph


def test_processed_stage(stages):
    proc = stages["articles_processed"].collect()
    assert proc
    for r in proc:
        assert r["n_words"] > 50
        assert r["n_words_clean"] >= 1
        assert r["date"] is not None  # timestamp cast
    cols = set(stages["articles_processed"].columns)
    assert cols == {
        "url", "date", "menu_submenu", "title", "subtitle", "text",
        "n_words", "article_clean", "n_words_clean",
    }


def test_topics_stage(stages):
    t = stages["articles_topics_3"].collect()
    assert t
    for r in t:
        assert 0 <= r["dominant_topic"] < 3
        assert r["topic_label"] == f"label_{r['dominant_topic']}"


def test_sentiments_and_trend(stages):
    sents = stages["articles_sentiments"]
    assert set(sents.columns) == {"date", "polarity", "subjectivity", "title", "url"}
    trend = stages["sentiment_trend"].orderBy("date").collect()
    assert trend
    # min_periods: first rows NULL until 10 days accumulate
    for i, r in enumerate(trend):
        if i < 9:
            assert r["rolling_polarity"] is None
        else:
            assert r["rolling_polarity"] is not None


def test_corpus_classifier_gate_subsets_default(spark, sf_dir):
    from bbcnews_scraper_nlp_spark.plans.corpus import prepare_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    default = {
        r["doc_id"] for r in prepare_training_corpus(docs).select("doc_id").collect()
    }
    gated = {
        r["doc_id"]
        for r in prepare_training_corpus(docs, classifier_keep=True)
        .select("doc_id")
        .collect()
    }
    assert gated <= default  # the gate only removes
    strict = {
        r["doc_id"]
        for r in prepare_training_corpus(
            docs, classifier_keep=True, min_score_milli=990.0
        )
        .select("doc_id")
        .collect()
    }
    assert strict <= gated
