"""End-to-end news pipeline: the reference DAG re-expressed as lazy
DataFrame stages (SURVEY §3).

Reference: ScrapingDag (bbc_news_dag.py:78-152) =
  get_urls -> crawl -> process -> {topics_12, topics_32} -> sentiments

Engine: one driver program; each stage is a DataFrame transform whose
output lands in a Parquet stage table. XCom scalars become driver
variables; the two LDA variants fan out from one cached processed DF
(the reference's branch parallelism, bbc_news_dag.py:148-152).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lemmatize import POS_WHITELIST, lemmatize_text_expr
from ..functions.sentiment import make_sentiment_pandas_udf
from ..functions.text_clean import clean_text, word_count
from ..operators.relational import rolling_mean_min_periods
from ..operators.topics import lda_pipeline

MIN_WORDS = 50  # process() keeps articles with more words than this
TREND_WINDOW_ROWS = 10  # the trend's trailing rolling-mean window


def ingest_links(sitemap_pages: DataFrame) -> DataFrame:
    """get_urls (bbc_news_dag.py:41-58): parse sitemap XML, keep news
    urls, one row per url. The skip of urls already in the links
    table is the sink's (``stage_io.upsert_skip``)."""
    from ..sources.sitemap import filter_news_links, parse_sitemap

    links = filter_news_links(parse_sitemap(sitemap_pages))
    return links.dropDuplicates(["url"])


def scrape_articles(links: DataFrame, html_pages: DataFrame) -> DataFrame:
    """crawl (§3.2): extract fields, drop empty-title rows (F5), dedup
    by url (F6). The skip of urls already scraped is the sink's
    (``stage_io.upsert_skip``)."""
    from ..sources.html_extract import derive_menu_submenu, extract_article_fields

    pages = links.select("url").join(html_pages, "url")  # offline fetch fixture
    fields = extract_article_fields(pages)
    fields = derive_menu_submenu(fields)
    return fields.filter(
        F.col("title").isNotNull() & (F.col("title") != "")
    ).dropDuplicates(["url"])


def process(articles_raw: DataFrame) -> DataFrame:
    """process() twin (data_preparation.py:82-102), one lazy chain:

    dropna -> n_words -> filter >MIN_WORDS -> clean (native chain) ->
    lemmatize -> n_words_clean -> projection -> ts cast.

    Every stage is a native column expression, so the chain runs in
    the JVM with no Python worker: ``lemmatize_text_expr`` is the
    registry's lemmatizer (``p13_lemmatize``), pinned token-equal to
    the pandas-UDF kernel in tests/test_lemmatize.py."""
    return (
        articles_raw.na.drop("any")
        .withColumn("n_words", word_count(F.col("text")))
        .filter(F.col("n_words") > MIN_WORDS)
        .withColumn(
            "article_clean",
            lemmatize_text_expr(clean_text(F.col("text")), POS_WHITELIST),
        )
        .withColumn("n_words_clean", word_count(F.col("article_clean")))
        .withColumn("date", F.to_timestamp("date"))
        .drop("images", "topic_name", "topic_url", "link", "authors")
    )


def topics(
    processed: DataFrame,
    k: int = 12,
    labels: DataFrame | None = None,
    min_df: float = 10.0,
) -> DataFrame:
    """topic_modeling stage (notebooks cells 5-31): tokenized clean
    text -> CountVectorizer -> LDA -> dominant topic + keywords +
    optional label join. Carries `url` through inference (the J2
    positional-concat redesign, SURVEY §7.4.4)."""
    toks = processed.select(
        "url", F.split(F.col("article_clean"), " ").alias("tokens")
    ).filter(F.size("tokens") > 0)
    return lda_pipeline(
        toks, id_col="url", tokens_col="tokens", k=k, min_df=min_df,
        labels=labels,
    )


def sentiments(processed: DataFrame) -> DataFrame:
    """sentiment stage (sentiment_analysis.ipynb cells 5-10): one
    Arrow-batched UDF pass emitting struct<polarity,subjectivity>,
    projected to the golden articles_sentiments schema."""
    udf = make_sentiment_pandas_udf()
    scored = processed.withColumn("s", udf(F.col("article_clean")))
    return scored.select(
        "date",
        F.col("s.polarity").alias("polarity"),
        F.col("s.subjectivity").alias("subjectivity"),
        "title",
        "url",
    )


def sentiment_trend(sents: DataFrame) -> DataFrame:
    """Trend query (sentiment_analysis.ipynb cell 13): daily means +
    rolling-10 trailing mean with min_periods NULLs (B7 shape)."""
    daily = (
        sents.groupBy(F.to_date("date").alias("date"))
        .agg(
            F.avg("polarity").alias("polarity"),
            F.avg("subjectivity").alias("subjectivity"),
        )
    )
    return rolling_mean_min_periods(
        daily, "date", ["polarity", "subjectivity"],
        window_rows=TREND_WINDOW_ROWS,
    ).select(
        "date", "polarity", "subjectivity",
        "rolling_polarity", "rolling_subjectivity",
    )


def run_full_pipeline(
    sitemap_pages: DataFrame,
    html_pages: DataFrame,
    topic_labels: DataFrame | None = None,
    k_variants: tuple[int, ...] = (12, 32),
    min_df: float = 10.0,
) -> dict[str, DataFrame]:
    """The whole DAG, returning every stage output. The processed DF
    is cached once and fanned out to the LDA variants + sentiment
    (bbc_news_dag.py:148-152's branch parallelism)."""
    links = ingest_links(sitemap_pages)
    raw = scrape_articles(links, html_pages)
    processed = process(raw).cache()
    out: dict[str, DataFrame] = {
        "links": links,
        "articles_raw": raw,
        "articles_processed": processed,
    }
    for k in k_variants:
        out[f"articles_topics_{k}"] = topics(
            processed, k=k, labels=topic_labels, min_df=min_df
        )
    sents = sentiments(processed)
    out["articles_sentiments"] = sents
    out["sentiment_trend"] = sentiment_trend(sents)
    return out
