"""§2.2-2.8 core surface: filters, projections, joins, aggregations,
windows, set ops, sitemap parsing, sentiment + vocab pruning.
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import sentiment as sent
from .functions.text_clean import clean_text, word_count
from .operators import relational as R
from .queries_base import register, _sql_str_list, STOPWORDS_SQL


# --------------------------------------------------------------------
# §2.2 filters / predicates
# --------------------------------------------------------------------


@register(
    "f1_contains_filter",
    "SELECT doc_id, source FROM documents WHERE text LIKE '%spark%'",
)
def f1_contains_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: substring containment (bbc_news_dag.py:32). Pushed into the
    parquet scan as a StringContains filter."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.filter(F.col("text").contains("spark")).select("doc_id", "source")


@register(
    "f2_ts_range_filter",
    "SELECT event_id, user_id, ts FROM events "
    "WHERE ts > TIMESTAMP '2024-01-15 00:00:00'",
)
def f2_ts_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: timestamp cutoff (archive_scraper.py:28) — the reference
    compares ISO strings lexicographically; we compare real
    timestamps. Pushed down to parquet row-group stats."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(
        F.col("ts") > F.lit("2024-01-15 00:00:00").cast("timestamp")
    ).select("event_id", "user_id", "ts")


@register(
    "f3_dropna",
    "SELECT doc_id, text, lang, source, n_chars FROM documents "
    "WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL "
    "AND source IS NOT NULL AND n_chars IS NOT NULL",
)
def f3_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: drop rows with any NULL (data_preparation.py:88)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.na.drop("any").select("doc_id", "text", "lang", "source", "n_chars")


@register(
    "f4_min_word_count",
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words "
    "FROM documents WHERE len(string_split(text, ' ')) > 50",
)
def f4_min_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+P3: derive n_words = len(split(' ')), keep > 50
    (data_preparation.py:89-90)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id", word_count(F.col("text")).alias("n_words")
    ).filter(F.col("n_words") > 50)


@register(
    "f5_required_field",
    "SELECT doc_id, n_chars FROM documents WHERE text IS NOT NULL AND text <> ''",
)
def f5_required_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: drop-if-empty-field pipeline (pipelines.py:16-24)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).select("doc_id", "n_chars")


@register(
    "f6_dedup_keep_first",
    "SELECT event_id, user_id, event_type FROM events "
    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1",
)
def f6_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/S7: keyed dedup keeping the deterministic first row — the
    Mongo unique-index insert keeps the first writer
    (pipelines.py:33-44, bbc_news_dag.py:34-38)."""
    events = load_table(spark, sf_dir, "events")
    return R.dedup_keep_first(events, ["user_id"], [F.col("event_id")]).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "f7_anti_join_unseen",
    "SELECT c_custkey, c_name FROM customer "
    "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def f7_anti_join_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/J3: left-anti 'seen' probe placed BEFORE expensive work
    (middlewares.py:6-16)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seen = orders.select(F.col("o_custkey").alias("c_custkey"))
    return R.anti_join_new(customer, seen, "c_custkey").select("c_custkey", "c_name")


# --------------------------------------------------------------------
# §2.3 projections / scalar functions
# --------------------------------------------------------------------


@register(
    "p1_strip_last_segment",
    "SELECT p_partkey, array_to_string("
    "string_split(p_name, ' ')[1:len(string_split(p_name, ' ')) - 1], '-') "
    "AS name_prefix FROM part",
)
def p1_strip_last_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: split, drop last token, rejoin (ArticlesSpider.py:24's
    menu_submenu derivation, applied to p_name)."""
    part = load_table(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), "-").alias("name_prefix"),
    )


def _sql_tokens_expr(col: str) -> str:
    """DuckDB twin of functions/text_clean.py::clean_tokens — the
    exact ordered regex chain of data_preparation.py:34-42, returning
    the filtered token LIST."""
    c = f"lower(trim({col}))"
    c = rf"regexp_replace({c}, 'http\S+', '', 'g')"
    c = rf"regexp_replace({c}, '<.*?>', '', 'g')"
    c = rf"regexp_replace({c}, '[^ 0-9a-z]', ' ', 'g')"
    c = rf"regexp_replace({c}, '\b(\d+\d)\b', '', 'g')"
    c = rf"regexp_replace({c}, 'http|https|www', '', 'g')"
    c = rf"regexp_replace({c}, '\b[a-z]\b', '', 'g')"
    c = rf"regexp_replace({c}, ' +', ' ', 'g')"
    return (
        f"list_filter(string_split(trim({c}), ' '), "
        f"w -> len(w) > 2 AND NOT list_contains({STOPWORDS_SQL}, w))"
    )


def _sql_clean_expr(col: str) -> str:
    """DuckDB twin of functions/text_clean.py::clean_text."""
    return f"array_to_string({_sql_tokens_expr(col)}, ' ')"


@register(
    "p4_p12_clean_text",
    f"SELECT doc_id, {_sql_clean_expr('text')} AS text_clean FROM documents",
)
def p4_p12_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P12 + F8/F9: the full clean() chain as one codegen'd
    projection (data_preparation.py:29-57)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select("doc_id", clean_text(F.col("text")).alias("text_clean"))


@register(
    "p15_p16_day_cast",
    "SELECT event_id, CAST(ts AS DATE) AS day FROM events",
)
def p15_p16_day_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15/P16: timestamp cast + day truncation
    (data_preparation.py:96, sentiment_analysis.ipynb cell 11)."""
    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", F.to_date("ts").alias("day"))


# --------------------------------------------------------------------
# §2.4 joins
# --------------------------------------------------------------------


@register(
    "j1_broadcast_enrich",
    "SELECT c_custkey, c_name, n_name FROM customer "
    "LEFT JOIN nation ON c_nationkey = n_nationkey",
)
def j1_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact LEFT JOIN tiny dim -> broadcast hash join, no shuffle
    of the fact side (topic_modelling.ipynb cell 29's label join)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left"
    ).select("c_custkey", "c_name", "n_name")


@register(
    "j_multiway_region_count",
    "SELECT r_name, COUNT(*) AS n_customers FROM customer, nation, region "
    "WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "GROUP BY r_name",
)
def j_multiway_region_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way broadcast join chain + hash agg (engine extension —
    the reference has no multi-way joins; free via Catalyst)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------
# §2.5 aggregations, §2.6 windows, §2.7 set ops
# --------------------------------------------------------------------


@register("a1_count_rows", "SELECT COUNT(*) AS n FROM lineitem")
def a1_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A7: count(*) (bbc_news_dag.py:63-64)."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@register(
    "a2_group_count",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def a2_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: value_counts() (topic_modelling.ipynb cell 25)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "a3_daily_mean",
    "SELECT CAST(ts AS DATE) AS date, "
    "SUM(CAST(ROUND(value * 100) AS BIGINT)) / (COUNT(*) * 100) "
    "AS avg_value FROM events GROUP BY 1",
)
def a3_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+P16: daily mean (sentiment_analysis.ipynb cell 13).
    Integer-scaled sum -> exact cross-engine average. No fractional
    ROUND: Spark rounds scale>0 via the shortest decimal repr
    (BigDecimal) while DuckDB rounds the raw double — they disagree
    on .xxxx5 boundaries; the raw quotient of identical integers is
    bit-identical instead."""
    events = load_table(spark, sf_dir, "events")
    scaled = F.round(F.col("value") * 100).cast("long")
    return events.groupBy(F.to_date("ts").alias("date")).agg(
        (F.sum(scaled) / (F.count("*") * 100)).alias("avg_value")
    )


@register(
    "a6_top_orders",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def a6_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: sort desc + limit (data_preparation.py:19) — Spark plans
    TakeOrderedAndProject (per-partition heaps, no full sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return R.top_n(
        orders.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.col("o_orderkey")],
        10,
    )


_DAILY_SQL = (
    "SELECT event_type, CAST(ts AS DATE) AS date, "
    "SUM(CAST(ROUND(value * 100) AS BIGINT)) / (COUNT(*) * 100) "
    "AS avg_value FROM events GROUP BY 1, 2"
)


@register(
    "w1_rolling_trend",
    f"WITH daily AS ({_DAILY_SQL}), "
    "s AS (SELECT *, CAST(ROUND(avg_value * 10000) AS BIGINT) AS sc FROM daily) "
    "SELECT event_type, date, avg_value, "
    "CASE WHEN row_number() OVER "
    "(PARTITION BY event_type ORDER BY date) >= 10 THEN "
    "CAST(SUM(sc) OVER (PARTITION BY event_type ORDER BY date "
    "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) / 100000.0 "
    "END AS rolling_avg_value "
    "FROM s",
)
def w1_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: the sentiment-trend query shape — daily means + 10-row
    trailing mean with pandas min_periods NULL semantics
    (sentiment_analysis.ipynb cells 11-13). Flagship query.

    Scale note: the window runs over the *aggregated* daily series
    (#days × #event_types rows), partitioned by event_type — never
    over raw events."""
    events = load_table(spark, sf_dir, "events")
    scaled = F.round(F.col("value") * 100).cast("long")
    daily = events.groupBy("event_type", F.to_date("ts").alias("date")).agg(
        (F.sum(scaled) / (F.count("*") * 100)).alias("avg_value")
    )
    # Rolling mean via integer-scaled window sum (integer ROUND is
    # boundary-safe cross-engine; fractional ROUND is not) so the
    # final division is a single identical fp op in both engines.
    # min_periods semantics via the row_number guard.
    sc = F.round(F.col("avg_value") * 10000).cast("long")
    w_order = Window.partitionBy("event_type").orderBy("date")
    w_frame = w_order.rowsBetween(-9, 0)
    rolling = F.when(
        F.row_number().over(w_order) >= 10, F.sum(sc).over(w_frame) / 100000.0
    )
    return daily.withColumn("rolling_avg_value", rolling).select(
        "event_type", "date", "avg_value", "rolling_avg_value"
    )


@register(
    "w3_argmax_vector",
    "SELECT vec_id, CAST(list_position(embedding, list_max(embedding)) - 1 AS INT) "
    "AS argmax_idx, ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val "
    "FROM embeddings",
)
def w3_argmax_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: per-row argmax over an array (the dominant-topic extraction
    shape, topic_modelling.ipynb cell 23); first-occurrence tie-break
    matches Python sorted() stability."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    idx, mx = R.argmax_array(F.col("embedding"))
    return emb.select(
        "vec_id",
        idx.alias("argmax_idx"),
        F.round(mx.cast("double"), 6).alias("max_val"),
    )


@register(
    "union_dedup",
    "SELECT DISTINCT o_orderkey, o_totalprice FROM ("
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <= 1 "
    "UNION ALL "
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 >= 1)",
)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: archive + daily feeds writing one sink = union + dedup
    (archive_scraper.py:29 / bbc_news_dag.py:34 share `links`)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = orders.filter(F.col("o_orderkey") % 3 <= 1)
    b = orders.filter(F.col("o_orderkey") % 3 >= 1)
    return a.unionByName(b).distinct()


# --------------------------------------------------------------------
# sources: S2 XML sitemap parsing (regex round-trip on a derived feed)
# --------------------------------------------------------------------


@register(
    "s2_sitemap_parse",
    "WITH pages AS (SELECT '<url><loc>https://www.bbc.com/' || "
    "CASE WHEN event_id % 2 = 0 THEN 'news/' ELSE 'sport/' END || "
    "event_type || '-' || CAST(event_id AS VARCHAR) || '</loc>' || "
    "'<lastmod>' || strftime(ts, '%Y-%m-%d') || '</lastmod></url>' AS xml "
    "FROM events) "
    "SELECT regexp_extract(xml, '<loc>(.*?)</loc>', 1) AS url, "
    "regexp_extract(xml, '<lastmod>(.*?)</lastmod>', 1) AS lastmod "
    "FROM pages WHERE regexp_extract(xml, '<loc>(.*?)</loc>', 1) "
    "LIKE '%www.bbc.com/news/%'",
)
def s2_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+F1: sitemap-XML field extraction + news-url filter
    (bbc_news_dag.py:28-34). The XML feed is synthesized from events
    so the oracle sees identical input; extraction itself is the
    regex the engine's sitemap source uses."""
    events = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<url><loc>https://www.bbc.com/"),
        F.when(F.col("event_id") % 2 == 0, F.lit("news/")).otherwise(F.lit("sport/")),
        F.col("event_type"),
        F.lit("-"),
        F.col("event_id").cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format("ts", "yyyy-MM-dd"),
        F.lit("</lastmod></url>"),
    )
    pages = events.select(xml.alias("xml"))
    parsed = pages.select(
        F.regexp_extract("xml", "<loc>(.*?)</loc>", 1).alias("url"),
        F.regexp_extract("xml", "<lastmod>(.*?)</lastmod>", 1).alias("lastmod"),
    )
    return parsed.filter(F.col("url").contains("www.bbc.com/news/"))


# --------------------------------------------------------------------
# §2.8 NLP: sentiment (pure-DF lexicon path) + vocab pruning
# --------------------------------------------------------------------


def _sql_sentiment_scores(which: int) -> str:
    """list of per-token scores for polarity (0) / subjectivity (1)."""
    lex = sent.DEFAULT_LEXICON
    words_sql = _sql_str_list(lex)
    cases = " ".join(
        f"WHEN '{w}' THEN {v[which]!r}::DOUBLE" for w, v in lex.items()
    )
    return (
        f"list_transform(list_filter(string_split(text, ' '), "
        f"w -> list_contains({words_sql}, w)), "
        f"w -> CASE w {cases} ELSE 0.0::DOUBLE END)"
    )


def _sql_avg_or_zero(scores_expr: str) -> str:
    # trailing `+ 0.0` normalizes IEEE negative zero: DuckDB's ROUND
    # keeps the double's sign (-1e-9 -> -0.0) while Spark's ROUND goes
    # through BigDecimal, which has no signed zero — without it the
    # two engines hash-differ on docs whose score rounds to zero from
    # below (first seen at sf0.1).
    return (
        f"CASE WHEN len({scores_expr}) > 0 THEN "
        f"ROUND(CAST(list_aggregate({scores_expr}, 'sum') AS DOUBLE) "
        f"/ len({scores_expr}), 6) + 0.0 ELSE 0.0::DOUBLE END"
    )


@register(
    "m6_m7_sentiment_scores",
    f"SELECT doc_id, {_sql_avg_or_zero(_sql_sentiment_scores(0))} AS polarity, "
    f"{_sql_avg_or_zero(_sql_sentiment_scores(1))} AS subjectivity FROM documents",
)
def m6_m7_sentiment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6/M7: per-doc polarity+subjectivity via the pure-DF lexicon
    path (TextBlob twin, sentiment_analysis.ipynb cell 7) — zero
    Python, whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.round(sent.polarity_expr(toks), 6).alias("polarity"),
        F.round(sent.subjectivity_expr(toks), 6).alias("subjectivity"),
    )


@register(
    "sentiment_by_source",
    f"WITH s AS (SELECT source, "
    f"{_sql_avg_or_zero(_sql_sentiment_scores(0))} AS polarity, "
    f"{_sql_avg_or_zero(_sql_sentiment_scores(1))} AS subjectivity "
    f"FROM documents) "
    "SELECT source, "
    "SUM(CAST(ROUND(polarity * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0) "
    "AS avg_polarity, "
    "SUM(CAST(ROUND(subjectivity * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0) "
    "AS avg_subjectivity FROM s GROUP BY source",
)
def sentiment_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6/M7 + A3: grouped mean sentiment (the trend query's agg over
    a categorical key instead of day). Per-doc scores are identical
    doubles in both engines; the group mean goes through integer
    scaling so aggregation order can't skew the result."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "source",
        F.round(sent.polarity_expr(toks), 6).alias("polarity"),
        F.round(sent.subjectivity_expr(toks), 6).alias("subjectivity"),
    )
    return scored.groupBy("source").agg(
        (F.sum(F.round(F.col("polarity") * 1e6).cast("long")) / (F.count("*") * 1e6)).alias(
            "avg_polarity"
        ),
        (
            F.sum(F.round(F.col("subjectivity") * 1e6).cast("long")) / (F.count("*") * 1e6)
        ).alias("avg_subjectivity"),
    )


def _full_lexicon_values_sql() -> str:
    from .functions.lexicon_data import full_lexicon

    return ", ".join(
        "('{}', {}, {})".format(
            w.replace("'", "''"), int(round(p * 1000)), int(round(s * 1000))
        )
        for w, (p, s) in sorted(full_lexicon().items())
    )


@register(
    "sentiment_full_lexicon",
    "WITH lex(word, p_milli, s_milli) AS (VALUES "
    + _full_lexicon_values_sql()
    + "), tok AS (SELECT doc_id, "
    "unnest(string_split(lower(coalesce(text, '')), ' ')) AS word "
    "FROM documents), "
    "j AS (SELECT t.doc_id, l.p_milli, l.s_milli FROM tok t "
    "LEFT JOIN lex l USING (word)) "
    "SELECT doc_id, "
    "CASE WHEN COUNT(p_milli) > 0 THEN "
    "CAST(SUM(p_milli) AS BIGINT) / (COUNT(p_milli) * 1000.0) "
    "ELSE 0.0 END AS polarity, "
    "CASE WHEN COUNT(s_milli) > 0 THEN "
    "CAST(SUM(s_milli) AS BIGINT) / (COUNT(s_milli) * 1000.0) "
    "ELSE 0.0 END AS subjectivity "
    "FROM j GROUP BY doc_id",
)
def sentiment_full_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6/M7 at realistic lexicon size: the ~2k-entry engine lexicon
    through the large-lexicon broadcast-join path (the TextBlob
    en-sentiment.xml slot, sentiment_analysis.ipynb cell 7 —
    reference means: polarity 0.0654 / subjectivity 0.3966 over
    articles_sentiments.csv).

    A map-literal plan (the m6_m7 path) stops scaling around a few
    hundred lexicon entries — the expression tree itself bloats — so
    this is the shape that holds: ``sentiment.score_with_lexicon_join``
    (explode tokens, broadcast-join the lexicon, re-aggregate per doc
    with an exact integer milli-unit sum divided once).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    tokens = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    return sent.score_with_lexicon_join(
        docs, tokens, ["doc_id"], sent.full_lexicon_df(spark)
    )


def _pattern_rules_sql() -> str:
    from .functions.sentiment import MODIFIER_INTENSITY, NEGATIONS

    mods = " ".join(
        f"WHEN '{w}' THEN {float(i)!r}"
        for w, i in sorted(MODIFIER_INTENSITY.items())
    )
    negs = ", ".join(f"'{n}'" for n in NEGATIONS)
    # mirrors sentiment.pattern_scores expression-for-expression:
    # identical IEEE op order, micro-quantized assessments, exact
    # integer re-aggregation.
    return f"""
WITH lex(word, p_milli, s_milli) AS (VALUES {_full_lexicon_values_sql()}),
t AS (SELECT doc_id,
      list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                  x -> x <> '') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS idx,
               unnest(toks) AS word FROM t),
att AS (SELECT tok.doc_id, tok.idx, tok.word, l.p_milli, l.s_milli,
               l.word IS NOT NULL AS is_hit,
               CASE tok.word {mods} ELSE NULL END AS self_mod
        FROM tok LEFT JOIN lex l ON tok.word = l.word),
ctx AS (SELECT doc_id, p_milli, s_milli, is_hit, self_mod,
               COALESCE(LAG(self_mod, 1) OVER w, 1.0) AS mi,
               CASE WHEN LAG(self_mod, 1) OVER w IS NOT NULL
                    THEN LAG(word, 2) OVER w
                    ELSE LAG(word, 1) OVER w END AS neg_word,
               COALESCE(LEAD(is_hit, 1) OVER w, false) AS next_hit
        FROM att WINDOW w AS (PARTITION BY doc_id ORDER BY idx)),
assess AS (
  SELECT doc_id,
    CAST(ROUND(GREATEST(-1.0, LEAST(1.0, (p_milli / 1000.0) *
        (CASE WHEN neg THEN 1.0 / mi ELSE mi END))) *
        (CASE WHEN neg THEN -0.5 ELSE 1.0 END) * 1000000.0) AS BIGINT)
      AS p_micro,
    CAST(ROUND(GREATEST(0.0, LEAST(1.0, (s_milli / 1000.0) *
        (CASE WHEN neg THEN 1.0 / mi ELSE mi END))) * 1000000.0) AS BIGINT)
      AS s_micro
  FROM (SELECT *, COALESCE(neg_word IN ({negs}), false) AS neg FROM ctx)
  WHERE is_hit AND NOT (self_mod IS NOT NULL AND next_hit))
SELECT d.doc_id,
  COALESCE(CAST(a.sp AS BIGINT) / (a.n * 1000000.0), 0.0) AS polarity,
  COALESCE(CAST(a.ss AS BIGINT) / (a.n * 1000000.0), 0.0) AS subjectivity
FROM documents d LEFT JOIN
  (SELECT doc_id, SUM(p_micro) AS sp, SUM(s_micro) AS ss, COUNT(*) AS n
   FROM assess GROUP BY doc_id) a ON d.doc_id = a.doc_id
"""


@register("sentiment_pattern_rules", _pattern_rules_sql())
def sentiment_pattern_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6/M7 fidelity path: PatternAnalyzer's negation + intensifier
    chunk rules (TextBlob's actual scorer, sentiment_analysis.ipynb
    cell 7; algorithm per Pattern's public Sentiment.assessments,
    BSD) as one relational plan — posexplode + broadcast lexicon join
    + LAG/LEAD chunk context + exact integer re-aggregation. The
    canonical TextBlob values ("very good" -> 0.91, "not good" ->
    -0.35, "not very good" -> -0.269230...) are pinned by
    tests/test_sentiment.py."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return sent.pattern_scores(spark, docs, "text", ["doc_id"])


@register(
    "a4_vocab_prune",
    "WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) "
    "AS term FROM documents), "
    "c AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term) "
    "SELECT term, df FROM c "
    "WHERE df >= 10 AND df <= 0.9 * (SELECT COUNT(*) FROM documents)",
)
def a4_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: Dictionary.filter_extremes(no_below=10, no_above=0.9)
    (topic_modelling.ipynb cell 7) as explode-distinct + doc-frequency
    count + bounds — exactly what CountVectorizer(minDF, maxDF) does
    internally."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    terms = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter((F.col("df") >= 10) & (F.col("df") <= 0.9 * F.col("total")))
        .select("term", "df")
    )




# --------------------------------------------------------------------
# round 10 (cont.): URL canonicalization + crawl dedup (the in-run
# F6/F7 URL-dedup family done to RFC 3986 normalization rules)
# --------------------------------------------------------------------

_URLCANON_SQL = r"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://News.Example.COM:443/' || source || '/' ||
         CAST(doc_id AS VARCHAR) || '?utm_source=feed&page=' ||
         CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=x#sec-' ||
         CAST(doc_id AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id,
         'https://news.example.com/' || source || '/' ||
         CAST(doc_id AS VARCHAR) || '?page=' ||
         CAST(doc_id % 5 AS VARCHAR) || '&utm_medium=rss' AS url
  FROM documents
  UNION ALL
  SELECT doc_id,
         'https://news.example.com/' || source || '/' ||
         CAST(doc_id AS VARCHAR) || '/?page=' ||
         CAST(doc_id % 5 AS VARCHAR) || '#top' AS url
  FROM documents WHERE doc_id % 3 = 0
),
c AS (
  SELECT doc_id, url,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
    regexp_extract(regexp_replace(url, '#.*$', ''),
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$', 1) AS pathq
  FROM raw
),
p AS (
  SELECT doc_id,
    scheme,
    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
         ELSE hostport END AS host,
    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/$', '') AS pth,
    list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
      q -> q <> '' AND NOT starts_with(q, 'utm_')
           AND NOT starts_with(q, 'gclid=')
           AND NOT starts_with(q, 'fbclid=')) AS kept
  FROM c
),
canon AS (
  SELECT doc_id,
    scheme || '://' || host || pth ||
    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
         ELSE '' END AS url
  FROM p
)
SELECT url, CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM canon GROUP BY url
"""


@register("url_canonicalize_dedup", _URLCANON_SQL)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + crawl dedup (RFC 3986 §6 syntax-based
    normalization + the standard tracking-param strip): raw crawl
    variants — cased scheme/host, default port, utm/gclid params,
    fragments, trailing slash — synthesized deterministically per doc
    (the planted-fixture pattern of the dedup family), canonicalized
    by `sources/sitemap.canonicalize_url`, and counted per canonical
    form. Each doc's 2-3 raw variants collapse to exactly ONE
    canonical URL, the invariant a crawl frontier's seen-set
    (F6/F7, bloom seen-set) depends on. Pure codegen regex/HOF
    projection + ONE hash agg keyed on the canonical string — at
    100 TB this runs ahead of the anti-join/Bloom dedup as a map
    stage. The oracle replays the same regex surgery in DuckDB
    (shared dialect subset; survivor-param order preserved, not
    sorted — identical in any engine)."""
    from .sources.sitemap import canonicalize_url

    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    page = (F.col("doc_id") % 5).cast("string")
    v0 = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://News.Example.COM:443/"), F.col("source"),
            F.lit("/"), sid, F.lit("?utm_source=feed&page="), page,
            F.lit("&utm_campaign=x#sec-"), sid,
        ).alias("url"),
    )
    v1 = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://news.example.com/"), F.col("source"),
            F.lit("/"), sid, F.lit("?page="), page,
            F.lit("&utm_medium=rss"),
        ).alias("url"),
    )
    v2 = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(
            F.lit("https://news.example.com/"), F.col("source"),
            F.lit("/"), sid, F.lit("/?page="), page, F.lit("#top"),
        ).alias("url"),
    )
    raw = v0.unionByName(v1).unionByName(v2)
    return (
        raw.select("doc_id", canonicalize_url(F.col("url")).alias("url"))
        .groupBy("url")
        .agg(
            F.count("*").alias("n_raw"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
