"""Sitemap XML ingestion (SURVEY §2.1 S1-S3, §2.2 F1/F2).

The reference fetches sitemap-index + shard XML over HTTP and parses
``<url><loc>…</loc><lastmod>…</lastmod></url>`` records with
BeautifulSoup (bbc_news_dag.py:22-52, archive_scraper.py:16-52).

Engine design:
- Fetching is an out-of-engine ingest concern; the engine consumes a
  DataFrame of raw XML bodies (shard_id, xml) — from local fixture
  files, a driver-side fetch, or any connector.
- Parsing is pure Catalyst: ``<url>`` blocks via regexp_extract_all,
  fields via regexp_extract — one codegen'd projection, partition
  per shard, linear at any shard count (S3's numbered-shard loop
  becomes one read over all shards).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

URL_BLOCK_PATTERN = "(?s)<url>(.*?)</url>"
NEWS_URL_SUBSTR = "www.bbc.com/news/"


def parse_sitemap(pages: DataFrame, xml_col: str = "xml") -> DataFrame:
    """S2: XML -> (lastmod, url) rows.

    explode per-<url> blocks, then extract child tags. Equivalent to
    bs(xml).find_all('url') + .loc/.lastmod (bbc_news_dag.py:28-34)
    but fully JVM-side.
    """
    blocks = pages.select(
        F.explode(
            F.regexp_extract_all(xml_col, F.lit(URL_BLOCK_PATTERN), 1)
        ).alias("block")
    )
    return blocks.select(
        F.regexp_extract("block", "<lastmod>(.*?)</lastmod>", 1).alias("lastmod"),
        F.regexp_extract("block", "<loc>(.*?)</loc>", 1).alias("url"),
    )


def filter_news_links(
    links: DataFrame, cutoff_lastmod: str | None = None
) -> DataFrame:
    """F1+F2: keep bbc news urls, optionally newer than a cutoff
    (lexicographic ISO-8601 compare, archive_scraper.py:28)."""
    out = links.filter(F.col("url").contains(NEWS_URL_SUBSTR))
    if cutoff_lastmod is not None:
        out = out.filter(F.col("lastmod") > F.lit(cutoff_lastmod))
    return out


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization for crawl dedup (the news-scraper /
    web-corpus normalization pass; rules per RFC 3986 §6 syntax-based
    normalization plus the standard tracking-param strip used by
    CC/news pipelines): lowercase scheme and host, drop default ports
    (:443 https / :80 http), drop the fragment, strip utm_*/gclid/
    fbclid query params (preserving the order of the survivors —
    order-preserving filter is identical in any engine; sorting is a
    policy choice, not a correctness one), and strip one trailing
    slash from a non-root path. Pure codegen regex/HOF string
    surgery; every regex stays inside the shared Java-regex/RE2
    dialect subset. The empty-surviving-params case rebuilds ''
    explicitly (DuckDB's array_to_string of an empty list is NULL
    while Spark's array_join is '' — the known trap)."""
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(
        F.regexp_extract(nofrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    hostport = F.lower(
        F.regexp_extract(nofrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1)
    )
    host = F.when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(
        F.when(
            scheme == "http", F.regexp_replace(hostport, ":80$", "")
        ).otherwise(hostport)
    )
    pathq = F.regexp_extract(
        nofrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$", 1
    )
    path = F.regexp_replace(
        F.regexp_extract(pathq, "^([^?]*)", 1), "/$", ""
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.startswith(p, F.lit("utm_"))
        & ~F.startswith(p, F.lit("gclid="))
        & ~F.startswith(p, F.lit("fbclid=")),
    )
    q = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, q)
