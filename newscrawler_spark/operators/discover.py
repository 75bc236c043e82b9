"""Discovery-side operators over the corpus: the RSS item table (A6/F1)
and spider auto-selection (C3).

A fetched page's child urls (C1/A5/A6) are discovered inside the page
pass (``operators/process.py``), which runs the unified dispatch in
:mod:`newscrawler_spark.functions.discover_core` — the same function the
mini-oracle calls.

UDF discipline: Arrow-batched ``mapInPandas`` only — the per-document
regex scan is inherent to HTML parsing (no lxml offline, SURVEY.md §7.5);
there is no per-row Spark Python UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newscrawler_spark.functions.extract_core import decode_html

RSS_ITEM_SCHEMA = "feed_host string, link string, rss_title string, pub_date_raw string"


def _rss_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from newscrawler_spark.functions.discover_core import classify_page, parse_rss

    for pdf in it:
        rows = []
        for host, url, blob in zip(pdf["host"], pdf["url"], pdf["html"]):
            body = decode_html(blob)
            if classify_page(url, body) != "rss":
                continue
            rows.extend((host, link, title, pub) for link, title, pub in parse_rss(body))
        yield pd.DataFrame(
            rows, columns=["feed_host", "link", "rss_title", "pub_date_raw"]
        )


def rss_items(pages_enriched: DataFrame) -> DataFrame:
    """A6/F1 — flat RSS item table ``(feed_host, link, rss_title,
    pub_date_raw)`` for the re-crawl compare pipeline."""
    feeds = pages_enriched.where(
        F.col("url_canon").endswith("/feed.xml")
        | F.col("url_canon").endswith(".rss")
        | F.col("url_canon").contains("/rss")
    ).select("host", "url", "html")
    return feeds.mapInPandas(_rss_batches, schema=RSS_ITEM_SCHEMA)


def auto_select_crawlers(pages_enriched: DataFrame, seeds: DataFrame) -> DataFrame:
    """C3 — spider auto-selection, relationally.

    ≙ the reference's per-spider ``supports_site(url)`` probes chosen in
    ``single_crawler.py`` (symbol cite; mount empty, SURVEY.md §0):
    robots declares a sitemap → 'recursive_sitemap'; homepage advertises
    an RSS alternate link → 'rss'; else → 'recursive'. Seeds whose
    ``crawler`` is already set keep it; NULL/'auto' rows get the probe
    result. Pure joins over tiny per-host probe tables (broadcast).
    """
    from newscrawler_spark.functions.discover_core import find_rss_link
    from newscrawler_spark.functions.extract_core import decode_html
    from newscrawler_spark.operators.robots import robots_sitemaps

    sm_hosts = (
        robots_sitemaps(pages_enriched)
        .select("host").distinct()
        .withColumn("__has_sitemap", F.lit(True))
    )

    def rss_probe(it):
        for pdf in it:
            rows = []
            for host, url, blob in zip(pdf["host"], pdf["url"], pdf["html"]):
                if find_rss_link(decode_html(blob), url):
                    rows.append((host,))
            yield pd.DataFrame(rows, columns=["host"])

    homepages = pages_enriched.where(
        F.col("url_canon").rlike(r"^https?://[^/]+/$")
    ).select("host", "url", "html")
    rss_hosts = (
        homepages.mapInPandas(rss_probe, schema="host string")
        .distinct()
        .withColumn("__has_rss", F.lit(True))
    )

    out = (
        seeds.join(F.broadcast(sm_hosts), "host", "left")
        .join(F.broadcast(rss_hosts), "host", "left")
        .withColumn(
            "crawler",
            F.when(
                F.col("crawler").isNotNull() & (F.col("crawler") != "auto"),
                F.col("crawler"),
            )
            .when(F.col("__has_rss"), F.lit("rss"))
            .when(F.col("__has_sitemap"), F.lit("recursive_sitemap"))
            .otherwise(F.lit("recursive")),
        )
        .drop("__has_sitemap", "__has_rss")
    )
    return out
