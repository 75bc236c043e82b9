"""Discovery operators (A5/A6/C1–C3): parser goldens on fixture bodies +
the Spark Arrow pass agreeing with the shared pure-Python dispatch."""

from __future__ import annotations

from pyspark.sql import functions as F

from newscrawler_spark.functions.discover_core import (
    PRIO_FEED,
    PRIO_FEED_CHILD,
    PRIO_LINK,
    classify_page,
    discover_from_page,
    extract_links,
    find_rss_link,
    parse_rss,
    parse_sitemap,
)
from newscrawler_spark.operators.discover import rss_items
from newscrawler_spark.operators.process import (
    children_from_processed,
    process_pages,
)
from newscrawler_spark.sources.fixtures import (
    article_html,
    home_html,
    rss_body,
    sitemap_body,
    sitemap_index_body,
)


def test_classify_page():
    assert classify_page("http://h/robots.txt", "User-agent: *") == "robots"
    assert classify_page("http://h/sitemap.xml", sitemap_body(0, 8)) == "sitemap"
    assert classify_page("http://h/si.xml", sitemap_index_body(0)) == "sitemapindex"
    assert classify_page("http://h/feed.xml", rss_body(0, 8)) == "rss"
    assert classify_page("http://h/a", "<html></html>") == "html"


def test_extract_links_absolutize_and_dedup():
    body = (
        '<a href="/x">a</a> <a href="y/z">b</a> <a href="http://o.example/q">c</a>'
        ' <a href="/x">dup</a> <a href="mailto:a@b">m</a> <a href="#f">f</a>'
    )
    got = extract_links(body, "http://h.example/dir/page")
    assert got == [
        "http://h.example/x",
        "http://h.example/dir/y/z",
        "http://o.example/q",
    ]


def test_parse_sitemap_fixture():
    urls = parse_sitemap(sitemap_body(2, 8))
    assert "http://host02.example/article/0" in urls
    assert "http://host02.example/article/sm-0" in urls
    assert len(urls) == len(range(0, 8, 4)) + 3


def test_parse_rss_fixture():
    items = parse_rss(rss_body(0, 40))
    assert len(items) == 5
    links = [u for u, _t, _d in items]
    # even k → variant spelling (canonical-dup drill)
    assert any(u.startswith("HTTP://WWW.") for u in links)
    assert all(t for _u, t, _d in items)


def test_find_rss_link():
    assert (
        find_rss_link(home_html(0, 40, 3), "http://host00.example/")
        == "http://host00.example/feed.xml"
    )
    assert find_rss_link(home_html(1, 40, 3), "http://host01.example/") is None


def test_dispatch_priorities():
    # html page under recursive crawler → PRIO_LINK children at depth+1
    html, _ = article_html(0, 0, 40, 3)
    ch = discover_from_page("http://host00.example/article/0", html, "recursive", 1)
    assert ch and all(p == PRIO_LINK and d == 2 for _u, p, d in ch)
    # same page under 'download' → nothing followed
    assert discover_from_page("http://host00.example/article/0", html, "download", 1) == []
    # sitemap under sitemap crawler → PRIO_FEED_CHILD
    ch = discover_from_page("http://h/sitemap.xml", sitemap_body(0, 8), "sitemap", 0)
    assert ch and all(p == PRIO_FEED_CHILD and d == 1 for _u, p, d in ch)
    # sitemapindex → children are feeds at SAME depth
    ch = discover_from_page("http://h/si.xml", sitemap_index_body(0), "recursive_sitemap", 0)
    assert ch == [("http://host00.example/sitemap.xml", PRIO_FEED, 0)]
    # rss feed under rss crawler
    ch = discover_from_page("http://h/feed.xml", rss_body(0, 40), "rss", 0)
    assert len(ch) == 5 and all(p == PRIO_FEED_CHILD for _u, p, _d in ch)
    # homepage under rss crawler → just the feed link
    ch = discover_from_page("http://host00.example/", home_html(0, 40, 3), "rss", 0)
    assert ch == [("http://host00.example/feed.xml", PRIO_FEED, 0)]


def test_spark_discover_matches_core(spark):
    html0, _ = article_html(0, 3, 40, 3)
    rows = [
        ("http://host00.example/article/3", html0.encode(), "recursive", 1, "host00.example"),
        ("http://host00.example/sitemap.xml", sitemap_body(0, 40).encode(), "recursive_sitemap", 0, "host00.example"),
        ("http://host00.example/feed.xml", rss_body(0, 40).encode(), "rss", 0, "host00.example"),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, crawler string, depth int, seed_host string"
    ).select(
        "*",
        F.col("url").alias("url_canon"),
        F.xxhash64("url").alias("url_hash"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"),
    )
    children = children_from_processed(process_pages(df), round_no=4)
    got = {(r.url, r.priority, r.depth) for r in children.collect()}
    want = set()
    for url, blob, crawler, depth, _sh in rows:
        for u, p, d in discover_from_page(url, blob.decode(), crawler, depth):
            want.add((u, p, d))
    assert got == want
    rr = children.select("discovered_round").distinct().collect()
    assert [r.discovered_round for r in rr] == [5]


def test_rss_items_table(spark, smoke_pages_e):
    items = rss_items(smoke_pages_e).collect()
    # hosts 0,3,6,9 have feeds, 5 items each
    assert len(items) == 4 * 5
    assert {r.feed_host for r in items} == {
        "host00.example", "host03.example", "host06.example", "host09.example"
    }
    assert all(r.rss_title and r.link for r in items)


def test_auto_select_crawlers(spark, smoke_pages_e, smoke_seeds):
    from pyspark.sql import functions as F

    from newscrawler_spark.operators.discover import auto_select_crawlers

    auto = smoke_seeds.withColumn("crawler", F.lit("auto"))
    got = {r.host: r.crawler for r in auto_select_crawlers(smoke_pages_e, auto).collect()}
    # rss hosts: 0,3,6,9 (homepage advertises the feed)
    assert got["host00.example"] == "rss"
    assert got["host03.example"] == "rss"
    # sitemap-but-no-rss hosts (even, not div by 3): 2,4,8
    assert got["host02.example"] == "recursive_sitemap"
    assert got["host04.example"] == "recursive_sitemap"
    # odd non-rss hosts: plain recursive
    assert got["host01.example"] == "recursive"
    assert got["host05.example"] == "recursive"
    # explicit choices survive
    kept = auto_select_crawlers(smoke_pages_e, smoke_seeds).collect()
    orig = {r.host: r.crawler for r in smoke_seeds.collect()}
    assert {r.host: r.crawler for r in kept} == orig
