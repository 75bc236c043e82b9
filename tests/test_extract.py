"""Extraction + heuristics (D/E, SURVEY.md §6.3 #1): byte-identical body
text vs the designed ground truth, date-cascade goldens, heuristic gate
classification, condition compiler equivalence.

PROVENANCE: goldens are mini-oracle/fixture-defined (reference mount was
empty — SURVEY.md §0)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.functions.extract_core import (
    extract_article,
    extract_body_text,
    extract_publish_date,
    page_stats,
    strip_tags,
)
from newscrawler_spark.operators.extract import with_is_current
from newscrawler_spark.operators.heuristics import compile_condition
from newscrawler_spark.operators.process import (
    articles_from_processed,
    process_pages,
)
from newscrawler_spark.sources.fixtures import (
    TIERS,
    article_html,
    article_url,
    home_html,
    hub_html,
    publish_date,
)

TIER = TIERS["smoke"]


def test_strip_tags():
    assert strip_tags("<p>a  <b>b</b> &amp; c</p>") == "a b & c"


def test_body_text_matches_designed_truth_all_smoke_articles():
    for k in range(40):
        html, truth = article_html(0, k, 40, 3)
        assert extract_body_text(html) == truth, k


def test_body_scoring_drops_link_dense_blocks():
    html = (
        "<p>" + "long body sentence " * 20 + "</p>"
        '<p class="more"><a href="/x">short link para</a></p>'
    )
    txt = extract_body_text(html)
    assert "long body sentence" in txt
    assert "short link para" not in txt


@pytest.mark.parametrize("k,mech", [(0, "jsonld"), (1, "meta"), (2, "time")])
def test_date_cascade_mechanisms(k, mech):
    html, _ = article_html(0, k, 40, 3)
    url = article_url(0, k)
    dt = extract_publish_date(html, url)
    want = publish_date(k)
    assert dt == want.replace(tzinfo=timezone.utc)


def test_date_cascade_url_fallback():
    """No JSON-LD/meta/<time> in the doc → the /YYYY/MM/DD/ path wins."""
    dt = extract_publish_date("<html><p>x</p></html>", "http://h/2016/05/21/story-20")
    assert dt == datetime(2016, 5, 21, tzinfo=timezone.utc)
    assert extract_publish_date("<html></html>", "http://h/a") is None


def test_heuristics_classify_article_vs_hub():
    a_html, _ = article_html(0, 0, 40, 3)
    a = page_stats(a_html, article_url(0, 0))
    assert a["og_type"] and a["linked_headline_ratio"] <= 0.65
    h = page_stats(hub_html(0, 0, 40), "http://host00.example/section/0")
    assert not h["og_type"] and h["linked_headline_ratio"] > 0.65
    hm = page_stats(home_html(0, 40, 3), "http://host00.example/")
    assert not hm["og_type"]


def test_condition_compiler_default(spark):
    cfg = CrawlConfig()
    rows = [
        ("a", True, 3, 0.2, 0.2, True, True, 5, "recursive"),   # passes
        ("b", False, 3, 0.2, 0.2, True, True, 5, "recursive"),  # no og_type
        ("c", True, 3, 0.9, 0.9, True, True, 5, "recursive"),   # ratios too high
    ]
    df = spark.createDataFrame(
        rows,
        "url string, og_type boolean, n_headlines int, linked_headline_ratio double, "
        "self_linked_headline_ratio double, is_not_from_subdomain boolean, "
        "meta_contains_article_keywords boolean, n_paragraphs int, crawler string",
    )
    got = [r.url for r in df.where(compile_condition(cfg)).collect()]
    assert got == ["a"]


def test_condition_compiler_d6_and_unknown(spark):
    cfg = CrawlConfig(heuristics_condition="crawler_contains_only_article_alikes")
    df = spark.createDataFrame(
        [("a", "rss"), ("b", "recursive")], "url string, crawler string"
    )
    got = [r.url for r in df.where(compile_condition(cfg)).collect()]
    assert got == ["a"]
    with pytest.raises(ValueError):
        compile_condition(CrawlConfig(heuristics_condition="evil_heuristic"))


def test_spark_stats_and_extract_pipeline(spark):
    rows = []
    for k in range(6):
        html, truth = article_html(1, k, 40, 3)
        rows.append(
            (article_url(1, k), f"c{k}", k, datetime(2016, 5, 1), html.encode(), "en",
             "recursive", 1, "host01.example", truth)
        )
    rows.append(
        ("http://host01.example/section/0", "ch", 99, datetime(2016, 5, 1),
         hub_html(1, 0, 40).encode(), "en", "recursive", 1, "host01.example",
         None)
    )
    df = spark.createDataFrame(
        rows,
        "url string, url_canon string, url_hash long, warc_ts timestamp, "
        "html binary, lang string, crawler string, depth int, "
        "seed_host string, truth string",
    )
    cfg = CrawlConfig()
    arts = articles_from_processed(
        process_pages(df.drop("truth"), cfg), cfg
    ).collect()
    assert len(arts) == 6  # hub filtered out
    truth = {r[0]: r[-1] for r in rows if r[-1] is not None}
    for r in arts:
        assert r.article_text == truth[r.url], r.url
        assert r.article_title
        assert r.article_language == "en"
        assert r.source_domain == "host01.example"


def test_with_is_current_versioning(spark):
    rows = [
        ("u", 1, datetime(2016, 5, 1), "v1"),
        ("u", 1, datetime(2016, 6, 1), "v2"),
        ("w", 2, datetime(2016, 5, 1), "only"),
    ]
    df = spark.createDataFrame(
        rows, "url string, url_hash long, download_date timestamp, article_text string"
    ).withColumn("warc_ts", F.col("download_date"))
    cur = {
        r.article_text
        for r in with_is_current(df).where("is_current").collect()
    }
    assert cur == {"v2", "only"}


def test_articles_as_of_time_travel(spark):
    from newscrawler_spark.operators.extract import articles_as_of

    rows = [
        ("u", 1, datetime(2016, 5, 1), "v1"),
        ("u", 1, datetime(2016, 6, 1), "v2"),
        ("w", 2, datetime(2016, 5, 10), "only"),
        ("x", 3, datetime(2016, 7, 1), "future"),  # not yet crawled at cutoff
    ]
    df = spark.createDataFrame(
        rows, "url string, url_hash long, download_date timestamp, article_text string"
    ).withColumn("warc_ts", F.col("download_date"))
    # literal cutoff: v2 and x invisible, u resolves to v1
    asof = {
        r.article_text
        for r in articles_as_of(df, F.lit(datetime(2016, 5, 15))).collect()
    }
    assert asof == {"v1", "only"}
    # derived single-row DataFrame cutoff (broadcast path): min date → u@v1 only
    cutoff = df.select(F.min("download_date").alias("c"))
    asof_min = {r.article_text for r in articles_as_of(df, cutoff).collect()}
    assert asof_min == {"v1"}
    # as-of "now" ≡ with_is_current
    asof_all = {
        r.article_text
        for r in articles_as_of(df, F.lit(datetime(2017, 1, 1))).collect()
    }
    assert asof_all == {"v2", "only", "future"}
