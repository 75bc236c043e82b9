"""Robots operators (A4/B9): Spark gate ≡ pure-Python allowed_py on both
fixture corpora and adversarial synthetic rule tables; crawl-delay budgets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.functions.canon import canonicalize_py
from newscrawler_spark.functions.hashing import spark_xxhash64_str
from newscrawler_spark.functions.robots_core import (
    allowed_py,
    parse_robots_body,
    url_path,
)
from newscrawler_spark.operators.robots import (
    ROBOTS_RULES_SCHEMA,
    build_robots_rules,
    host_crawl_delays,
    robots_gate,
    robots_sitemaps,
)
from newscrawler_spark.operators.store import FRONTIER_SCHEMA, local_table

ADVERSARIAL_ROBOTS = """\
User-agent: *
Disallow: /private/
Disallow: /a
Allow: /a/b
Disallow: /a/b/c
Allow: /a/b/c
Crawl-delay: 2.5

User-agent: newscrawler
Disallow: /nc-only/
Allow: /private/peek
"""


@pytest.fixture(scope="module")
def adv_rules():
    rules, _ = parse_robots_body("x.example", ADVERSARIAL_ROBOTS)
    return rules


@pytest.fixture(scope="module")
def adv_rules_df(spark, adv_rules):
    return local_table(
        spark,
        [
            (r.host, r.user_agent, r.path_prefix, r.allow, r.rule_order, r.crawl_delay)
            for r in adv_rules
        ],
        ROBOTS_RULES_SCHEMA,
    )


PATHS = [
    "/", "/a", "/a/", "/a/b", "/a/b/", "/a/b/c", "/a/b/cd", "/a/b/c/d",
    "/private/", "/private/x", "/private/peek", "/private/peekaboo",
    "/nc-only/x", "/other", "/ab",
]


def _frontier_for(spark, paths):
    rows = []
    for p in paths:
        u = f"http://x.example{p}"
        c = canonicalize_py(u)
        rows.append((u, c, spark_xxhash64_str(c), "x.example", 1, 0, 0, "x.example", 0))
    return local_table(spark, rows, FRONTIER_SCHEMA)


@pytest.mark.parametrize("ua", ["*", "newscrawler", "SomeBot"])
def test_gate_matches_allowed_py(spark, adv_rules, adv_rules_df, ua):
    fr = _frontier_for(spark, PATHS)
    got = {url_path(r.url_canon) for r in robots_gate(fr, adv_rules_df, ua).collect()}
    want = {p for p in PATHS if allowed_py(adv_rules, p, ua)}
    assert got == want


def test_longest_prefix_and_tie_semantics(adv_rules):
    # /a disallowed, /a/b allowed (longer), /a/b/c: tie → Allow wins
    assert not allowed_py(adv_rules, "/a")
    assert allowed_py(adv_rules, "/a/b")
    assert allowed_py(adv_rules, "/a/b/c")
    assert allowed_py(adv_rules, "/a/b/c/d")
    # exact-UA group REPLACES the * group (scrapy/Google semantics)
    assert allowed_py(adv_rules, "/a", "newscrawler")
    assert not allowed_py(adv_rules, "/nc-only/x", "newscrawler")
    assert allowed_py(adv_rules, "/private/peek", "newscrawler")
    assert not allowed_py(adv_rules, "/private/x", "*")


def test_no_rules_host_is_allowed(spark, adv_rules_df):
    rows = [("http://free.example/x", "http://free.example/x",
             spark_xxhash64_str("http://free.example/x"), "free.example",
             1, 0, 0, "free.example", 0)]
    fr = spark.createDataFrame(
        rows,
        "url string, url_canon string, url_hash long, host string, priority int, "
        "depth int, discovered_round int, seed_host string, retry int",
    )
    assert robots_gate(fr, adv_rules_df).count() == 1


def test_build_rules_from_corpus(spark, smoke_pages_e):
    rules = build_robots_rules(smoke_pages_e)
    rows = rules.collect()
    hosts = {r.host for r in rows}
    assert len(hosts) == 10  # every smoke host has robots.txt
    h0 = [r for r in rows if r.host == "host00.example"]
    prefixes = {(r.path_prefix, r.allow) for r in h0}
    assert ("/private/", False) in prefixes
    assert ("/article/12", True) in prefixes
    assert all(r.crawl_delay == 2.0 for r in h0)


def test_sitemap_declarations(spark, smoke_pages_e):
    sm = {r.host: r.sitemap_url for r in robots_sitemaps(smoke_pages_e).collect()}
    assert sm["host00.example"] == "http://host00.example/sitemap.xml"
    assert "host01.example" not in sm  # odd hosts have no sitemap


def test_host_crawl_delays(spark, adv_rules_df):
    d = {r.host: r.crawl_delay for r in host_crawl_delays(adv_rules_df).collect()}
    assert d["x.example"] == 2.5


def test_gate_plan_is_jvm_only(spark, adv_rules_df):
    fr = _frontier_for(spark, PATHS)
    plan = robots_gate(fr, adv_rules_df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "ExistingRDD" not in plan  # both sides are JVM LocalRelations
    assert "Broadcast" in plan  # rule table must broadcast


# ---- degenerate robots inputs: the whole smoke corpus crawled with no
# robots.txt at all (empty rule table) and with every host blocked


def _smoke_with_robots(smoke_pages_pd, body: str | None):
    """The smoke corpus with every robots.txt row dropped (``body=None``)
    or its body replaced."""
    pages = smoke_pages_pd.copy()
    is_robots = pages["url"].str.endswith("/robots.txt")
    assert is_robots.sum() == 10
    if body is None:
        return pages[~is_robots].reset_index(drop=True)
    pages.loc[is_robots, "html"] = pages.loc[is_robots, "url"].map(
        lambda _: body.encode())
    return pages


def test_crawl_without_robots_matches_oracle(spark, tmp_path, smoke_pages_pd,
                                             smoke_seeds_pd, smoke_seeds):
    """No robots.txt anywhere: the localized rule table is empty, every
    path is allowed, no sitemap is declared — and the crawl still equals
    the oracle's."""
    from newscrawler_spark.config import CrawlConfig
    from newscrawler_spark.operators.store import _parquet_rows
    from newscrawler_spark.runner import run_crawl
    from newscrawler_spark.sources.fixtures import PAGES_SCHEMA
    from tests.oracle_crawler import OracleCrawler
    from tests.test_e2e_ordering import _engine_log, _oracle_log

    cfg = CrawlConfig(per_host_budget=5, max_depth=3)
    pages_pd = _smoke_with_robots(smoke_pages_pd, None)
    pages = spark.createDataFrame(pages_pd, schema=PAGES_SCHEMA)
    res = run_crawl(spark, pages, smoke_seeds, str(tmp_path), cfg,
                    max_rounds=30, use_bloom=False)
    assert _parquet_rows(str(tmp_path / "robots_rules")) == 0
    want = OracleCrawler(pages_pd.to_dict("records"),
                         smoke_seeds_pd.to_dict("records"), cfg).run(max_rounds=30)
    assert _engine_log(res.state) == _oracle_log(want)
    assert {r.url_hash for r in res.state.read_seen().collect()} == want.seen
    # the robots-blocked /private/ section is crawlable now
    assert any("/private/" in row[3] for row in _engine_log(res.state))


def test_crawl_all_blocked_commits_empty_round0(spark, tmp_path,
                                                smoke_pages_pd, smoke_seeds):
    """Every host disallows everything: the robots gate removes every
    seed, round 0 commits an empty frontier, and no round runs."""
    from newscrawler_spark.runner import run_crawl
    from newscrawler_spark.sources.fixtures import PAGES_SCHEMA

    pages_pd = _smoke_with_robots(smoke_pages_pd, "User-agent: *\nDisallow: /\n")
    pages = spark.createDataFrame(pages_pd, schema=PAGES_SCHEMA)
    res = run_crawl(spark, pages, smoke_seeds, str(tmp_path), max_rounds=5)
    assert res.rounds_run == 0
    assert res.final_round == 0
    assert res.state.committed_rounds() == [0]
    counts = res.state.manifest(0)["row_counts"]
    assert counts["frontier"] == 0
    assert counts["seen_delta"] == 0
    assert res.state.read_fetch_log().count() == 0
