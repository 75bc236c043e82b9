"""Ordering/membership/byte-equivalence: engine vs mini-oracle (§6.3 #1–2).

PROVENANCE: goldens are defined by tests/oracle_crawler.py (the reference
mount was empty — SURVEY.md §0); re-baseline if it appears.

The BASELINE invariants asserted here:
- exact fetch ordering: (fetch_round, host, rank_in_host, url_canon,
  url_hash, status) sequences equal;
- URL-seen membership equal as sets;
- byte-identical extracted text per url;
- determinism: bloom-prefiltered run ≡ exact-anti-join run.
"""

from __future__ import annotations

import tempfile

import pytest

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.runner import run_crawl

from tests.oracle_crawler import OracleCrawler

CFG = CrawlConfig(per_host_budget=5, max_depth=3)


def _engine_log(state):
    rows = state.read_fetch_log().orderBy("fetch_round", "host", "rank_in_host").collect()
    return [
        (r.fetch_round, r.host, r.rank_in_host, r.url_canon, r.url_hash, r.status)
        for r in rows
    ]


def _oracle_log(ores):
    out = [
        (d["fetch_round"], d["host"], d["rank_in_host"], d["url_canon"],
         d["url_hash"], d["status"])
        for d in ores.fetch_log
    ]
    out.sort(key=lambda t: (t[0], t[1], t[2]))
    return out


@pytest.fixture(scope="module")
def oracle_result(smoke_pages_pd, smoke_seeds_pd):
    oracle = OracleCrawler(
        smoke_pages_pd.to_dict("records"), smoke_seeds_pd.to_dict("records"), CFG
    )
    return oracle.run(max_rounds=30)


@pytest.fixture(scope="module")
def engine_result(spark, smoke_pages, smoke_seeds):
    with tempfile.TemporaryDirectory(prefix="crawl_e2e_") as d:
        res = run_crawl(spark, smoke_pages, smoke_seeds, d, CFG,
                        max_rounds=30, use_bloom=False)
        yield {
            "log": _engine_log(res.state),
            "seen": {r.url_hash for r in res.state.read_seen().collect()},
            "articles": {r.url_canon: r for r in res.state.read_articles().collect()},
            "rounds": res.rounds_run,
        }


def test_fetch_ordering_exact(engine_result, oracle_result):
    assert engine_result["log"] == _oracle_log(oracle_result)


def test_seen_membership_exact(engine_result, oracle_result):
    assert engine_result["seen"] == oracle_result.seen


def test_extracted_text_byte_identical(engine_result, oracle_result):
    eng = engine_result["articles"]
    assert set(eng) == set(oracle_result.articles)
    for canon, rec in oracle_result.articles.items():
        r = eng[canon]
        assert r.article_text.encode() == rec["article_text"].encode(), canon
        assert r.article_title == rec["article_title"], canon
        # Spark returns naive datetimes in the UTC session tz; the oracle
        # returns tz-aware UTC — same instant, normalize before comparing
        want = rec["article_publish_date"]
        want = want.replace(tzinfo=None) if want is not None else None
        assert r.article_publish_date == want, canon
        assert r.article_language == rec["article_language"], canon


def test_extracted_text_matches_designed_ground_truth(engine_result, smoke_pages_pd):
    """The corpus 'text' column is the designed truth for article pages
    (FIXTURES.md) — extraction must reproduce it byte-for-byte."""
    from newscrawler_spark.functions.canon import canonicalize_py

    truth = {
        canonicalize_py(row.url): row.text
        for row in smoke_pages_pd.itertuples()
        if row.text
    }
    eng = engine_result["articles"]
    checked = 0
    for canon, r in eng.items():
        if canon in truth:
            assert r.article_text == truth[canon], canon
            checked += 1
    assert checked > 100  # most fetched articles are covered


def test_bloom_run_identical(spark, smoke_pages, smoke_seeds, engine_result):
    """Bloom-prefiltered seen-set dedup must not change ANY behavior."""
    with tempfile.TemporaryDirectory(prefix="crawl_bloom_") as d:
        res = run_crawl(spark, smoke_pages, smoke_seeds, d,
                        CFG.with_overrides(bloom_min_seen_rows=0),
                        max_rounds=30, use_bloom=True)
        assert _engine_log(res.state) == engine_result["log"]
        assert {r.url_hash for r in res.state.read_seen().collect()} == engine_result["seen"]


@pytest.mark.parametrize("overrides", [
    {"materialize_candidates_rows": 0},
])
def test_nondefault_config_branches_identical(spark, smoke_pages, smoke_seeds,
                                              engine_result, overrides):
    """The bulk path's round-local branches (candidate set materialized to
    scratch parquet, distributed rank_in_host), forced from round one by a
    zero threshold, must reproduce the default run's fetch log and seen
    set exactly."""
    cfg = CFG.with_overrides(**overrides)
    with tempfile.TemporaryDirectory(prefix="crawl_cfgbr_") as d:
        res = run_crawl(spark, smoke_pages, smoke_seeds, d, cfg,
                        max_rounds=30, use_bloom=False)
        assert _engine_log(res.state) == engine_result["log"], overrides
        assert {r.url_hash for r in res.state.read_seen().collect()} == \
            engine_result["seen"], overrides


def test_global_batch_cut(spark, smoke_pages, smoke_seeds, smoke_pages_pd, smoke_seeds_pd):
    """A small global batch_size truncates each round identically."""
    cfg = CrawlConfig(per_host_budget=5, max_depth=3, batch_size=7)
    oracle = OracleCrawler(
        smoke_pages_pd.to_dict("records"), smoke_seeds_pd.to_dict("records"), cfg
    )
    ores = oracle.run(max_rounds=6)
    with tempfile.TemporaryDirectory(prefix="crawl_cut_") as d:
        res = run_crawl(spark, smoke_pages, smoke_seeds, d, cfg,
                        max_rounds=6, use_bloom=False)
        eng = _engine_log(res.state)
    orc = _oracle_log(ores)
    assert eng == orc
    rounds = {t[0] for t in eng}
    for r in rounds:
        assert sum(1 for t in eng if t[0] == r) <= 7
