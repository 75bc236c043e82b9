"""Bucketed-table IO + exchange-free A3 fetch join (SURVEY.md §5.3 / J4).

The bulk (A7) crawl joins a corpus-sized candidate set against the page
table; broadcast is the wrong shape there. These tests pin (1) the
bucketio round-trip incl. cross-session re-registration, (2) the
zero-exchange / zero-sort ShuffledHashJoin plan, and (3) end-to-end
equality of the committed crawl state across all three join strategies.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.operators import bucketio as BIO


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bucketio_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _pages(spark, n=20_000):
    return spark.range(n).select(
        (F.col("id") * 7).alias("url_hash"),
        F.sha1(F.col("id").cast("string")).alias("html"),
    )


def test_roundtrip_and_reregistration(spark, tmpdir):
    df = _pages(spark)
    path = os.path.join(tmpdir, "pages")
    BIO.write_bucketed(df, path, 8, "url_hash")
    assert BIO.is_bucketed(path)
    # read twice: the second read exercises the DROP+CREATE re-register
    a = BIO.read_bucketed(spark, path)
    b = BIO.read_bucketed(spark, path)
    assert a.count() == b.count() == 20_000
    assert sorted(a.columns) == sorted(df.columns)


def test_one_file_per_bucket(spark, tmpdir):
    """One file per bucket is the condition under which Spark trusts
    SORTED BY and drops both sorts from the bucketed join."""
    path = os.path.join(tmpdir, "pages")
    BIO.write_bucketed(_pages(spark), path, 8, "url_hash")
    data_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    assert len(data_files) == 8


def test_bucketed_join_plan_has_no_exchange_or_sort(spark, tmpdir):
    pages = _pages(spark)
    cand = spark.range(5_000).select(
        (F.col("id") * 14).alias("url_hash"), F.lit(1).alias("rank_in_host")
    )
    BIO.write_bucketed(pages, os.path.join(tmpdir, "pages"), 8, "url_hash")
    BIO.write_bucketed(cand, os.path.join(tmpdir, "cand"), 8, "url_hash")
    p = BIO.read_bucketed(spark, os.path.join(tmpdir, "pages"))
    c = BIO.read_bucketed(spark, os.path.join(tmpdir, "cand"))
    j = p.join(c.hint("shuffle_hash"), "url_hash")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "Exchange" not in plan
    assert "Sort" not in plan
    assert j.count() == 5_000


def test_torn_spec_degrades_to_plain_scan(spark, tmpdir):
    """Crash-between-data-and-spec discipline (VERDICT r3 #6): the spec
    is the commit marker, written last + atomically. A missing spec
    (crash before rename) reads as un-bucketed; a torn/garbage spec is
    treated identically — read_bucketed still returns correct rows via
    the plain-parquet fallback, never raises."""
    path = os.path.join(tmpdir, "pages")
    BIO.write_bucketed(_pages(spark, 1_000), path, 4, "url_hash")

    # no .tmp residue after a clean commit
    assert not os.path.exists(os.path.join(path, BIO.SPEC_FILE + ".tmp"))

    spec_path = os.path.join(path, BIO.SPEC_FILE)
    # simulate crash BEFORE the rename: data present, marker absent
    os.remove(spec_path)
    assert not BIO.is_bucketed(path)
    df = BIO.read_bucketed(spark, path)
    assert df.count() == 1_000

    # simulate a torn write that somehow landed: garbage JSON
    with open(spec_path, "w") as f:
        f.write('{"buckets": 4, "key": "url_h')
    assert not BIO.is_bucketed(path)
    assert BIO.read_bucketed(spark, path).count() == 1_000

    # stale-format spec (parses, missing required keys) is also untrusted
    with open(spec_path, "w") as f:
        f.write('{"buckets": 4}')
    assert not BIO.is_bucketed(path)
    assert BIO.read_bucketed(spark, path).count() == 1_000


def test_fetch_join_strategies_commit_identical_state(spark, tmpdir):
    """Over the same bucketed corpus, the bulk path's bucketed fetch join
    (streaming fetched set) and the default broadcast join must produce
    byte-identical fetch_log, articles and counters for the same bulk
    (A7) crawl."""
    from newscrawler_spark.operators.sinks import download_list_frontier
    from newscrawler_spark.runner import run_crawl
    from newscrawler_spark.sources.fixtures import pages_df, seeds_df

    pages = pages_df(spark, "smoke")
    seeds = seeds_df(spark, "smoke", per_host_budget=10**6)
    extra = download_list_frontier(pages.select("url"))

    def run(tag, materialize_candidates_rows):
        d = os.path.join(tmpdir, tag)
        cfg = CrawlConfig(
            per_host_budget=10**9, max_depth=3, round_seconds=10**9,
            batch_size=None,
            materialize_candidates_rows=materialize_candidates_rows,
        )
        res = run_crawl(spark, pages, seeds, d, cfg, max_rounds=1,
                        use_bloom=True, extra_frontier=extra)
        assert BIO.is_bucketed(os.path.join(d, "pages_enriched"))
        arts = sorted(
            (r.url_hash, r.article_title)
            for r in res.state.articles_current()
            .select("url_hash", "article_title").collect()
        )
        log = sorted(
            (r.url_hash, r.status, r.rank_in_host)
            for r in res.state.read_fetch_log(1).collect()
        )
        ctr = [
            (r.urls_scheduled, r.urls_fetched, r.bytes_fetched,
             r.articles_extracted)
            for r in res.state.read_counters().collect()
        ]
        return arts, log, ctr

    base = run("broadcast", 10**12)
    assert run("bucket", 0) == base
    assert len(base[1]) > 0
