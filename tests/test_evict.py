"""F1 evict-to-recrawl: tombstoned seen ledger, frontier re-injection,
re-fetch → re-add, compaction folding. The Bloom shards are carried
forward unchanged (``evict-carry``); an evicted URL still probes
positive and the exact confirm admits it against the tombstoned
ledger."""

from __future__ import annotations

from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.operators.extract import ARTICLES_SCHEMA
from newscrawler_spark.operators.store import (
    COUNTERS_SCHEMA,
    FETCH_LOG_SCHEMA,
    FRONTIER_SCHEMA,
    CrawlState,
)
from newscrawler_spark.runner import evict_to_recrawl, run_crawl

CFG = CrawlConfig(per_host_budget=5, max_depth=3, bloom_min_seen_rows=0)


def _commit(spark, state, r, adds=(), evicts=None):
    """Minimal ledger-only round: empty frontier/log/articles."""
    state.commit_round(
        r,
        spark.createDataFrame([], FRONTIER_SCHEMA),
        spark.createDataFrame([(h,) for h in adds], "url_hash long"),
        spark.createDataFrame([], FETCH_LOG_SCHEMA),
        spark.createDataFrame([], ARTICLES_SCHEMA),
        counters=spark.createDataFrame(
            [("t", r, 0, 0, 0, 0, 0, 0, 0)], COUNTERS_SCHEMA),
        seen_evict=(
            None if evicts is None
            else spark.createDataFrame([(h,) for h in evicts], "url_hash long")
        ),
    )


def _seen(state, upto=None):
    return {r.url_hash for r in state.read_seen(upto).collect()}


def test_read_seen_tombstone_semantics(spark, tmp_path):
    """add → evict → re-add, with as-of reads at every step."""
    st = CrawlState(spark, str(tmp_path))
    _commit(spark, st, 0, adds=[1, 2, 3])
    _commit(spark, st, 1, adds=[4])
    _commit(spark, st, 2, evicts=[2, 4])          # eviction round
    _commit(spark, st, 3, adds=[2])               # re-fetch re-adds 2
    assert _seen(st) == {1, 2, 3}                 # 4 stays evicted
    assert _seen(st, upto=1) == {1, 2, 3, 4}      # before the eviction
    assert _seen(st, upto=2) == {1, 3}            # right after it
    # output is a SET even though hash 2 sits in two delta files
    rows = st.read_seen().collect()
    assert len(rows) == len({r.url_hash for r in rows})
    # evicting a never-added key is a silent no-op for membership
    _commit(spark, st, 4, evicts=[99])
    assert _seen(st) == {1, 2, 3}


def test_compaction_folds_tombstones(spark, tmp_path):
    st = CrawlState(spark, str(tmp_path))
    _commit(spark, st, 0, adds=[1, 2, 3])
    _commit(spark, st, 1, evicts=[2])
    before = _seen(st)
    assert st.compact_seen() == 1
    assert _seen(st) == before == {1, 3}
    # tombstones folded into the base: reads take the fast path again
    assert st._evict_rounds(after=st._seen_base_round()) == []
    # and post-compaction rounds still work
    _commit(spark, st, 2, adds=[2])
    assert _seen(st) == {1, 2, 3}


def _first_article_url(state):
    r = (state.read_articles()
         .select("url", "url_hash").orderBy("url_hash").first())
    return r.url, r.url_hash


def test_evict_to_recrawl_refetches(spark, smoke_pages, smoke_seeds,
                                    tmp_path):
    """Full cycle on a finished crawl: evict one stored URL → next run
    re-fetches exactly that URL and re-adds it to the seen set."""
    d = str(tmp_path / "crawl")
    res = run_crawl(spark, smoke_pages, smoke_seeds, d, CFG, max_rounds=12)
    state = res.state
    # the crawl must be DONE or "exactly one new fetch" is meaningless
    assert state.read_frontier().count() == 0
    url, h = _first_article_url(state)
    n_log = state.read_fetch_log().count()
    assert h in _seen(state)

    man = evict_to_recrawl(
        spark, state, spark.createDataFrame([(url,)], "url string"), CFG)
    assert man["row_counts"]["seen_evict"] == 1
    assert h not in _seen(state)
    assert man["bloom"]["mode"] == "evict-carry"

    res2 = run_crawl(spark, smoke_pages, smoke_seeds, d, CFG, max_rounds=3)
    log = res2.state.read_fetch_log()
    # exactly one NEW fetch, and it is the evicted URL
    assert log.count() == n_log + 1
    assert log.where(F.col("url_hash") == h).count() == 2
    # re-added: stays fetched-once-more even if we keep crawling
    assert h in _seen(res2.state)
    res3 = run_crawl(spark, smoke_pages, smoke_seeds, d, CFG, max_rounds=3)
    assert res3.state.read_fetch_log().where(F.col("url_hash") == h).count() == 2


def test_empty_evict_commits_no_round(spark, smoke_pages, smoke_seeds,
                                      tmp_path):
    d = str(tmp_path / "empty")
    res = run_crawl(spark, smoke_pages, smoke_seeds, d, CFG, max_rounds=2)
    last = res.state.latest_round()
    out = evict_to_recrawl(
        spark, res.state, spark.createDataFrame([], "url string"), CFG)
    assert out is None
    assert res.state.latest_round() == last


def test_recrawl_evict_once_glue(spark, smoke_pages, smoke_seeds,
                                 smoke_pages_e, tmp_path):
    """Daemon tick: changed feed items → eviction round (or None when
    the feed shows nothing new), and the evicted set matches F1's
    changed-items set."""
    from newscrawler_spark.streaming.daemon import (
        changed_items,
        feed_snapshot,
        recrawl_evict_once,
    )

    d = str(tmp_path / "tick")
    res = run_crawl(spark, smoke_pages, smoke_seeds, d, CFG, max_rounds=6)
    state = res.state
    changed = changed_items(feed_snapshot(smoke_pages_e), state)
    want = changed.select("url_hash").distinct().count()
    man = recrawl_evict_once(spark, smoke_pages_e, state, CFG)
    if want == 0:
        assert man is None
    else:
        assert man["row_counts"]["seen_evict"] == want
