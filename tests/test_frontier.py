"""Frontier scheduling unit/property tests (B3–B8, SURVEY.md §6.3 #3):
budget never exceeded, salting changes the plan but never the result,
global cut respects the total order, retries requeue correctly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.operators import frontier as FR


def _frontier_df(spark, rows):
    """rows: (url, url_hash, host, priority, depth, discovered_round)"""
    return spark.createDataFrame(
        [
            (u, f"c:{u}", h, host, p, d, r, host, 0)
            for (u, h, host, p, d, r) in rows
        ],
        "url string, url_canon string, url_hash long, host string, priority int, "
        "depth int, discovered_round int, seed_host string, retry int",
    )


@pytest.fixture(scope="module")
def skew_frontier(spark):
    rows = []
    # hot host: 500 pending; two cold hosts: 20 each
    for i in range(500):
        rows.append((f"http://hot/{i}", i * 7919 - 250, "hot.example", i % 3, i % 4, i % 2))
    for i in range(20):
        rows.append((f"http://a/{i}", 10_000 + i, "a.example", 1, 1, 0))
        rows.append((f"http://b/{i}", 20_000 + i, "b.example", 1, 1, 0))
    return _frontier_df(spark, rows)


def _key(r):
    return (-r.priority, r.depth, r.discovered_round, r.url_hash)


def test_budget_respected(spark, skew_frontier):
    cfg = CrawlConfig(per_host_budget=5, batch_size=None)
    cand = FR.schedule_round(skew_frontier, cfg).collect()
    per_host = {}
    for r in cand:
        per_host[r.host] = per_host.get(r.host, 0) + 1
    assert all(v <= 5 for v in per_host.values())
    assert per_host == {"hot.example": 5, "a.example": 5, "b.example": 5}


def test_salted_equals_unsalted(spark, skew_frontier):
    """Forcing the salted path (threshold 0) must give the identical
    candidate set + ranks as the plain window (threshold ∞)."""
    plain = CrawlConfig(per_host_budget=7, batch_size=None, hot_host_threshold=10**9)
    salted = CrawlConfig(per_host_budget=7, batch_size=None, hot_host_threshold=10,
                         salt_buckets=4)
    a = {(r.url_hash, r.rank_in_host)
         for r in FR.schedule_round(skew_frontier, plain).collect()}
    b = {(r.url_hash, r.rank_in_host)
         for r in FR.schedule_round(skew_frontier, salted).collect()}
    assert a == b


def test_candidates_are_per_host_top_by_total_order(spark, skew_frontier):
    cfg = CrawlConfig(per_host_budget=5, batch_size=None)
    cand = FR.schedule_round(skew_frontier, cfg).collect()
    allrows = skew_frontier.collect()
    for host in ("hot.example", "a.example", "b.example"):
        want = sorted((r for r in allrows if r.host == host), key=_key)[:5]
        got = sorted((r for r in cand if r.host == host), key=_key)
        assert [r.url_hash for r in got] == [r.url_hash for r in want]
        # ranks follow the total order, 1..k gap-free
        assert [r.rank_in_host for r in got] == list(range(1, 6))


def test_global_cut_takes_total_order_prefix(spark, skew_frontier):
    cfg = CrawlConfig(per_host_budget=5, batch_size=4)
    cand = FR.schedule_round(skew_frontier, cfg).collect()
    nocut = FR.schedule_round(
        skew_frontier, CrawlConfig(per_host_budget=5, batch_size=None)
    ).collect()
    want = sorted(nocut, key=_key)[:4]
    assert sorted(r.url_hash for r in cand) == sorted(r.url_hash for r in want)


def test_host_budgets_override(spark, skew_frontier):
    cfg = CrawlConfig(per_host_budget=5, batch_size=None)
    budgets = spark.createDataFrame(
        [("hot.example", 2)], "host string, budget int"
    )
    cand = FR.schedule_round(skew_frontier, cfg, budgets).collect()
    per_host = {}
    for r in cand:
        per_host[r.host] = per_host.get(r.host, 0) + 1
    assert per_host == {"hot.example": 2, "a.example": 5, "b.example": 5}


def test_dedup_in_batch_picks_total_order_winner(spark):
    df = _frontier_df(
        spark,
        [
            ("http://x/link", 42, "x.example", 10, 2, 1),
            ("http://x/feed-child", 42, "x.example", 50, 1, 1),
        ],
    )
    got = FR.dedup_in_batch(df).collect()
    assert len(got) == 1
    assert got[0].priority == 50


def test_dedup_against_seen(spark):
    links = _frontier_df(spark, [("u1", 1, "h", 1, 1, 1), ("u2", 2, "h", 1, 1, 1)])
    seen = spark.createDataFrame([(2,)], "url_hash long")
    got = FR.dedup_against_seen(links, seen).collect()
    assert [r.url_hash for r in got] == [1]


def test_make_retries(spark):
    cfg = CrawlConfig(max_retry=2)
    log = spark.createDataFrame(
        [
            ("u1", "c1", 1, "h", 3, 1, 5, 1, "h", 0, 404, 0, "x"),
            ("u2", "c2", 2, "h", 3, 1, 5, 1, "h", 2, 404, 0, "x"),  # exhausted
            ("u3", "c3", 3, "h", 3, 1, 5, 1, "h", 0, 200, 0, "x"),  # ok
        ],
        "url string, url_canon string, url_hash long, host string, fetch_round int, "
        "rank_in_host int, priority int, depth int, seed_host string, retry int, "
        "status int, partition_id int, lineage_id string",
    )
    got = FR.make_retries(log, cfg).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.url, r.priority, r.retry, r.discovered_round) == ("u1", 4, 1, 4)


def test_offsite_filter(spark):
    links = _frontier_df(
        spark, [("u1", 1, "in.example", 1, 1, 1), ("u2", 2, "out.example", 1, 1, 1)]
    )
    seeds = spark.createDataFrame([("in.example",)], "host string")
    got = FR.offsite_filter(links, seeds).collect()
    assert [r.url_hash for r in got] == [1]


def test_depth_filter(spark):
    links = _frontier_df(spark, [("u1", 1, "h", 1, 2, 1), ("u2", 2, "h", 1, 5, 1)])
    got = FR.depth_filter(links, 3).collect()
    assert [r.url_hash for r in got] == [1]


def test_schedule_plan_has_no_python_stage(spark, skew_frontier):
    """B7/B8 must stay fully JVM-side (no Arrow/Python exchange)."""
    cfg = CrawlConfig(per_host_budget=5, batch_size=None)
    plan = FR.schedule_round(skew_frontier, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_enrich_plan_has_no_python_stage(spark):
    df = spark.createDataFrame([("http://www.X.com/a?b=1&a=2",)], "url string")
    plan = FR.enrich_urls(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


# a frontier size past any materialize_candidates_rows: schedule_round
# takes the distributed rank (frontier_rows=None keeps the window form)
BULK_ROWS = 10**12


def test_distributed_rank_equals_window(spark, skew_frontier):
    """J4 — the distributed (range-slice + offsets) rank must reproduce
    the window form's candidate set and ranks EXACTLY, with and without
    the global cut."""
    for bs in (None, 100):
        cfg = CrawlConfig(per_host_budget=7, batch_size=bs)
        want = sorted(
            (r.url_hash, r.rank_in_host)
            for r in FR.schedule_round(skew_frontier, cfg).collect()
        )
        got = sorted(
            (r.url_hash, r.rank_in_host)
            for r in FR.schedule_round(skew_frontier, cfg,
                                       frontier_rows=BULK_ROWS).collect()
        )
        assert got == want


def test_distributed_rank_unbounded_budget_is_identity(spark, skew_frontier):
    """Bulk (A7) mode: budget >= host size must keep every row, ranks
    gap-free 1..n per host without any final window."""
    cfg = CrawlConfig(per_host_budget=10**9, batch_size=None)
    got = FR.schedule_round(skew_frontier, cfg, frontier_rows=BULK_ROWS)
    rows = got.collect()
    assert len(rows) == skew_frontier.count()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r.rank_in_host)
    for host, ranks in by_host.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_distributed_rank_stable_across_evaluations(spark, skew_frontier):
    """The __slice id comes from spark_partition_id over a sampled range
    exchange; the offsets branch is a separate job. The persist inside
    rank_in_host_distributed pins one slicing — repeated full evaluations
    must agree (this failed before the persist when AQE re-planned the
    scan between the offsets job and the main job)."""
    cfg = CrawlConfig(per_host_budget=10**9, batch_size=None)
    a = sorted(
        (r.url_hash, r.rank_in_host)
        for r in FR.schedule_round(skew_frontier, cfg,
                                   frontier_rows=BULK_ROWS).collect()
    )
    b = sorted(
        (r.url_hash, r.rank_in_host)
        for r in FR.schedule_round(skew_frontier, cfg,
                                   frontier_rows=BULK_ROWS).collect()
    )
    assert a == b


def test_schedule_auto_switches_on_frontier_rows(spark, skew_frontier):
    """frontier_rows (manifest count) drives the auto window/distributed
    choice; both sides of the switch give the same answer."""
    cfg = CrawlConfig(per_host_budget=7, batch_size=None,
                      materialize_candidates_rows=10)
    small = FR.schedule_round(skew_frontier, cfg, frontier_rows=5)
    big = FR.schedule_round(skew_frontier, cfg, frontier_rows=10_000)
    key = lambda df: sorted((r.url_hash, r.rank_in_host) for r in df.collect())
    assert key(small) == key(big)
