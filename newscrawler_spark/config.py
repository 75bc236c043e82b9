"""Crawl job configuration.

Plays the role of the reference's ini config + site list
(``newscrawler/config.py :: CrawlerConfig`` / ``JsonConfig`` — symbol-level
cite, reference mount empty, SURVEY.md §0; operators A1/A2). All values are
plain driver-side parameters; the seeds live in a small DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class CrawlConfig:
    # scheduling / politeness (SURVEY.md B7/B8)
    per_host_budget: int = 5          # fetches per host per round
    batch_size: int = 100_000         # global fetch budget per round
    max_depth: int = 3                # scrapy DEPTH_LIMIT analog (B6)
    max_retry: int = 2                # RetryMiddleware analog (B10)

    # heuristics gate (D7) — boolean expression over the page_stats
    # columns, evaluated by Catalyst after compile_condition().
    # Default mirrors the reference's documented default condition.
    heuristics_condition: str = (
        "og_type AND (linked_headlines OR self_linked_headlines)"
    )
    linked_headlines_max_ratio: float = 0.65   # D2 threshold
    self_linked_headlines_max_ratio: float = 0.56  # D3 threshold

    # robots (A4/B9)
    respect_robots: bool = True
    user_agent: str = "newscrawler"
    # politeness time quantum one fetch_round models (B8): with a robots
    # Crawl-delay d, a host's budget is min(per_host_budget,
    # max(1, floor(round_seconds / d))) — deterministic, shared with the
    # mini-oracle.
    round_seconds: float = 10.0

    # A3 fetch join / bulk switch. A round has one default physical path:
    # broadcast the (bounded) candidate set so the huge pages table is
    # STREAMED, never shuffled, and persist the small hit set. Once the
    # previous round's frontier (known free from its manifest) exceeds
    # materialize_candidates_rows, the round takes the bulk path instead:
    # distributed rank_in_host (frontier.rank_in_host_distributed), the
    # candidate set materialized to scratch parquet, and — on a bucketed
    # corpus — the exchange-free bucketed candidates⋈pages join with a
    # streaming fetched set. This threshold alone drives that switch.
    materialize_candidates_rows: int = 150_000
    # bucket count for the enriched corpus, which run_crawl writes
    # bucketed by url_hash when it is given an extra_frontier (A7 bulk
    # mode), and for the bulk path's materialized candidate table (must
    # match for the exchange-free join). Size it so one bucket of
    # candidates fits an executor's hash-build memory: at 10^10 urls
    # ~ 64k buckets; 32 covers every local test tier.
    corpus_buckets: int = 32

    # scale path (J / §5.3)
    hot_host_threshold: int = 50_000  # rows/host above which we salt
    salt_buckets: int = 8
    seen_buckets: int = 32            # bucket(url_hash) shard count
    bloom_bits_per_key: int = 10      # ~1% fpp
    # The crawl's seen prefilter is Bloom (operators/seen.py), switched
    # by run_crawl(use_bloom=...). It is exact-confirmed, so the dedup
    # RESULT equals the plain anti-join.
    # Bloom pays its per-round shard fold + probe only once the seen set
    # is large; below this row count the exact anti-join alone is faster
    # (the filter exists for 10^8-10^10 keys, not 10^4). Crossing the
    # threshold triggers one full shard build, then incremental folds.
    # 0 = bloom from round one (tests use this to pin the bloom path).
    bloom_min_seen_rows: int = 200_000
    # fold the per-round seen_delta ledger into one bucketed base table
    # every K committed rounds (0 = never): read_seen then scans
    # base + <=K deltas instead of every round since genesis
    compact_seen_every: int = 8

    # link-graph frontier signal (operators/linkgraph.py): 0 = off
    # (default — the reference scheduler is priority+depth only, and the
    # q20-q26 ordering goldens assume it). >0 = at bootstrap, build the
    # host graph from the corpus html (one Catalyst regexp projection),
    # run fixed-point integer PageRank, persist (node, rank_fp) under
    # state_dir/host_ranks, and add round(weight · host-rank-percentile)
    # to every frontier row's priority at schedule time — the classic
    # crawl-ordering signal (Cho/Garcia-Molina/Page 1998). Deterministic:
    # integer ranks + integer bonus, identical at any cluster size.
    rank_priority_weight: int = 0
    rank_iterations: int = 4

    # seeds defaults (A1)
    default_crawler: str = "recursive_sitemap"

    def with_overrides(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = CrawlConfig()
