"""Frontier operators: enrichment, dedup, priority scheduling, retries.

SURVEY.md §3 B1–B8/B10. Reference parity (symbol cites; mount empty, §0):

- B3 URL-seen dedup ≙ ``scrapy.dupefilters.RFPDupeFilter.request_seen`` —
  here a ``left_anti`` join on ``url_hash`` (Bloom-prefiltered at scale by
  :mod:`newscrawler_spark.operators.seen`).
- B7 priority queue ≙ ``scrapy.core.scheduler.Scheduler`` + queuelib —
  re-expressed as windowed rank-per-host ordering (the north rule's form).
- B8 politeness ≙ scrapy ``DOWNLOAD_DELAY`` / ``CONCURRENT_REQUESTS_PER_
  DOMAIN`` downloader slots — per-round per-host budget via the same
  window, with salted pre-pruning for hot hosts (SURVEY.md §5.3).

TOTAL ORDER (shared with tests/oracle_crawler.py — every orderBy/window
below ends in ``url_hash`` so plans are deterministic under AQE):

    priority DESC, depth ASC, discovered_round ASC, url_hash ASC

Everything here is native DataFrame/Catalyst code: canon/host/hash are
codegen'd column expressions (functions/canon.py), joins/windows stay
JVM-side; zero Python UDFs in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.functions.canon import canon_expr, host_expr, url_hash_expr

FRONTIER_COLS = [
    "url", "url_canon", "url_hash", "host",
    "priority", "depth", "discovered_round", "seed_host", "retry",
]


def order_cols() -> list[Column]:
    """The engine-wide total fetch order (ties impossible: url_hash last)."""
    return [
        F.desc("priority"),
        F.asc("depth"),
        F.asc("discovered_round"),
        F.asc("url_hash"),
    ]


ORDER_SQL = "priority DESC, depth ASC, discovered_round ASC, url_hash ASC"


def enrich_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """B1/B2/B5 — add ``url_canon``, ``url_hash``, ``host`` (all codegen'd)."""
    return (
        df.withColumn("url_canon", canon_expr(url_col))
        .withColumn("url_hash", url_hash_expr("url_canon"))
        .withColumn("host", host_expr(url_col))
    )


def rank_in_host_distributed(
    df: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Exact per-host total-order rank WITHOUT a one-task-per-host sort.

    ``Window.partitionBy("host")`` sorts each host in a single task — a
    10^8-row host is a serial sort and the J4 scaling ceiling. This form
    is fully distributed and returns the identical ``rank_in_host``:

    1. range-partition on ``(host, total order)`` → every host's rows are
       split into order-CONTIGUOUS slices (a slice boundary never
       reorders rows within a host);
    2. local rank inside each ``(host, slice)`` group — groups are
       bounded by the range-partition size, never by host size;
    3. per-(host, slice) counts: range slices hold contiguous host runs,
       so there are ≤ #hosts + P − 1 such rows — a tiny table; a window
       over it turns counts into running offsets;
    4. ``rank = local_rank + offset`` via a broadcast join.

    Exact under ANY choice of range boundaries (offsets account for the
    actual slice contents) — but only if steps 2 and 3 see the SAME
    boundaries. ``__slice`` comes from ``spark_partition_id()`` over a
    sampled range exchange, and the offsets branch is a separate job:
    left lazy, the two evaluations can sample different boundaries
    (e.g. AQE re-plans the scan between jobs) and the offsets no longer
    match the local ranks — observed, not hypothetical. The ranked
    slices are therefore PERSISTED (memory-and-disk: spill, never
    recompute) so both branches read one materialized slicing. The
    frontier is a URL table — orders of magnitude smaller than the page
    corpus — so this cache is cheap even at 10^10 urls/cluster scale;
    the caller materializes candidates right after, so it is short-lived.
    Ties are impossible: the total order ends in ``url_hash``.

    Cost: 2 shuffles of the frontier (range + the (host,slice) window's
    hash exchange) vs 1 for the window form — but every sort is bounded
    by ``|frontier| / P``, so wall time scales with cores instead of with
    the hottest host.
    """
    from pyspark import StorageLevel

    p = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    parts = df.repartitionByRange(p, F.asc("host"), *order_cols()).withColumn(
        "__slice", F.spark_partition_id()
    )
    w_local = Window.partitionBy("host", "__slice").orderBy(*order_cols())
    local = parts.withColumn("__lrk", F.row_number().over(w_local)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts = local.groupBy("host", "__slice").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = (
        Window.partitionBy("host")
        .orderBy("__slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "host",
        "__slice",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), ["host", "__slice"])
        .withColumn("rank_in_host", (F.col("__lrk") + F.col("__off")).cast("int"))
        .drop("__lrk", "__off", "__slice")
    )


def dedup_in_batch(df: DataFrame) -> DataFrame:
    """In-batch distinct by ``url_hash``, keeping the total-order winner
    (deterministic, unlike ``dropDuplicates`` which keeps an arbitrary row)."""
    # extra raw-url tie-break: two *spellings* with equal hash AND equal
    # order keys must pick the same winner as the oracle
    w = Window.partitionBy("url_hash").orderBy(*order_cols(), F.asc("url"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_against_seen(links: DataFrame, seen: DataFrame) -> DataFrame:
    """B3 exact path — drop urls whose hash is in the seen set.

    ``seen`` must be a DataFrame with a ``url_hash`` column. At 10^10 keys
    use :func:`newscrawler_spark.operators.seen.bloom_dedup` which calls
    this only on the Bloom "maybe" subset.
    """
    return links.join(seen.select("url_hash"), "url_hash", "left_anti")


def offsite_filter(links: DataFrame, seed_hosts: DataFrame) -> DataFrame:
    """B4 — keep links whose registered domain is a seed host.

    ``seed_hosts(host)`` is tiny (one row per seed) → broadcast semi join;
    mirrors scrapy's OffsiteMiddleware ``allowed_domains`` check.
    """
    return links.join(
        F.broadcast(seed_hosts.select("host").distinct()), "host", "left_semi"
    )


def depth_filter(links: DataFrame, max_depth: int) -> DataFrame:
    """B6 — scrapy ``DEPTH_LIMIT`` analog."""
    return links.where(F.col("depth") <= F.lit(max_depth))


def schedule_round(
    frontier: DataFrame,
    cfg: CrawlConfig,
    host_budgets: DataFrame | None = None,
    frontier_rows: int | None = None,
) -> DataFrame:
    """B7+B8 — pick this round's fetch candidates.

    1. per-host budget: ``host_budgets(host, budget)`` (broadcast; e.g.
       robots crawl-delay-derived) else ``cfg.per_host_budget``;
    2. hot hosts (pending rows > ``cfg.hot_host_threshold``) go through a
       salted pre-prune window ``(host, pmod(url_hash, S))`` keeping ≤
       budget rows per salt — bounds any single sort partition to
       ~|host|/S rows — then an exact window over ≤ S·budget rows/host.
       Cold hosts take the exact window directly. Results are identical
       either way (the salt pass only discards rows that could never be
       in the per-host top-budget); only the physical plan differs.
    3. global cut: total-order ``orderBy().limit(batch_size)`` (Spark
       runs TakeOrdered: per-partition top-k then merge — no full sort).
       Set ``cfg.batch_size`` to None to disable.
    4. ``rank_in_host`` recomputed on the final (small) candidate set so
       ranks are gap-free — the mini-oracle defines the same.

    Physical strategy (distributed once ``frontier_rows`` exceeds
    ``cfg.materialize_candidates_rows``, else window): the window form
    sorts each host in ONE task; the distributed form
    (:func:`rank_in_host_distributed`) range-partitions the frontier and
    adds per-slice offsets — identical output (equality-tested), every
    sort bounded by ``|frontier| / P``. The budget filter on the
    distributed rank keeps the rank-prefix 1..budget per host, so ranks
    are already gap-free and no final window is needed when there is no
    global cut.

    Returns frontier columns + ``budget`` + ``rank_in_host``.
    """
    fr = frontier
    if host_budgets is not None:
        fr = fr.join(F.broadcast(host_budgets), "host", "left").withColumn(
            "budget", F.coalesce(F.col("budget"), F.lit(cfg.per_host_budget))
        )
    else:
        fr = fr.withColumn("budget", F.lit(cfg.per_host_budget))

    if (frontier_rows is not None
            and frontier_rows > cfg.materialize_candidates_rows):
        ranked = rank_in_host_distributed(fr).select(*fr.columns, "rank_in_host")
        cand = ranked.where(F.col("rank_in_host") <= F.col("budget"))
        if cfg.batch_size is not None:
            # global cut breaks per-host rank contiguity → recompute on
            # the (small, ≤ batch_size) survivor set
            w_host = Window.partitionBy("host").orderBy(*order_cols())
            cand = (
                cand.orderBy(*order_cols())
                .limit(cfg.batch_size)
                .drop("rank_in_host")
                .withColumn("rank_in_host", F.row_number().over(w_host))
            )
        return cand

    counts = fr.groupBy("host").agg(F.count(F.lit(1)).alias("__n"))
    hot = counts.where(F.col("__n") > cfg.hot_host_threshold).select("host")
    fr = fr.join(F.broadcast(hot.withColumn("__hot", F.lit(True))), "host", "left")

    cold_part = fr.where(F.col("__hot").isNull()).drop("__hot")
    hot_part = fr.where(F.col("__hot").isNotNull()).drop("__hot")

    w_host = Window.partitionBy("host").orderBy(*order_cols())

    cold_c = (
        cold_part.withColumn("__rk", F.row_number().over(w_host))
        .where(F.col("__rk") <= F.col("budget"))
        .drop("__rk")
    )

    s = cfg.salt_buckets
    w_salt = Window.partitionBy("host", "__salt").orderBy(*order_cols())
    hot_c = (
        hot_part.withColumn("__salt", F.pmod("url_hash", F.lit(s)))
        .withColumn("__rk1", F.row_number().over(w_salt))
        .where(F.col("__rk1") <= F.col("budget"))  # keep full budget per salt: exactness
        .drop("__rk1", "__salt")
        .withColumn("__rk", F.row_number().over(w_host))
        .where(F.col("__rk") <= F.col("budget"))
        .drop("__rk")
    )

    cand = cold_c.unionByName(hot_c)
    if cfg.batch_size is not None:
        cand = cand.orderBy(*order_cols()).limit(cfg.batch_size)

    return cand.withColumn("rank_in_host", F.row_number().over(w_host))


def make_retries(fetch_log: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """B10 — failed fetches re-enter the frontier with backoff.

    ≙ scrapy ``RetryMiddleware``: ``status != 200 and retry < max_retry``
    → requeue at priority-1 with retry+1 (next round = backoff quantum).
    """
    return (
        fetch_log.where(
            (F.col("status") != 200) & (F.col("retry") < F.lit(cfg.max_retry))
        )
        .select(
            "url", "url_canon", "url_hash", "host",
            (F.col("priority") - 1).alias("priority"),
            "depth",
            (F.col("fetch_round") + 1).alias("discovered_round"),
            "seed_host",
            (F.col("retry") + 1).alias("retry"),
        )
    )
