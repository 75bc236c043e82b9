"""The crawl round loop — SURVEY.md §4.2, end to end.

Reference parity: one ``run_crawl`` ≙ ``python -m newscrawler`` (EP1): the
scrapy scheduler/dupefilter/politeness/robots machinery re-expressed as
the per-round DataFrame chain, the corpus scan standing in for the
downloader (A3 — the Iceberg/parquet ``pages`` table IS the network), the
pipeline chain (heuristics gate → extraction → storage) as the gated
Arrow map stages, and JOBDIR persistence as snapshot commits (A11/G2).

Determinism: every ordering ends in ``url_hash`` (frontier.order_cols);
``discovered_round`` replaces wall-clock discovery time; fetch ordering +
seen membership are asserted equal to the pure-Python mini-oracle in
tests/test_e2e_ordering.py.

Scale notes (100 TB / 10^10 urls): per-round state flows through the
checkpoint parquet (no unbounded lineage); the seen-set anti-join runs
behind the partitioned Bloom prefilter; the politeness window salts hot
hosts; robots rules and the seeds table broadcast; ``html`` bytes cross
the Arrow boundary once per fetched page, in the single page pass
(``process.process_pages``).

Physical plan: a round has one default path (broadcast candidates, a
persisted hit set) and one bulk path, chosen only from what the round can
observe — a bucketed corpus (written at bootstrap when ``extra_frontier``
is given) and a previous frontier above ``materialize_candidates_rows``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newscrawler_spark.config import DEFAULT_CONFIG, CrawlConfig
from newscrawler_spark.functions.discover_core import PRIO_FEED, PRIO_SEED
from newscrawler_spark.operators import bucketio as BIO
from newscrawler_spark.operators import frontier as FR
from newscrawler_spark.operators import linkgraph as LG
from newscrawler_spark.operators import process as P
from newscrawler_spark.operators import robots as R
from newscrawler_spark.operators import seen as SN
from newscrawler_spark.operators.extract import ARTICLES_SCHEMA
from newscrawler_spark.operators.store import (
    COUNTERS_SCHEMA,
    FETCH_LOG_SCHEMA,
    SEEN_SCHEMA,
    CrawlState,
    local_table,
)

_PHASE_LOG = os.environ.get("SPARK_GRAFT_PHASE_LOG") == "1"


class _phase:
    """Coarse driver-side phase timer (enabled by SPARK_GRAFT_PHASE_LOG=1):
    prints wall per labeled block to stderr — used to size the serial /
    per-round-constant fraction that caps strong scaling."""

    def __init__(self, label: str):
        self.label = label

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        if _PHASE_LOG:
            import sys as _sys

            print(f"[phase] {self.label}: "
                  f"{time.monotonic() - self.t0:.2f}s", file=_sys.stderr)
        return False


def enrich_pages(pages: DataFrame) -> DataFrame:
    """A3 prep — canon/hash/host columns + duplicate-variant collapse.

    Multiple corpus spellings of one logical page (query order, www.,
    fragments) collapse to one row per ``url_hash`` — the redirect/
    canonical merge analog (B11). Winner: latest ``warc_ts``, then
    lexicographically smallest raw url (deterministic).
    """
    from pyspark.sql import Window

    e = FR.enrich_urls(pages)
    w = Window.partitionBy("url_hash").orderBy(F.desc("warc_ts"), F.asc("url"))
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        # precomputed so byte counters never force an html column read
        # (the streaming-fetch path prunes its key join to slim columns)
        .withColumn("html_bytes", F.length("html").cast("long"))
    )


def _seed_frontier(seeds_e: DataFrame) -> DataFrame:
    return seeds_e.select(
        F.col("seed_url").alias("url"),
        F.col("url_canon"),
        F.col("url_hash"),
        F.col("host"),
        F.lit(PRIO_SEED).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.col("host").alias("seed_host"),
        F.lit(0).alias("retry"),
    )


def _sitemap_frontier(sitemaps: DataFrame, seeds: DataFrame) -> DataFrame:
    """C3 bootstrap — robots-declared sitemap urls for sitemap-strategy
    seeds enter round 0 as feed-priority requests."""
    sm_seeds = seeds.where(F.col("crawler").isin("sitemap", "recursive_sitemap"))
    picked = sitemaps.join(
        F.broadcast(sm_seeds.select("host").distinct()), "host", "left_semi"
    )
    return FR.enrich_urls(picked.select(F.col("sitemap_url").alias("url"), "host"), "url").select(
        "url", "url_canon", "url_hash",
        F.col("host"),
        F.lit(PRIO_FEED).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.col("host").alias("seed_host"),
        F.lit(0).alias("retry"),
    )


def build_host_budgets(seeds: DataFrame, delays: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """B8 — per-host fetches/round: seed override ∧ robots crawl-delay."""
    base = seeds.select("host", F.col("per_host_budget").alias("__b"))
    j = base.join(delays, "host", "left").withColumn(
        "__d", F.coalesce(F.col("crawl_delay"), F.lit(0.0))
    )
    budget = F.when(
        F.col("__d") > 0,
        F.least(
            F.col("__b"),
            F.greatest(F.lit(1), F.floor(F.lit(cfg.round_seconds) / F.col("__d")).cast("int")),
        ),
    ).otherwise(F.col("__b"))
    return j.select("host", budget.cast("int").alias("budget"))


@dataclass
class CrawlResult:
    state: CrawlState
    rounds_run: int
    final_round: int


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    state_dir: str,
    cfg: CrawlConfig = DEFAULT_CONFIG,
    max_rounds: int = 50,
    run_id: str = "run",
    use_bloom: bool = True,
    extra_frontier: DataFrame | None = None,
) -> CrawlResult:
    """EP1 — full crawl (resumes automatically from the last committed
    round in ``state_dir``; see tests/test_resume.py).

    ``use_bloom=False`` turns off the Bloom seen prefilter: every round
    then dedups children with the exact anti-join alone."""
    from newscrawler_spark.operators.store import make_state

    state = make_state(spark, state_dir, run_id=run_id)

    pages_dir = f"{state_dir}/pages_enriched"
    last = state.latest_round()
    if last is None:
        # one-time corpus enrichment, persisted so every round scans
        # column-pruned parquet instead of recomputing canon over html.
        # A7/bulk mode (explicit url-list frontier ≈ the whole corpus)
        # makes the candidate set too big to broadcast-build on the
        # driver — write the corpus BUCKETED by url_hash so each bulk
        # round's fetch join is the exchange-free bucketed SHJ
        # (operators/bucketio.py).
        pe = enrich_pages(pages)
        if extra_frontier is not None:
            BIO.write_bucketed(pe, pages_dir, cfg.corpus_buckets, "url_hash")
        else:
            pe.write.mode("overwrite").parquet(pages_dir)
    corpus_bucketed = BIO.is_bucketed(pages_dir)
    if corpus_bucketed:
        pages_e = BIO.read_bucketed(spark, pages_dir)
    else:
        pages_e = spark.read.parquet(pages_dir)

    seeds_e = FR.enrich_urls(seeds, "seed_url")
    robots_rules = build_robots_rules_cached(spark, pages_e, state_dir)
    delays = R.host_crawl_delays(robots_rules, cfg.user_agent)
    # Round-invariant dimension tables are LOCALIZED: collected once as
    # Arrow and re-created as JVM LocalRelations (_localize). Otherwise
    # every per-round broadcast re-executes their whole derivation DAG as
    # a separate subjob; a table rebuilt from pickled Python rows would
    # instead run Python tasks in every job that scans it. All are
    # O(#seed hosts) rows by construction.
    budgets_df = build_host_budgets(seeds, delays, cfg)
    budgets_arrow = budgets_df.toArrow()
    _check_one_seed_per_host(budgets_arrow)
    budgets = spark.createDataFrame(budgets_arrow, budgets_df.schema)

    if last is None:
        boot = _seed_frontier(seeds_e).unionByName(
            _sitemap_frontier(R.robots_sitemaps(pages_e), seeds)
        )
        if extra_frontier is not None:
            # A7 bulk/download-list mode: pre-seed the frontier with an
            # explicit URL list (frontier-shaped, see sinks.download_list_
            # frontier) — the reference's DownloadCrawler at corpus scale
            boot = boot.unionByName(extra_frontier.select(*FR.FRONTIER_COLS))
        boot = FR.dedup_in_batch(boot)
        if cfg.respect_robots:
            boot = R.robots_gate(boot, robots_rules, cfg.user_agent)
        empty_articles = local_table(spark, [], ARTICLES_SCHEMA)
        empty_log = local_table(spark, [], FETCH_LOG_SCHEMA)
        empty_counters = local_table(spark, [], COUNTERS_SCHEMA)
        boot = boot.persist()
        # build shards at bootstrap when the seed set alone already
        # clears the activation threshold (A7 bulk mode seeds the whole
        # corpus) — one cached count, outside any timed region
        boot_bloom = use_bloom and (
            cfg.bloom_min_seen_rows == 0
            or boot.count() >= cfg.bloom_min_seen_rows
        )
        state.commit_round(
            0, boot, boot.select("url_hash"), empty_log,
            empty_articles, empty_counters,
            bloom_shards=(
                SN.build_bloom_shards(boot.select("url_hash"), cfg)
                if boot_bloom else None
            ),
            bloom_mode="rebuild" if boot_bloom else None,
        )
        boot.unpersist()
        last = 0

    seed_crawlers = _localize(
        spark,
        seeds.select(F.col("host").alias("seed_host"), "crawler", "max_depth"),
    )
    if cfg.respect_robots:
        # bounded collect: rule tables beyond ~200k rows (10^5+ hosts)
        # stay distributed — their broadcast subjob is then worth paying
        from newscrawler_spark.operators.store import _parquet_rows

        if _parquet_rows(f"{state_dir}/robots_rules") <= 200_000:
            robots_rules = _localize(spark, robots_rules)

    # Optional PageRank frontier signal (B7+, CrawlConfig.rank_priority_
    # weight): host ranks are computed ONCE per state dir from the corpus
    # link graph (round-invariant here; at production scale refresh per
    # crawl epoch), persisted like the robots rules, and reduced to an
    # O(hosts) percentile table that is localized next to the budget
    # table — per round the cost is one broadcast join on the schedule
    # input, nothing else.
    rank_pct = None
    if cfg.rank_priority_weight > 0:
        ranks_dir = f"{state_dir}/host_ranks"
        if not os.path.exists(os.path.join(ranks_dir, "_SUCCESS")):
            edges = LG.host_edges_from_pages(pages_e).withColumnRenamed(
                "src_host", "src"
            ).withColumnRenamed("dst_host", "dst")
            LG.pagerank_fixed_point(
                edges, iterations=cfg.rank_iterations
            ).write.mode("overwrite").parquet(ranks_dir)
        rank_pct = _localize(
            spark, LG.rank_percentiles(spark.read.parquet(ranks_dir))
        )

    # Persisted Bloom shards: read the snapshot committed with the last
    # round (covers seen(last)); None on a pre-shard-format or non-Bloom
    # state dir or while below the activation threshold — rebuilt once
    # on activation, then maintained incrementally.
    shards = state.read_bloom_shards(last) if use_bloom else None
    seen_total = sum(
        state.manifest(x)["row_counts"]["seen_delta"]
        for x in state.committed_rounds()
    )
    # F1 evict-to-recrawl support: when the state dir carries tombstone
    # rounds, a re-fetch of a tombstoned URL must re-enter the seen
    # ledger (delta = children + re-adds) or the URL would be enqueued
    # again by the next page that links to it. Manifest check is
    # driver-side — zero cost on eviction-free state dirs.
    evict_ledger = state.read_seen_evictions(last)
    if evict_ledger is not None:
        evict_ledger = evict_ledger.persist()

    rounds_run = 0
    r = last
    while rounds_run < max_rounds:
        r += 1
        t0 = time.monotonic()
        frontier = state.read_frontier(r - 1)
        man_prev = state.manifest(r - 1)
        if man_prev["row_counts"]["frontier"] == 0:
            r -= 1
            break

        # ---- B7/B8: schedule this round's candidates. frontier_rows from
        # the manifest drives the bulk switch (window vs distributed rank
        # here, persisted vs materialized candidates below). The PageRank
        # bonus reorders this round's schedule only: new_frontier is built
        # from the un-bonused frontier, so waiting rows never compound it.
        frontier_rows = man_prev["row_counts"]["frontier"]
        sched_in = frontier
        if rank_pct is not None:
            sched_in = LG.apply_rank_bonus(
                frontier, rank_pct, cfg.rank_priority_weight
            )
        cand = FR.schedule_round(
            sched_in, cfg, budgets, frontier_rows=frontier_rows,
        ).drop("budget")

        # ---- A3: "fetch" = corpus join on url_hash. The candidate set is
        # bounded (hosts×budget / batch_size) so it broadcasts and the
        # pages table is STREAMED — a plain left join SMJ would shuffle
        # the whole corpus (html bytes included) EVERY round. Misses
        # (404s) are recovered with a cheap anti-join on the small side.
        bulk = frontier_rows > cfg.materialize_candidates_rows
        bucket = bulk and corpus_bucketed
        if bulk:
            # one parallel write, then every downstream build is a cheap
            # columnar re-scan — without this, each consuming action's
            # broadcast subjob re-walks the window lineage (profiled as
            # the second-largest task-time bucket in the bulk round).
            # On a bucketed corpus the write doubles as the join's
            # co-bucketing.
            with _phase("schedule+cand_write"):
                cand_path = f"{state_dir}/scratch_cand"
                if bucket:
                    BIO.write_bucketed(
                        cand, cand_path, cfg.corpus_buckets, "url_hash"
                    )
                    cand = BIO.read_bucketed(spark, cand_path)
                else:
                    cand.write.mode("overwrite").parquet(cand_path)
                    cand = spark.read.parquet(cand_path)
        else:
            cand = cand.persist()
        page_cols = pages_e.select(
            "url_hash", F.col("url").alias("page_url"), "warc_ts", "html", "lang"
        )

        def _log_cols(df):
            return df.select(
                "url", "url_canon", "url_hash", "host",
                F.lit(r).alias("fetch_round"),
                "rank_in_host", "priority", "depth", "seed_host", "retry",
                "status",
                F.spark_partition_id().alias("partition_id"),
                F.concat_ws(
                    ":", F.lit(run_id), F.lit(r), F.spark_partition_id()
                ).alias("lineage_id"),
            )

        def _with_crawler(df):
            return df.join(F.broadcast(seed_crawlers), "seed_host", "left").withColumn(
                "crawler", F.coalesce("crawler", F.lit(cfg.default_crawler))
            )

        if bucket:
            # STREAMING fetched set — at bulk scale the hit set ≈ the
            # corpus, and materializing its html is the round's GC/IO
            # bill: profiled 10x GC blowup at 4x width from the
            # heap-cached html alone. Instead:
            # (a) statuses come from a SLIM key join — the bucketed scan
            #     prunes the corpus read to the url_hash column;
            # (b) the full html join runs exactly once, fused straight
            #     into the Arrow pass — html flows scan→extract and is
            #     never stored anywhere.
            # Both sides are bucketed by url_hash into cfg.corpus_buckets
            # → SHJ with zero exchange and zero sort; the build side is
            # one bucket of candidates, never the whole set.
            hb = (
                F.col("html_bytes") if "html_bytes" in pages_e.columns
                else F.length("html").cast("long")  # legacy state dir
            )
            hit_keys = (
                pages_e.select("url_hash", hb.alias("html_bytes"))
                .join(cand.select("url_hash").hint("shuffle_hash"), "url_hash")
                .persist()
            )
            hit = None
            fetched_slim = _with_crawler(
                cand.join(
                    hit_keys.select("url_hash").withColumn("__hit", F.lit(True)),
                    "url_hash", "left"
                ).withColumn(
                    "status",
                    F.when(F.col("__hit").isNotNull(), 200).otherwise(404),
                ).drop("__hit")
            )
            fetch_log = _log_cols(fetched_slim)
            ok = _with_crawler(
                page_cols.join(cand.hint("shuffle_hash"), "url_hash")
            ).withColumn("status", F.lit(200))
        else:
            # bounded rounds: the hit set is small — JVM cache
            hit = page_cols.join(F.broadcast(cand), "url_hash").persist()
            miss = (
                cand.join(hit.select("url_hash"), "url_hash", "left_anti")
                .withColumn("page_url", F.lit(None).cast("string"))
                .withColumn("warc_ts", F.lit(None).cast("timestamp"))
                .withColumn("html", F.lit(None).cast("binary"))
                .withColumn("lang", F.lit(None).cast("string"))
            )
            fetched = hit.unionByName(miss.select(hit.columns))
            fetched = _with_crawler(fetched).withColumn(
                "status", F.when(F.col("html").isNotNull(), 200).otherwise(404)
            )
            fetch_log = _log_cols(fetched)
            ok = fetched.where(F.col("status") == 200)

        # ---- D+E+C: ONE Arrow pass (stats, article record, links) —
        # html crosses to Python exactly once per round
        processed = P.process_pages(ok, cfg).persist()
        articles = P.articles_from_processed(processed, cfg)
        children = P.children_from_processed(processed, r - 1)
        children = FR.enrich_urls(children)
        children = children.where(F.col("host") == F.col("seed_host"))  # B4
        children = children.join(F.broadcast(seed_crawlers), "seed_host", "left").where(
            F.col("depth") <= F.coalesce(F.col("max_depth"), F.lit(cfg.max_depth))
        ).drop("crawler", "max_depth")  # B6
        children = FR.dedup_in_batch(children.select(*FR.FRONTIER_COLS))
        if cfg.respect_robots:
            children = R.robots_gate(children, robots_rules, cfg.user_agent)
        # materialize BEFORE the seen-dedup: bloom_dedup references its
        # input twice (fresh ∪ exact-confirmed) — the two branches must
        # probe the identical row set, not two re-executions of the
        # discovery pipeline
        gated_children = children.persist()
        seen_df = state.read_seen(r - 1)
        bloom_mode = None
        # below the threshold the shard fold + probe cost more than the
        # exact anti-join they would prefilter — run exact and keep
        # shards unset so crossing the threshold rebuilds once
        eff_bloom = use_bloom and seen_total >= cfg.bloom_min_seen_rows
        if not eff_bloom:
            shards = None
        if eff_bloom:
            # O(|delta|) maintenance: probe the persisted shards; rebuild
            # from the full seen set ONLY when absent (legacy state dir)
            # or past the saturation rule — at 10^10 URLs the difference
            # is a ~12 GB shard fold vs re-hashing the whole ledger.
            if shards is None or SN.shards_saturated(
                state.bloom_shard_stats(r - 1), cfg.bloom_bits_per_key
            ):
                shards = SN.build_bloom_shards(seen_df, cfg)
                bloom_mode = "rebuild"
            else:
                bloom_mode = "incremental"
            children = SN.bloom_dedup_with_shards(
                gated_children, seen_df, shards, cfg
            )
        else:
            children = FR.dedup_against_seen(gated_children, seen_df)

        # persist the per-round outputs: each feeds BOTH the commit write
        # and a counter, and fetch_log/children sit above Arrow UDF stages
        # — without this every count() would re-run extraction/discovery
        fetch_log = fetch_log.persist()
        children = children.persist()
        articles = articles.persist()

        retries = FR.make_retries(fetch_log, cfg)
        if rank_pct is not None:
            # the fetch log records the scheduled (bonused) priority; take
            # the bonus back off so a retry re-enters at its base priority
            retries = LG.apply_rank_bonus(
                retries, rank_pct, -cfg.rank_priority_weight
            )

        new_frontier = (
            frontier.join(cand.select("url_hash"), "url_hash", "left_anti")
            .select(*FR.FRONTIER_COLS)
            .unionByName(children.select(*FR.FRONTIER_COLS))
            .unionByName(retries.select(*FR.FRONTIER_COLS))
        )

        # ---- counters: one Spark agg job (n_ok + bytes off the cached
        # fetched set); every row count comes free from the parquet
        # footers of the committed tables via counters_builder
        with _phase("hit_materialize+stats"):
            if hit is None:
                # streaming-fetch path: the slim key join already carries
                # the precomputed byte counts — no html read
                ok_stats = hit_keys.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("html_bytes").alias("b"),
                ).first()
            else:
                ok_stats = hit.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("html")).alias("b"),
                ).first()

        def build_counters(counts: dict):
            n_sched = counts["fetch_log"]
            n_children = counts["seen_delta"]
            return local_table(
                spark,
                [
                    (
                        run_id, r, n_sched + n_children, n_children, n_sched,
                        ok_stats.n, counts["articles_delta"],
                        int(ok_stats.b or 0),
                        int((time.monotonic() - t0) * 1000),
                    )
                ],
                COUNTERS_SCHEMA,
            )

        seen_delta = children.select("url_hash")
        if evict_ledger is not None:
            # re-add tombstoned hashes fetched this round. retry==0 keeps
            # the re-add to the FIRST attempt of each evict→re-fetch
            # cycle (retries of a failed re-fetch would otherwise re-add
            # the same hash with no intervening tombstone, breaking the
            # ledger's set-ness). The ledger is tiny → broadcast semi.
            readds = (
                fetch_log.where(F.col("retry") == 0)
                .select("url_hash")
                .join(F.broadcast(evict_ledger), "url_hash", "left_semi")
            )
            seen_delta = seen_delta.unionByName(readds)
        with _phase("commit_round"):
            man = state.commit_round(
                r, new_frontier, seen_delta, fetch_log, articles,
                counters_builder=build_counters,
                bloom_shards=(
                    SN.update_bloom_shards(shards, seen_delta, cfg)
                    if eff_bloom else None
                ),
                bloom_mode=bloom_mode,
            )
        seen_total += man["row_counts"]["seen_delta"]
        if eff_bloom:
            # re-read the committed shards: keeps lineage flat (no
            # cogroup-of-cogroup chains across rounds) and makes resume
            # and the in-loop state read the same bytes
            shards = state.read_bloom_shards(r)
        if cfg.compact_seen_every and r % cfg.compact_seen_every == 0:
            with _phase("compact_seen"):
                state.compact_seen(r)
        n_sched = man["row_counts"]["fetch_log"]
        for df in (cand, fetch_log, children, articles, gated_children,
                   processed, hit_keys if hit is None else hit):
            df.unpersist()
        rounds_run += 1
        if n_sched == 0:
            break

    if evict_ledger is not None:
        evict_ledger.unpersist()
    return CrawlResult(state=state, rounds_run=rounds_run, final_round=r)


def evict_to_recrawl(
    spark: SparkSession,
    state,
    urls: DataFrame,
    cfg: CrawlConfig = DEFAULT_CONFIG,
) -> dict:
    """F1 evict-to-recrawl: make previously-fetched URLs fetchable again.
    One committed eviction round:

    1. tombstones the url_hashes in the seen ledger (``seen_evict``
       table; ``read_seen`` excludes them until a later re-fetch
       re-adds them — see ``CrawlState.read_seen``);
    2. carries the last round's Bloom shards forward unchanged
       (``evict-carry``; Bloom bits cannot be unset). The now-stale
       positive routes an evicted URL through the exact confirm, which
       admits it because the tombstoned ledger no longer holds it — one
       extra confirm-join row per evicted URL until the next rebuild;
    3. re-enqueues the URLs as seed-priority frontier rows, so the next
       ``run_crawl`` round re-fetches them and re-adds them to the
       ledger (the ``evict_ledger`` re-add path in the round loop).

    ``urls``: DataFrame with a ``url`` column (e.g. the changed-items
    output of ``rss_recrawl_compare`` with ``link`` renamed). Returns
    the committed round manifest, or None when ``urls`` is empty (an
    empty eviction commits no round).
    """
    from newscrawler_spark.operators.sinks import download_list_frontier

    last = state.latest_round()
    if last is None:
        raise ValueError("evict_to_recrawl needs a committed crawl state")
    rows = download_list_frontier(urls).persist()
    if not rows.take(1):
        rows.unpersist()
        return None
    evict = rows.select("url_hash")
    # a fetched URL cannot still be queued, but a repeated evict call can
    # race its own prior injection — dedup keeps one frontier row
    frontier = FR.dedup_in_batch(
        state.read_frontier(last).unionByName(rows.select(*FR.FRONTIER_COLS))
    )
    shards = state.read_bloom_shards(last)
    r = last + 1

    def build_counters(counts: dict):
        return local_table(
            spark,
            [(state.run_id, r, counts["seen_evict"], 0, 0, 0, 0, 0, 0)],
            COUNTERS_SCHEMA,
        )

    man = state.commit_round(
        r, frontier, local_table(spark, [], SEEN_SCHEMA),
        local_table(spark, [], FETCH_LOG_SCHEMA),
        local_table(spark, [], ARTICLES_SCHEMA),
        counters_builder=build_counters,
        bloom_shards=shards, bloom_mode="evict-carry",
        seen_evict=evict,
    )
    rows.unpersist()
    return man


def _localize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Collect a small dimension DataFrame as Arrow and rebuild it as a
    JVM ``LocalRelation`` with the same schema — per-query broadcasts
    then ship its bytes instead of re-executing the derivation DAG, and
    no scan of it runs Python. Only for tables bounded by the seed list
    (at 10^7+ hosts keep the distributed form and accept the subjob, or
    persist to parquet)."""
    return spark.createDataFrame(df.toArrow(), df.schema)


def _check_one_seed_per_host(budgets) -> None:
    """The host-keyed tables (budgets, seed crawlers) feed left joins on
    host: a host listed twice in the seeds would multiply its frontier
    rows and so its per-round budget. Checked on the budget table already
    collected to the driver (one row per seed) — no extra Spark job."""
    from collections import Counter

    counts = Counter(budgets.column("host").to_pylist())
    repeated = sorted(str(h) for h, n in counts.items() if n > 1)
    if repeated:
        raise ValueError(
            "seeds list these hosts more than once (one seed per host): "
            + ", ".join(repeated)
        )


def build_robots_rules_cached(
    spark: SparkSession, pages_e: DataFrame, state_dir: str
) -> DataFrame:
    """Robots rule table, parsed once per state dir then read as parquet."""
    path = f"{state_dir}/robots_rules"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        R.build_robots_rules(pages_e).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
