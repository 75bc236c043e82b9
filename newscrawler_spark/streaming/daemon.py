"""RSS re-crawl daemon (SURVEY.md §3 G1/G2 + F1).

Reference parity: the reference's ``daemonize`` loop re-runs RSS spiders
every N seconds and routes items through ``RSSCrawlCompare`` instead of
plain stores (``newscrawler/pipeline/pipelines.py :: RSSCrawlCompare``,
``newscrawler/__main__.py`` daemon loop — symbol cites; mount empty,
SURVEY.md §0).

Two equivalent surfaces (same merge function):

- :func:`recrawl_rss_once` — one batch pass: current feed items vs stored
  current article versions → changed/new set → re-extract → append.
- :func:`recrawl_rss_stream` — Structured Streaming ``readStream`` over a
  drop-directory of feed-snapshot parquet, ``foreachBatch`` running the
  SAME batch merge per micro-batch (``availableNow`` in tests; a real
  deployment runs a processingTime trigger = the daemon interval). The
  reference has no event-time semantics — politeness is wall-clock — so
  no watermarking is required (SURVEY.md §3.I streaming row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newscrawler_spark.operators import frontier as FR
from newscrawler_spark.operators.discover import RSS_ITEM_SCHEMA, rss_items
from newscrawler_spark.operators.extract import extract_articles
from newscrawler_spark.operators.store import CrawlState, rss_recrawl_compare


# RFC-822 §5.1 named North-American zones → numeric offsets (the only
# named zones the grammar defines besides UT/GMT and military letters)
_NA_ZONES = {"EST": "-0500", "EDT": "-0400", "CST": "-0600", "CDT": "-0500",
             "MST": "-0700", "MDT": "-0600", "PST": "-0800", "PDT": "-0700"}


def _pubdate_expr():
    """RFC-822 pubDate → timestamp, tolerant of the zone forms feeds
    actually emit. Spark's new datetime parser rejects day-of-week
    ('EEE') in *parse* patterns, so the weekday prefix is stripped; then:

    - GMT/UT/UTC/Z suffixes → parse as UTC (session tz is pinned UTC);
    - numeric offsets (+0130, -0500) → parsed with the 'Z' pattern;
    - RFC-822 named NA zones (EST…PDT) → mapped to their offsets first
      (previously any non-UTC zone made to_timestamp return NULL and the
      strict-newer compare silently dropped genuinely changed items);
    - seconds optional ('d' also accepts 1-digit day-of-month).

    try_to_timestamp keeps unparseable leftovers NULL instead of raising
    under ANSI mode.
    """
    raw = F.regexp_replace(F.col("pub_date_raw"), r"^[A-Za-z]{3},\s*", "")
    no_name = F.regexp_replace(raw, r"\s+(GMT|UT|UTC|Z)$", "")
    mapped = raw
    for name, off in _NA_ZONES.items():
        mapped = F.regexp_replace(mapped, rf"\s+{name}$", f" {off}")
    return F.coalesce(
        F.try_to_timestamp(no_name, F.lit("d MMM yyyy HH:mm:ss")),
        F.try_to_timestamp(no_name, F.lit("d MMM yyyy HH:mm")),
        F.try_to_timestamp(mapped, F.lit("d MMM yyyy HH:mm:ss Z")),
        F.try_to_timestamp(mapped, F.lit("d MMM yyyy HH:mm Z")),
    )


def _stamp_modified(articles: DataFrame, changed: DataFrame) -> DataFrame:
    """Re-crawled versions carry the feed's pubDate as their
    ``download_date`` (≙ the reference updating the stored row's
    modified_date from the feed) — this is what makes a second daemon
    tick a no-op when nothing changed (F1 idempotency)."""
    md = changed.select("url_hash", F.col("modified_date").alias("__md"))
    return (
        articles.join(md, "url_hash", "left")
        .withColumn("download_date", F.coalesce(F.col("__md"), F.col("download_date")))
        .drop("__md")
        .select(articles.columns)
    )


def feed_snapshot(pages_enriched: DataFrame) -> DataFrame:
    """Current RSS items with canonical keys + parsed pubDate."""
    items = rss_items(pages_enriched)
    e = FR.enrich_urls(items, "link")
    return e.select(
        "feed_host", "link", "rss_title", "url_canon", "url_hash",
        _pubdate_expr().alias("modified_date"),
    )


def changed_items(snapshot: DataFrame, state: CrawlState) -> DataFrame:
    """F1 — items that are new or strictly newer than the stored version."""
    return rss_recrawl_compare(snapshot, state.articles_current())


def recrawl_rss_once(
    spark: SparkSession, pages_enriched: DataFrame, state: CrawlState, round_no: int
) -> int:
    """One daemon tick: compare → re-extract changed → commit as a round.

    Returns number of re-extracted articles. The commit reuses the
    snapshot store, so daemon rounds interleave with crawl rounds in one
    resumable history (G2).
    """
    snap = feed_snapshot(pages_enriched)
    changed = changed_items(snap, state)
    fetched = changed.join(
        pages_enriched.select("url_hash", F.col("url").alias("page_url"),
                              "warc_ts", "html", "lang"),
        "url_hash",
    ).select(
        F.col("link").alias("url"), "url_canon", "url_hash", "warc_ts", "html", "lang"
    )
    articles = _stamp_modified(extract_articles(fetched), changed).persist()
    n = articles.count()
    empty_frontier = state.read_frontier()
    from newscrawler_spark.operators.store import (
        COUNTERS_SCHEMA,
        FETCH_LOG_SCHEMA,
        local_table,
    )

    counters = local_table(
        spark, [("rss-daemon", round_no, n, 0, n, n, n, 0, 0)], COUNTERS_SCHEMA
    )
    state.commit_round(
        round_no,
        empty_frontier,
        articles.select("url_hash"),
        local_table(spark, [], FETCH_LOG_SCHEMA),
        articles,
        counters,
    )
    articles.unpersist()
    return n


def recrawl_evict_once(
    spark: SparkSession, pages_enriched: DataFrame, state: CrawlState,
    cfg=None,
) -> dict:
    """F1 daemon tick, evict variant: instead of re-extracting the
    changed items in place (:func:`recrawl_rss_once`), EVICT them from
    the seen set so the next crawl round re-FETCHES them through the
    full pipeline (robots gate, heuristics, extraction, versioned
    store). The Bloom seen shards are carried forward unchanged: an
    evicted URL still probes positive, and the exact confirm admits it
    because the tombstoned ledger no longer holds it.

    Returns the eviction round's manifest (``row_counts['seen_evict']``
    = number of URLs made re-fetchable), or None when nothing changed
    (an empty eviction commits no round).
    """
    from newscrawler_spark.config import CrawlConfig
    from newscrawler_spark.runner import evict_to_recrawl

    cfg = cfg or CrawlConfig()
    snap = feed_snapshot(pages_enriched)
    changed = changed_items(snap, state).select(F.col("link").alias("url"))
    return evict_to_recrawl(spark, state, changed, cfg)


def recrawl_rss_stream(
    spark: SparkSession,
    feed_dir: str,
    state: CrawlState,
    pages_enriched: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """G1 streaming surface: watch ``feed_dir`` for feed-snapshot parquet
    (``RSS_ITEM_SCHEMA`` rows), run the F1 merge per micro-batch.

    Returns the started StreamingQuery (caller awaits/stops it).
    """
    stream = (
        spark.readStream.schema(RSS_ITEM_SCHEMA).parquet(feed_dir)
    )
    state_box = {"round": (state.latest_round() or 0)}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        e = FR.enrich_urls(batch_df, "link")
        snap = e.select(
            "feed_host", "link", "rss_title", "url_canon", "url_hash",
            _pubdate_expr().alias("modified_date"),
        )
        changed = rss_recrawl_compare(snap, state.articles_current())
        fetched = changed.join(
            pages_enriched.select("url_hash", "warc_ts", "html", "lang"), "url_hash"
        ).select(
            F.col("link").alias("url"), "url_canon", "url_hash", "warc_ts",
            "html", "lang",
        )
        articles = _stamp_modified(extract_articles(fetched), changed).persist()
        n = articles.count()
        if n > 0:
            from newscrawler_spark.operators.store import (
                COUNTERS_SCHEMA,
                FETCH_LOG_SCHEMA,
                local_table,
            )

            state_box["round"] += 1
            r = state_box["round"]
            counters = local_table(
                spark, [("rss-stream", r, n, 0, 0, 0, n, 0, 0)],
                COUNTERS_SCHEMA,
            )
            state.commit_round(
                r, state.read_frontier(), articles.select("url_hash"),
                local_table(spark, [], FETCH_LOG_SCHEMA), articles, counters,
            )
        articles.unpersist()

    writer = stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()
