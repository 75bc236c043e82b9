"""Composed streaming path: feed stream → stateful seen-dedup → merge.

VERDICT r3 #8: ``recrawl_rss_stream`` (G1 foreachBatch merge) and
``stateful_seen_dedup`` (cross-micro-batch exactly-once URL emission)
were verified apart; this wires them into ONE checkpointed query:

    readStream(feed drop-dir, RSS_ITEM_SCHEMA)
      → enrich_urls (canonical key + 64-bit hash, pure projection)
      → applyInPandasWithState seen-dedup (bucketed GroupState)
      → foreachBatch: fetch-join the corpus → Arrow extraction → commit
        a round into the same resumable CrawlState the batch crawler uses

Exactly-once across restarts comes from the pairing of (a) the dedup
state store and (b) the source/commit log, all under one checkpoint
dir: restarting the query with the same checkpoint resumes from the
last committed micro-batch with the state as of that batch, so a URL
emitted before a stop is never re-emitted after the restart.

Scale shape: the dedup state shards by ``pmod(url_hash, buckets)``
exactly like the batch Bloom ledger; the per-batch merge is the same
broadcast-fetch + fused-Arrow pipeline as a batch round, just driven by
micro-batches. At 10^10-URL scale the state store backend (RocksDB on
executors) holds the buckets; nothing here accumulates on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newscrawler_spark.operators import frontier as FR
from newscrawler_spark.operators.discover import RSS_ITEM_SCHEMA
from newscrawler_spark.operators.extract import extract_articles
from newscrawler_spark.operators.store import CrawlState
from newscrawler_spark.streaming.stateful import stateful_seen_dedup


def streaming_feed_crawl(
    spark: SparkSession,
    feed_dir: str,
    state: CrawlState,
    pages_enriched: DataFrame,
    checkpoint_dir: str,
    buckets: int = 32,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the composed query; returns the StreamingQuery.

    Each micro-batch commits one crawl round containing ONLY urls never
    emitted in any earlier micro-batch (including before a restart).
    """
    reader = spark.readStream.schema(RSS_ITEM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(feed_dir)

    links = FR.enrich_urls(stream, "link").select(
        F.col("link").alias("url"),
        "url_canon",
        "url_hash",
        F.col("feed_host").alias("host"),
    )
    fresh = stateful_seen_dedup(links, buckets=buckets)

    page_cols = pages_enriched.select(
        "url_hash", "warc_ts", "html", "lang"
    )
    state_box = {"round": (state.latest_round() or 0)}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        fetched = batch_df.join(page_cols, "url_hash").select(
            "url", "url_canon", "url_hash", "warc_ts", "html", "lang"
        )
        articles = extract_articles(fetched).persist()
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
                spark, [("feed-stream", r, n, 0, 0, 0, n, 0, 0)],
                COUNTERS_SCHEMA,
            )
            state.commit_round(
                r,
                state.read_frontier(),
                articles.select("url_hash"),
                local_table(spark, [], FETCH_LOG_SCHEMA),
                articles,
                counters,
            )
        articles.unpersist()

    writer = fresh.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()
