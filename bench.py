"""Benchmark entry point (driver-run; prints ONE JSON line).

Headline metric: crawl frontier throughput — URLs scheduled + articles
extracted per second over a fixed-round crawl of the bench-tier corpus
(50 hosts, 2 hot hosts holding ~40% of pages — exercises the salted
politeness window, Bloom seen-set, Arrow extraction, snapshot commits).

Also times a representative subset of the driver-contract queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default 32)
  SPARK_GRAFT_BENCH_ROUNDS   crawl rounds to time (default 3)

Scaling evidence (N vs 4N cores) lives in bench_scaling.py →
BENCH/BASELINE.md; this file stays single-parallelism so the driver's
per-round timing is comparable across rounds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from newscrawler_spark.config import CrawlConfig  # noqa: E402

BENCH_QUERIES = [
    "q01_pricing_summary",
    "q02_top_customers",
    "q10_events_rank_per_user",
    "q21_frontier_rank",
    "q22_robots_gate",
    "q23_seen_dedup",
    "q30_dedup_exact",
    "q31_ngram_jaccard",
    "q34_embedding_near_dups",
    "q35_ann_topk",
    "q36_quality_stats",
    "q37_langid",
    "q41_ann_lsh_topk",
    # r4: real pixel/sample decode tier (media_pixels kernels)
    "q48_media_pixel_stats",
    # r4: composed training-data curation chain (exact dedup → quality
    # gate → MinHash-LSH near-dup removal) and the cuckoo seen-filter
    "q49_curate_pipeline",
    "q50_seen_dedup_cuckoo",
    # r4: WARC shard encode->parse round trip (the Common-Crawl ingest path)
    "q52_warc_roundtrip",
    # r4: CDX ranged subset fetch (the 0.1%-of-100TB recrawl path)
    "q53_cdx_ranged_fetch",
    # r4: real-pixel nearest-neighbor thumbnails (multimodal resize)
    "q54_media_resize",
    # r4: deterministic training-shard assignment + order checksums
    "q55_training_shards",
    # r4: int8-quantized ANN tier (integer GEMM + exact re-rank)
    "q57_quantized_topk",
    # r4: C4/Gopher repetition signals, benchmark decontamination,
    # deterministic data-mixing sample
    "q58_repetition_stats",
    "q59_decontaminate",
    "q60_stratified_sample",
    # r4: C4-style global boilerplate-span removal with ordered rebuild
    "q61_boilerplate_removal",
    # r4: GPT-style sequence-packing layout (window cumsum per shard)
    "q62_pack_sequences",
    # r4: PII redaction pass (emails / IPv4 / phone runs, typed tokens)
    "q63_pii_scrub",
    # r5: bounded anchor-rule near-dup edges + transitive cluster ids
    "q64_lsh_anchor_edges",
    "q65_near_dup_clusters",
    # r5: materialized packed token streams (the bytes behind q62)
    "q66_packed_streams",
    # r5: Luhn card-number checksum primitive
    "q67_luhn_check",
    # r5: NFC-ish text normalization + per-source line-level dedup
    "q68_normalize_text",
    "q69_line_dedup",
    # r5: token-budget selection (distributed two-level prefix sum)
    "q70_token_budget",
    # r5: epoch-expansion mix + deterministic train/val/test split
    "q71_upsample_mix",
    "q72_hash_split",
    # r5b: cross-doc duplicated-substring removal (ExactSubstr, k-window
    # relational form), DSIR hashed-ngram importance, fixed-point PageRank
    "q73_substring_dedup",
    "q74_dsir_scores",
    "q75_pagerank_trade",
    # r5b: published Gopher quality gate + per-source datasheet rollup
    "q76_gopher_rules",
    "q77_corpus_datasheet",
    # r5b: RefinedWeb-style URL filtering gate + fuzzy decontamination
    "q78_url_filter",
    "q79_decontaminate_fuzzy",
]


def _ship_curate(spark, sf_dir):
    """q49's PRODUCTION tier: xxhash64 MinHash family + anchor-rule
    near-dup drop — what a user actually runs; q49 itself stays on the
    md5 oracle tier (the hash family a DuckDB twin can reproduce), which
    is ~2x the per-shingle digest cost (VERDICT r4 'What's wrong' #2)."""
    from newscrawler_spark.contract import _t
    from newscrawler_spark.operators.curate import curate_corpus

    return curate_corpus(_t(spark, sf_dir, "documents"),
                         quality_min=0.5, near_dup_threshold=0.5,
                         hasher="xxhash64")


def _ship_minhash_pairs(spark, sf_dir):
    """q32's production tier: xxhash64 MinHash+LSH verified pairs."""
    from newscrawler_spark.contract import _t
    from newscrawler_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                             threshold=0.5, hasher="xxhash64")


def _ship_anchor_edges(spark, sf_dir):
    """q64's production tier: xxhash64 anchor-rule edges — the bounded
    near-dup drop path at the hash family the curate job defaults to."""
    from newscrawler_spark.contract import _t
    from newscrawler_spark.operators.dedup import minhash_lsh_anchor_edges

    return minhash_lsh_anchor_edges(_t(spark, sf_dir, "documents"),
                                    threshold=0.5, hasher="xxhash64")


# Production-parameter twins of the oracle-tier contract queries, timed
# under separate keys so BENCH_rN shows BOTH what the driver verifies
# (md5, SQL-reproducible) and what a user runs (xxhash64). q31's ship
# tier IS q31: prefix_filter='auto' lets the posting-skew probe pick the
# path, which is exactly what ships.
def _ship_substring_dedup(spark, sf_dir):
    """q73's production tier: xxhash64 window keys — 8-byte df-groupBy
    keys instead of the ~50-byte window strings the oracle needs."""
    from newscrawler_spark.contract import _t
    from newscrawler_spark.operators.dedup import substring_span_dedup

    return substring_span_dedup(_t(spark, sf_dir, "documents"),
                                k=5, min_df=2, hash_grams=True)


def _ship_dsir(spark, sf_dir):
    """q74's production tier: xxhash64 feature buckets."""
    from newscrawler_spark.contract import _t
    from newscrawler_spark.operators.curate import dsir_importance

    return dsir_importance(_t(spark, sf_dir, "documents"), "src7",
                           buckets=256, hasher="xxhash64")


SHIP_TIERS = {
    "ship_q49_curate_xxhash64": _ship_curate,
    "ship_q32_minhash_lsh_xxhash64": _ship_minhash_pairs,
    "ship_q64_anchor_edges_xxhash64": _ship_anchor_edges,
    "ship_q73_substring_dedup_xxhash64": _ship_substring_dedup,
    "ship_q74_dsir_xxhash64": _ship_dsir,
}


def ensure_bench_corpus(spark) -> str:
    """Bench-tier corpus parquet, cached under .fixtures/bench."""
    from newscrawler_spark.contract import FIXTURES
    from newscrawler_spark.sources.fixtures import pages_df, seeds_df

    d = os.path.join(FIXTURES, "bench")
    marker = os.path.join(d, "_CORPUS_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        pages_df(spark, "bench").write.mode("overwrite").parquet(f"{d}/pages.parquet")
        seeds_df(spark, "bench", per_host_budget=10**6).write.mode(
            "overwrite"
        ).parquet(f"{d}/seeds.parquet")
        with open(marker, "w") as f:
            f.write("ok\n")
    return d


def crawl_throughput(spark, rounds: int) -> dict:
    """Fixed-round crawl on the bench corpus → urls+articles per second."""
    from newscrawler_spark.runner import run_crawl

    d = ensure_bench_corpus(spark)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    seeds = spark.read.parquet(f"{d}/seeds.parquet")
    cfg = CrawlConfig(
        per_host_budget=1000,
        max_depth=3,
        round_seconds=10**6,  # don't let fixture crawl-delays cap the budget
        batch_size=None,
        hot_host_threshold=2000,  # hot hosts take the salted window path
    )
    state_dir = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        # one-time corpus enrichment + bootstrap commit happen OUTSIDE the
        # timed region (amortized at scale; rounds are the steady state)
        run_crawl(spark, pages, seeds, state_dir, cfg, max_rounds=0,
                  use_bloom=True)
        t0 = time.monotonic()
        res = run_crawl(spark, pages, seeds, state_dir, cfg,
                        max_rounds=rounds, use_bloom=True)
        wall = time.monotonic() - t0
        counters = res.state.read_counters().collect()
        scheduled = sum(r.urls_scheduled for r in counters)
        extracted = sum(r.articles_extracted for r in counters)
        fetched = sum(r.urls_fetched for r in counters)
        by_round = {
            str(r.fetch_round): round(r.wall_ms / 1000.0, 2) for r in counters
        }
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return {
        "wall_s": round(wall, 2),
        "urls_scheduled": scheduled,
        "urls_fetched": fetched,
        "articles_extracted": extracted,
        "throughput_urls_per_s": round((scheduled + extracted) / wall, 1),
        "round_wall_s": by_round,
        "rounds": res.rounds_run,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))

    from newscrawler_spark.contract import all_queries, ensure_cache
    from newscrawler_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    # fixture caches outside the timed region
    ensure_cache(spark, "correctness")

    crawl = crawl_throughput(spark, rounds)

    queries = all_queries()
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        t0 = time.monotonic()
        n = queries[name](spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
        assert n >= 0
    for name, fn in SHIP_TIERS.items():
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
        assert n >= 0
    timings["crawl_3rounds"] = crawl["wall_s"]

    out = {
        "metric": "crawl throughput (urls scheduled + articles extracted)/sec, bench corpus",
        "value": crawl["throughput_urls_per_s"],
        "unit": "urls/sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "crawl": crawl,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()


def bulk_crawl_throughput(spark, tier: str = "benchxl", max_rounds: int = 1) -> dict:
    """Scaling-evidence job: bulk download-list crawl of the full corpus.

    The frontier is pre-seeded with EVERY corpus url (A7 mode) so one
    round exercises the whole data path — schedule windows, broadcast
    fetch join, Arrow stats/extraction, link discovery, dedup, snapshot
    commit — on ~1.25M pages, making compute dominate fixed overhead
    (the 3-round incremental crawl above has rounds too small for that).
    """
    from newscrawler_spark.contract import FIXTURES
    from newscrawler_spark.operators.sinks import download_list_frontier
    from newscrawler_spark.runner import run_crawl
    from newscrawler_spark.sources.fixtures import pages_df, seeds_df

    d = os.path.join(FIXTURES, tier)
    marker = os.path.join(d, "_CORPUS_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        pages_df(spark, tier).write.mode("overwrite").parquet(f"{d}/pages.parquet")
        seeds_df(spark, tier, per_host_budget=10**6).write.mode(
            "overwrite"
        ).parquet(f"{d}/seeds.parquet")
        with open(marker, "w") as f:
            f.write("ok\n")
    pages = spark.read.parquet(f"{d}/pages.parquet")
    seeds = spark.read.parquet(f"{d}/seeds.parquet")
    cfg = CrawlConfig(
        per_host_budget=10**9,
        max_depth=3,
        round_seconds=10**9,
        batch_size=None,
        hot_host_threshold=100_000,
    )
    extra = download_list_frontier(pages.select("url"))
    state_dir = tempfile.mkdtemp(prefix="bench_bulk_")
    try:
        # untimed: corpus enrichment + bootstrap (one-time, amortized)
        run_crawl(spark, pages, seeds, state_dir, cfg, max_rounds=0,
                  use_bloom=True, extra_frontier=extra)
        t0 = time.monotonic()
        res = run_crawl(spark, pages, seeds, state_dir, cfg,
                        max_rounds=max_rounds, use_bloom=True)
        wall = time.monotonic() - t0
        counters = res.state.read_counters().collect()
        scheduled = sum(r.urls_scheduled for r in counters)
        extracted = sum(r.articles_extracted for r in counters)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return {
        "wall_s": round(wall, 2),
        "urls_scheduled": scheduled,
        "articles_extracted": extracted,
        "throughput_urls_per_s": round((scheduled + extracted) / wall, 1),
        "rounds": res.rounds_run,
    }
