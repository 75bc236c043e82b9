"""The benchmark workloads. Each is a closed loop: one driver issues the
next operation (a crawl round, a curation job) only after the previous
one finished, until ``--seconds`` of operation wall time have passed.

A workload returns a ``Result``. With tracing off it carries every
end-to-end metric; with tracing on it replays the same operations a
second time with the tracer installed and carries every per-layer
metric, including the tracing overhead (traced wall minus untraced wall
for identical work).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import corpus
from harness import (
    TreeSampler, count_by_name, digest, dir_bytes, median, self_time_by_name,
    tail_percentile,
)
from tracer import Tracer

SETUP_REPEATS = 3
# a closed loop runs at least this many operations, and at least --seconds
MIN_ROUNDS = 2
MIN_PASSES = 2

END_TO_END = {
    "items_per_s": "1/s",
    "op_s_p50": "s",
    "op_s_max": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written_per_item": "B",
    "cpu_ms_per_item": "ms",
}

PER_LAYER = {
    "runner.self_s": "s",
    "runner.fetch_hit_ratio": "ratio",
    "frontier.schedule_round.busy_s": "s",
    "frontier.schedule_round.rows_in": "count",
    "frontier.schedule_round.rows_out": "count",
    "frontier.dedup_in_batch.busy_s": "s",
    "robots.robots_gate.busy_s": "s",
    "robots.robots_gate.rows_blocked": "count",
    "seen.dedup.busy_s": "s",
    "seen.dedup.rows_in": "count",
    "seen.dedup.rows_new": "count",
    "seen.prefilter_fp_ratio": "ratio",
    "seen.update_shards.busy_s": "s",
    "seen.build_shards.busy_s": "s",
    "seen.shard_rebuilds": "count",
    "store.commit_round.busy_s": "s",
    "store.bytes_written": "B",
    "store.compact_seen.busy_s": "s",
    "store.read_seen.busy_s": "s",
    "process.process_pages.busy_s": "s",
    "process.process_pages.pages_in": "count",
    "process.process_pages.html_mb_in": "MB",
    "process.process_pages.articles_out": "count",
    "process.process_pages.links_out": "count",
    "process.gate_pass_ratio": "ratio",
    "dedup.exact_dedup.busy_s": "s",
    "dedup.exact_dedup.dropped": "count",
    "dedup.minhash_lsh_anchor_edges.busy_s": "s",
    "dedup.minhash_lsh_anchor_edges.edges": "count",
    "dedup.near_dup_recall": "count",
    "textstats.quality_stats.busy_s": "s",
    "textstats.langid.busy_s": "s",
    "shards.write_training_shards.busy_s": "s",
    "curate_job.self_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Context:
    spark: object
    repo: str
    work: str
    seed: int
    seconds: float
    trace: bool
    session_s: float
    jvm_pid: int
    digests: "DigestBook"

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)   # name -> value
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)


class DigestBook:
    """fetch_log digests per (workload, seed, round): the committed
    reference table plus a record kept in the work directory. A digest
    that differs from a recorded one is a failed check."""

    def __init__(self, committed: str, local: str):
        self.local = local
        self.known: dict[str, str] = {}
        for path in (committed, local):
            if os.path.exists(path):
                with open(path) as f:
                    self.known.update(json.load(f))
        self.new: dict[str, str] = {}

    def check(self, key: str, value: str) -> bool:
        want = self.known.get(key, self.new.get(key))
        if want is None:
            self.new[key] = value
            return True
        return want == value

    def save(self) -> None:
        if not self.new:
            return
        rec = {}
        if os.path.exists(self.local):
            with open(self.local) as f:
                rec = json.load(f)
        rec.update(self.new)
        tmp = self.local + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        os.replace(tmp, self.local)


def _done(walls: list[float], seconds: float | None, count: int | None,
          min_ops: int) -> bool:
    """A replay stops after exactly ``count`` operations; a timed loop
    once it has run ``min_ops`` operations and ``seconds`` of wall."""
    if count is not None:
        return len(walls) >= count
    return len(walls) >= min_ops and sum(walls) >= seconds


# ------------------------------------------------------------- crawling

ROUNDS_BUDGET = 20


def rounds_config():
    """Budget-limited rounds on the Bloom path from round one, hot hosts
    on the salted window, one seen compaction every 2 rounds."""
    from newscrawler_spark.config import CrawlConfig

    return CrawlConfig(
        per_host_budget=ROUNDS_BUDGET,
        batch_size=None,
        max_depth=3,
        round_seconds=10**6,   # robots crawl-delay must not cap the budget
        hot_host_threshold=200,
        bloom_min_seen_rows=0,
        compact_seen_every=2,
    )


def _bootstrap(ctx: Context, pages, seeds, state_dir: str, cfg) -> float:
    from newscrawler_spark import runner

    t0 = time.monotonic()
    runner.run_crawl(ctx.spark, pages, seeds, state_dir, cfg, max_rounds=0,
                     use_bloom=True)
    return time.monotonic() - t0


def _rounds(ctx: Context, pages, seeds, state_dir: str, cfg,
            seconds: float | None = None, count: int | None = None,
            sampler: TreeSampler | None = None) -> list[float]:
    """Issue rounds back to back until ``_done``; returns per-round wall."""
    from newscrawler_spark import runner

    walls: list[float] = []
    if sampler is not None:
        sampler.start()
    try:
        while not _done(walls, seconds, count, MIN_ROUNDS):
            t0 = time.monotonic()
            res = runner.run_crawl(ctx.spark, pages, seeds, state_dir, cfg,
                                   max_rounds=1, use_bloom=True)
            walls.append(time.monotonic() - t0)
            if res.rounds_run == 0:
                raise RuntimeError("frontier exhausted inside the timed loop")
    finally:
        if sampler is not None:
            sampler.stop()
    return walls


def _check_crawl(ctx: Context, pages, state_dir: str, budget: int,
                 tag: str) -> tuple[int, int, dict]:
    """Article bytes against the corpus ground truth, the per-host budget
    in every round, and the per-round fetch_log digest."""
    from pyspark.sql import functions as F

    from newscrawler_spark.operators import frontier as FR
    from newscrawler_spark.operators.store import CrawlState

    state = CrawlState(ctx.spark, state_dir)
    truth = (FR.enrich_urls(pages).select("url_hash", F.col("text").alias("truth"))
             .dropDuplicates(["url_hash"]))
    arts = state.read_articles().select("url_hash", "article_text")
    n_art = arts.count()
    bad_text = (arts.join(truth, "url_hash", "left")
                .where(F.col("truth").isNull()
                       | (F.col("article_text") != F.col("truth")))
                .count())
    log = state.read_fetch_log()
    per_host = (log.groupBy("fetch_round", "host").count().collect())
    over = [r for r in per_host if r["count"] > budget]
    rows = log.select("fetch_round", "host", "rank_in_host", "url_hash").collect()
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r[0], []).append(tuple(r))
    bad_digest = 0
    for rnd, rs in sorted(by_round.items()):
        if not ctx.digests.check(f"{tag}/{ctx.seed}/{rnd}", digest(rs)):
            bad_digest += 1
    attempted = n_art + len(per_host) + len(by_round)
    failed = bad_text + len(over) + bad_digest
    info = {
        "articles_checked": n_art,
        "article_text_mismatches": bad_text,
        "host_rounds_checked": len(per_host),
        "host_rounds_over_budget": len(over),
        "max_urls_per_host_round": max((r["count"] for r in per_host),
                                       default=0),
        "rounds_digested": len(by_round),
        "digest_mismatches": bad_digest,
    }
    return attempted, failed, info


def _counters(ctx: Context, state_dir: str) -> list:
    from newscrawler_spark.operators.store import CrawlState

    return CrawlState(ctx.spark, state_dir).read_counters().collect()


def _shard_rebuilds(state_dir: str) -> int:
    from newscrawler_spark.operators.store import CrawlState

    st = CrawlState(None, state_dir)
    return sum(1 for r in st.committed_rounds()
               if st.manifest(r).get("bloom", {}).get("mode") == "rebuild")


def crawl_rounds(ctx: Context) -> Result:
    pages_path = ctx.path("pages")
    t0 = time.monotonic()
    corpus.write_pages(ctx.spark, ctx.seed, pages_path)
    inputs_s = time.monotonic() - t0
    pages = ctx.spark.read.parquet(pages_path).select(*corpus.PAGES_COLS)
    seeds = corpus.seeds(ctx.spark, ctx.seed, ROUNDS_BUDGET)
    cfg = rounds_config()
    res = Result(info={"inputs_s": inputs_s})

    def check(state_dir: str) -> None:
        a, f, info = _check_crawl(ctx, pages, state_dir, ROUNDS_BUDGET,
                                  "crawl_rounds")
        res.attempted += a
        res.failed += f
        res.info.setdefault("checks", []).append(info)

    if not ctx.trace:
        boots, sd = [], None
        for i in range(SETUP_REPEATS):
            if sd is not None:
                shutil.rmtree(sd, ignore_errors=True)
            sd = ctx.path(f"state{i}")
            boots.append(_bootstrap(ctx, pages, seeds, sd, cfg))
        before = dir_bytes(sd)
        sampler = TreeSampler(ctx.jvm_pid)
        walls = _rounds(ctx, pages, seeds, sd, cfg, seconds=ctx.seconds,
                        sampler=sampler)
        written = dir_bytes(sd) - before
        counters = _counters(ctx, sd)
        items = sum(c.urls_scheduled + c.articles_extracted for c in counters)
        fetched = sum(c.urls_fetched for c in counters)
        res.metrics = {
            "items_per_s": items / sum(walls),
            "op_s_p50": median(walls),
            "op_s_max": max(walls),
            "setup_s": ctx.session_s + median(boots),
            "peak_rss_mb": sampler.peak_rss / 1e6,
            "bytes_written_per_item": written / fetched,
            "cpu_ms_per_item": 1e3 * sampler.cpu_s / items,
        }
        res.info.update(
            rounds=len(walls), round_walls_s=walls, bootstrap_s=boots,
            urls_scheduled=sum(c.urls_scheduled for c in counters),
            articles_extracted=sum(c.articles_extracted for c in counters),
            urls_fetched=fetched, urls_per_s=res.metrics["items_per_s"],
            round_s_tail=tail_percentile(walls),
        )
        check(sd)
        return res

    # traced run: identical work twice, untraced then traced
    sd_a, sd_b = ctx.path("state_untraced"), ctx.path("state_traced")
    boot_a = _bootstrap(ctx, pages, seeds, sd_a, cfg)
    walls_a = _rounds(ctx, pages, seeds, sd_a, cfg, seconds=ctx.seconds)
    tracer = Tracer()
    tracer.install()
    try:
        boot_b = _bootstrap(ctx, pages, seeds, sd_b, cfg)
        walls_b = _rounds(ctx, pages, seeds, sd_b, cfg, count=len(walls_a))
    finally:
        tracer.uninstall()
    counters = _counters(ctx, sd_b)
    sched = sum(c.urls_scheduled for c in counters)
    extra = {
        "runner.fetch_hit_ratio":
            sum(c.urls_fetched for c in counters) / sched if sched else 0.0,
        "seen.shard_rebuilds": _shard_rebuilds(sd_b),
    }
    # overhead over the rounds only: bootstrap A also pays the JVM warm-up
    untraced, traced = sum(walls_a), sum(walls_b)
    res.metrics = layer_metrics(tracer, extra, untraced, traced)
    res.info.update(rounds=len(walls_a), untraced_s=untraced, traced_s=traced,
                    bootstrap_untraced_s=boot_a, bootstrap_traced_s=boot_b)
    check(sd_a)
    check(sd_b)
    return res


# ------------------------------------------------------------ curation


CURATE_DOCS = 1500
WARMUP_DOCS = 500


def _load_curate_job(repo: str):
    spec = importlib.util.spec_from_file_location(
        "curate_job", os.path.join(repo, "jobs", "curate_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def curate_dups(ctx: Context) -> Result:
    from newscrawler_spark.operators.shards import read_training_shards

    spark = ctx.spark
    t0 = time.monotonic()
    texts = corpus.article_texts(ctx.seed, CURATE_DOCS)
    inp = corpus.CurationInput(texts, ctx.seed)
    docs_path, warm_path = ctx.path("documents"), ctx.path("warmup_docs")
    schema = "doc_id long, text string"
    spark.createDataFrame(inp.documents, schema) \
        .write.mode("overwrite").parquet(docs_path)
    spark.createDataFrame(inp.documents.head(WARMUP_DOCS), schema) \
        .write.mode("overwrite").parquet(warm_path)
    n_docs = len(inp.documents)
    job = _load_curate_job(ctx.repo)
    res = Result(info={"inputs_s": time.monotonic() - t0})
    res.info["docs_in"] = n_docs
    res.info["exact_groups"] = len(inp.exact_groups)
    res.info["near_dups_injected"] = len(inp.near_pairs)

    def run_job(src: str, out: str, tracer: Tracer | None = None) -> float:
        argv = ["--input", src, "--input-kind", "documents",
                "--out", out, "--n-shards", "8", "--salt", f"s{ctx.seed}"]
        t0 = time.monotonic()
        # main() prints its own summary line; keep stdout for the result
        with contextlib.redirect_stdout(io.StringIO()):
            if tracer is None:
                job.main(argv)
            else:
                with tracer.root("curate_job.main"):
                    job.main(argv)
        return time.monotonic() - t0

    def warm_up() -> float:
        """The first job in a JVM pays class loading, JIT and Python
        worker start-up; a small job takes that before the timed ones."""
        out = ctx.path("warmup_out")
        wall = run_job(warm_path, out)
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def one_pass(i: int, tracer: Tracer | None = None) -> tuple[float, int]:
        out = ctx.path(f"shards{i}")
        wall = run_job(docs_path, out, tracer)
        survivors = {r.doc_id for r in
                     read_training_shards(spark, out).select("doc_id").collect()}
        checked, failed, near = inp.check(survivors)
        res.attempted += checked
        res.failed += failed
        res.info["near_dups_dropped"] = near
        written = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return wall, written

    def closed_loop(seconds=None, count=None, tracer=None, sampler=None):
        walls, written = [], []
        if sampler is not None:
            sampler.start()
        try:
            while not _done(walls, seconds, count, MIN_PASSES):
                w, b = one_pass(len(walls), tracer)
                walls.append(w)
                written.append(b)
        finally:
            if sampler is not None:
                sampler.stop()
        return walls, written

    if not ctx.trace:
        boots = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            docs, _kind = job.load_documents(spark, docs_path, "documents")
            docs.persist().count()
            boots.append(time.monotonic() - t0)
            docs.unpersist()
        warm_s = warm_up()
        sampler = TreeSampler(ctx.jvm_pid)
        walls, written = closed_loop(seconds=ctx.seconds, sampler=sampler)
        res.metrics = {
            "items_per_s": n_docs * len(walls) / sum(walls),
            "op_s_p50": median(walls),
            "op_s_max": max(walls),
            "setup_s": ctx.session_s + median(boots),
            "peak_rss_mb": sampler.peak_rss / 1e6,
            "bytes_written_per_item": sum(written) / (n_docs * len(walls)),
            "cpu_ms_per_item": 1e3 * sampler.cpu_s / (n_docs * len(walls)),
        }
        res.info.update(passes=len(walls), pass_walls_s=walls,
                        warmup_s=warm_s, ingest_s=boots,
                        docs_per_s=res.metrics["items_per_s"],
                        pass_s_tail=tail_percentile(walls))
        return res

    warm_up()
    walls_a, _ = closed_loop(seconds=ctx.seconds)
    tracer = Tracer()
    tracer.install()
    try:
        walls_b, _ = closed_loop(count=len(walls_a), tracer=tracer)
    finally:
        tracer.uninstall()
    extra = {"dedup.near_dup_recall": res.info["near_dups_dropped"]}
    res.metrics = layer_metrics(tracer, extra, sum(walls_a), sum(walls_b))
    res.info.update(passes=len(walls_a), untraced_s=sum(walls_a),
                    traced_s=sum(walls_b))
    return res


WORKLOADS = {
    "crawl_rounds": crawl_rounds,
    "curate_dups": curate_dups,
}


# ------------------------------------------------------ layer metrics


def layer_metrics(tracer: Tracer, extra: dict, untraced_s: float,
                  traced_s: float) -> dict:
    """Every PER_LAYER metric from the traced spans; a layer the workload
    never called reads 0."""
    st = self_time_by_name(tracer.spans)
    counts = {key: count_by_name(tracer.spans, key)
              for key in ("rows_in", "rows_out", "bytes_written",
                          "html_bytes_in", "articles_out", "links_out")}

    def cnt(name: str, key: str) -> int:
        return counts[key].get(name, 0)

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    pp = "process.process_pages"
    m = {
        "runner.self_s": st.get("runner.run_crawl", 0.0)
        + st.get("runner.round", 0.0),
        "seen.dedup.busy_s": st.get("seen.dedup", 0.0)
        + st.get("seen.confirm", 0.0),
        "seen.dedup.rows_in": cnt("seen.dedup", "rows_in"),
        "seen.dedup.rows_new": cnt("seen.dedup", "rows_out"),
        "seen.prefilter_fp_ratio": ratio(cnt("seen.confirm", "rows_out"),
                                         cnt("seen.confirm", "rows_in")),
        "frontier.schedule_round.rows_in":
            cnt("frontier.schedule_round", "rows_in"),
        "frontier.schedule_round.rows_out":
            cnt("frontier.schedule_round", "rows_out"),
        "robots.robots_gate.rows_blocked":
            cnt("robots.robots_gate", "rows_in")
            - cnt("robots.robots_gate", "rows_out"),
        "store.bytes_written": cnt("store.commit_round", "bytes_written")
        + cnt("store.compact_seen", "bytes_written"),
        f"{pp}.pages_in": cnt(pp, "rows_in"),
        f"{pp}.html_mb_in": cnt(pp, "html_bytes_in") / 1e6,
        f"{pp}.articles_out": cnt(pp, "articles_out"),
        f"{pp}.links_out": cnt(pp, "links_out"),
        "process.gate_pass_ratio": ratio(cnt(pp, "articles_out"),
                                         cnt(pp, "rows_in")),
        "dedup.exact_dedup.dropped": cnt("dedup.exact_dedup", "rows_in")
        - cnt("dedup.exact_dedup", "rows_out"),
        "dedup.minhash_lsh_anchor_edges.edges":
            cnt("dedup.minhash_lsh_anchor_edges", "rows_out"),
        "curate_job.self_s": st.get("curate_job.main", 0.0),
        "trace.overhead_s": traced_s - untraced_s,
        "trace.overhead_ratio": ratio(traced_s - untraced_s, untraced_s),
        "runner.fetch_hit_ratio": 0.0,
        "seen.shard_rebuilds": 0,
        "dedup.near_dup_recall": 0,
    }
    m.update(extra)
    for name in PER_LAYER:
        if name.endswith(".busy_s") and name not in m:
            m[name] = st.get(name[: -len(".busy_s")], 0.0)
    return m
