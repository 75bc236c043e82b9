"""Layer tracing from outside the program.

``Tracer.install()`` replaces the public layer functions that
``runner.run_crawl`` and ``jobs/curate_job.py`` call (module attributes
and ``CrawlState`` methods) with wrappers; ``uninstall()`` puts the
originals back. A wrapper opens a span, calls the layer, materializes
the DataFrame it returns (persist + count) and closes the span, so the
layer's own work lands inside its span. Lazy inputs that no wrapper
materialized are evaluated by the layer that first consumes them and
count toward its time (``store.commit_round`` evaluates the new frontier's
join and unions); only ``process.process_pages`` has its input
materialized before its span opens, which charges the fetch join to the
runner. Row counts and layer-specific counts are taken after the span in a
``trace.bookkeeping`` child of the caller, which keeps the counting jobs
out of every layer's self time.

Crawl rounds are spans of their own (``runner.round``): one opens when
``run_crawl`` reads the frontier of the previous round and closes at the
next read or when ``run_crawl`` returns. DataFrames the wrappers
persisted are released when their round (or root span) closes.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

from harness import Span, dir_bytes


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._held: list = []
        self._patches: list[tuple[object, str, object]] = []
        self._round: int | None = None

    # ------------------------------------------------------------ spans

    def _open(self, name: str, round_id: int | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        if round_id is None and parent is not None:
            round_id = self.spans[parent].round_id
        self.spans.append(Span(name, time.monotonic(), parent=parent,
                               round_id=round_id))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> Span:
        # close anything left open inside idx (a layer that raised)
        while self._stack and self._stack[-1] != idx:
            self.spans[self._stack.pop()].end = time.monotonic()
        if self._stack:
            self._stack.pop()
        sp = self.spans[idx]
        sp.end = time.monotonic()
        return sp

    @contextmanager
    def span(self, name: str, round_id: int | None = None):
        idx = self._open(name, round_id)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)

    @contextmanager
    def root(self, name: str):
        """A top-level call (one crawl invocation, one curation job)."""
        with self.span(name) as sp:
            try:
                yield sp
            finally:
                self._end_round()
                self._release()

    def _begin_round(self, round_id: int) -> None:
        self._end_round()
        self._round = self._open("runner.round", round_id)

    def _end_round(self) -> None:
        if self._round is not None:
            self._close(self._round)
            self._round = None
            self._release()

    # ------------------------------------------------- materialization

    def _hold(self, df) -> int:
        """Persist (unless already cached) and count; returns the count."""
        if not df.storageLevel.useMemory and not df.storageLevel.useDisk:
            df.persist()
            self._held.append(df)
        return df.count()

    def _release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held = []

    # --------------------------------------------------------- wrappers

    def _layer(self, name: str, fn, extra=None, hold_input=False):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            first = next((a for a in (*args, *kwargs.values())
                          if isinstance(a, DataFrame)), None)
            if hold_input:
                self._hold(first)
            idx = self._open(name)
            try:
                out = fn(*args, **kwargs)
                n_out = self._hold(out) if isinstance(out, DataFrame) else None
            finally:
                sp = self._close(idx)
            with self.span("trace.bookkeeping"):
                if first is not None:
                    sp.counts["rows_in"] = first.count()
                if n_out is not None:
                    sp.counts["rows_out"] = n_out
                if extra is not None:
                    extra(sp, args, kwargs, out)
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from newscrawler_spark import runner
        from newscrawler_spark.operators import (
            cuckoo, curate, dedup, frontier, process, robots, seen, shards,
            store, textstats,
        )

        layers = [
            (frontier, "schedule_round", "frontier.schedule_round", None),
            (frontier, "dedup_in_batch", "frontier.dedup_in_batch", None),
            # the runner's exact seen path (Bloom below its threshold)
            (frontier, "dedup_against_seen", "seen.dedup", None),
            (robots, "robots_gate", "robots.robots_gate", None),
            (process, "process_pages", "process.process_pages",
             _process_counts, True),
            (seen, "build_bloom_shards", "seen.build_shards", None),
            (seen, "update_bloom_shards", "seen.update_shards", None),
            (seen, "bloom_dedup_with_shards", "seen.dedup", None),
            # exact confirm of the filter's maybe-seen rows: rows_in are
            # the maybe-seen rows, rows_out the false positives
            (seen, "dedup_against_seen", "seen.confirm", None),
            (cuckoo, "build_cuckoo_shards", "seen.build_shards", None),
            (cuckoo, "update_cuckoo_shards", "seen.update_shards", None),
            (cuckoo, "cuckoo_dedup_with_shards", "seen.dedup", None),
            (cuckoo, "dedup_against_seen", "seen.confirm", None),
            (store.CrawlState, "commit_round", "store.commit_round",
             _commit_bytes),
            (store.CrawlState, "read_seen", "store.read_seen", None),
            (store.CrawlState, "compact_seen", "store.compact_seen",
             _compact_bytes),
            (shards, "write_training_shards",
             "shards.write_training_shards", None),
        ]
        # curate_corpus calls these through its own module's names
        for mod in (dedup, curate):
            layers.append((mod, "exact_dedup", "dedup.exact_dedup", None))
            layers.append((mod, "minhash_lsh_anchor_edges",
                           "dedup.minhash_lsh_anchor_edges", None))
        for mod in (textstats, curate):
            layers.append((mod, "quality_stats", "textstats.quality_stats",
                           None))
            layers.append((mod, "langid", "textstats.langid", None))
        for owner, attr, name, extra, *hold in layers:
            self._patch(owner, attr, self._layer(name, getattr(owner, attr),
                                                 extra, *hold))

        read_frontier = store.CrawlState.read_frontier

        def traced_read_frontier(state, r=None):
            if r is not None:
                self._begin_round(r + 1)
            return read_frontier(state, r)

        self._patch(store.CrawlState, "read_frontier", traced_read_frontier)

        run_crawl = runner.run_crawl

        @functools.wraps(run_crawl)
        def traced_run_crawl(*args, **kwargs):
            with self.root("runner.run_crawl"):
                return run_crawl(*args, **kwargs)

        self._patch(runner, "run_crawl", traced_run_crawl)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _process_counts(sp: Span, args, kwargs, out) -> None:
    from pyspark.sql import functions as F

    from newscrawler_spark.config import DEFAULT_CONFIG
    from newscrawler_spark.operators import process as P

    ok = args[0] if args else kwargs["ok"]
    cfg = (args[1] if len(args) > 1 else kwargs.get("cfg")) or DEFAULT_CONFIG
    html = ok.agg(F.sum(F.length("html"))).first()[0] or 0
    links = out.agg(F.sum(F.size("link_urls"))).first()[0] or 0
    sp.counts["html_bytes_in"] = int(html)
    sp.counts["links_out"] = int(links)
    sp.counts["articles_out"] = P.articles_from_processed(out, cfg).count()


def _commit_bytes(sp: Span, args, kwargs, out) -> None:
    state, r = args[0], args[1]
    sp.counts["bytes_written"] = dir_bytes(os.path.join(state.dir,
                                                        f"round={r}"))


def _compact_bytes(sp: Span, args, kwargs, out) -> None:
    state = args[0]
    if out is not None:
        sp.counts["bytes_written"] = dir_bytes(
            os.path.join(state.dir, "seen_base", f"base={out}"))
