"""CrawlConfig surface: the exact field set is pinned, so adding a knob
(in particular one that picks between physical paths for the same
result) is a visible, reviewed change to this file."""

from __future__ import annotations

from dataclasses import fields

import pytest

from newscrawler_spark.config import CrawlConfig

FIELDS = {
    # scheduling / politeness
    "per_host_budget", "batch_size", "max_depth", "max_retry",
    # heuristics gate
    "heuristics_condition", "linked_headlines_max_ratio",
    "self_linked_headlines_max_ratio",
    # robots
    "respect_robots", "user_agent", "round_seconds",
    # bulk switch
    "materialize_candidates_rows", "corpus_buckets",
    # scale path
    "hot_host_threshold", "salt_buckets", "seen_buckets",
    "bloom_bits_per_key", "bloom_min_seen_rows", "compact_seen_every",
    # link-graph frontier signal
    "rank_priority_weight", "rank_iterations",
    # seeds
    "default_crawler",
}


def test_field_set_is_pinned():
    names = [f.name for f in fields(CrawlConfig)]
    assert len(names) == 21
    assert set(names) == FIELDS


@pytest.mark.parametrize(
    "knob", ["fused_pipeline", "seen_filter", "use_bloom_prefilter"])
def test_deleted_strategy_knob_is_rejected(knob):
    with pytest.raises(TypeError):
        CrawlConfig(**{knob: False})
