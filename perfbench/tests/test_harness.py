"""Self-tests of the benchmark harness (no JVM needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

from harness import (  # noqa: E402
    Span, digest, median, self_time_by_name, self_times, tail_percentile,
)


# ------------------------------------------------------------ self time


def test_self_time_subtracts_children():
    spans = [
        Span("round", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 4.0, 8.0, parent=0),
        Span("a.child", 1.5, 2.5, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 4.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("p", 0.0, 10.0),
        Span("x", 2.0, 6.0, parent=0),
        Span("y", 4.0, 8.0, parent=0),
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent_and_floors_at_zero():
    spans = [
        Span("p", 0.0, 2.0),
        Span("late", 1.0, 5.0, parent=0),
        Span("q", 0.0, 1.0),
        Span("big", -1.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)
    assert st[2] == 0.0


def test_self_time_only_direct_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("mid", 0.0, 6.0, parent=0),
        Span("leaf", 0.0, 6.0, parent=1),
    ]
    by = self_time_by_name(spans)
    assert by == pytest.approx({"root": 4.0, "mid": 0.0, "leaf": 6.0})


def test_self_time_by_name_sums_repeated_layers():
    spans = [
        Span("round", 0.0, 10.0),
        Span("commit", 1.0, 2.0, parent=0),
        Span("commit", 5.0, 8.0, parent=0),
    ]
    assert self_time_by_name(spans)["commit"] == pytest.approx(4.0)
    assert self_time_by_name(spans)["round"] == pytest.approx(6.0)


# ----------------------------------------------------------- percentiles


def test_no_percentile_below_twenty_samples():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile([]) is None


def test_median_is_reported_from_twenty_samples():
    vals = [float(i) for i in range(1, 21)]
    assert tail_percentile(vals) == (50.0, 10.0)


def test_p90_at_one_hundred_samples_not_p95():
    vals = [float(i) for i in range(1, 101)]
    random.Random(3).shuffle(vals)
    assert tail_percentile(vals) == (90.0, 90.0)


def test_p99_needs_a_thousand_samples():
    assert tail_percentile([float(i) for i in range(999)])[0] == 95.0
    assert tail_percentile([float(i) for i in range(1000)]) == (99.0, 989.0)


def test_highest_percentile_leaves_ten_samples_beyond():
    for n in (20, 37, 100, 150, 999, 1000, 10_000):
        vals = [float(i) for i in range(n)]
        p, v = tail_percentile(vals)
        assert sum(1 for x in vals if x > v) >= 10


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


# ----------------------------------------------------------------- digest

ROWS = [(1, "h00s1.example", 1, 123), (1, "h00s1.example", 2, -45),
        (2, "h01s1.example", 1, 99), (2, None, 3, 7)]


def test_digest_is_order_independent():
    shuffled = list(ROWS)
    random.Random(7).shuffle(shuffled)
    assert digest(ROWS) == digest(shuffled)
    assert digest(iter(ROWS)) == digest(list(reversed(ROWS)))


def test_digest_sees_every_field_and_multiplicity():
    base = digest(ROWS)
    assert digest(ROWS[:-1]) != base
    assert digest(ROWS + [ROWS[0]]) != base
    changed = [(1, "h00s1.example", 1, 124)] + ROWS[1:]
    assert digest(changed) != base
    swapped = [(1, "h00s1.example", 2, 123), (1, "h00s1.example", 1, -45)]
    assert digest(swapped + ROWS[2:]) != base


def test_digest_of_nothing():
    assert digest([]) == "0:0000000000000000"


# ------------------------------------------------------------- curation


def test_curation_input_keeps_originals_smallest():
    from corpus import CurationInput

    texts = [" ".join(f"w{i}x{j}" for j in range(60)) for i in range(200)]
    inp = CurationInput(texts, seed=5)
    ids = set(inp.documents.doc_id)
    assert len(ids) == len(inp.documents)
    assert inp.exact_groups and inp.near_pairs
    for orig, members in inp.exact_groups:
        assert all(orig < m for m in members)
    for orig, copy in inp.near_pairs:
        assert orig < copy
    originals = set(range(1, len(texts) + 1))
    checked, failed, near = inp.check(originals)
    assert (checked, failed, near) == (len(inp.exact_groups), 0,
                                       len(inp.near_pairs))
    orig, members = inp.exact_groups[0]
    assert inp.check(originals | {members[0]})[1] == 1
    assert inp.check(originals - {orig})[1] == 1


def test_curation_input_depends_on_seed_only():
    from corpus import CurationInput

    texts = [" ".join(f"w{i}x{j}" for j in range(60)) for i in range(100)]
    a = CurationInput(texts, seed=1).documents
    assert a.equals(CurationInput(texts, seed=1).documents)
    assert not a.equals(CurationInput(texts, seed=2).documents)


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_the_metrics_printed():
    import workloads

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_layer_metrics_emit_every_per_layer_name():
    import workloads
    from tracer import Tracer

    t = Tracer()
    t.spans = [
        Span("runner.run_crawl", 0.0, 10.0),
        Span("process.process_pages", 1.0, 2.0, parent=0,
             counts={"rows_in": 10, "rows_out": 10, "articles_out": 7,
                     "html_bytes_in": 2_000_000, "links_out": 5}),
        Span("seen.dedup", 3.0, 5.0, parent=0,
             counts={"rows_in": 8, "rows_out": 6}),
        Span("seen.confirm", 3.5, 4.0, parent=2,
             counts={"rows_in": 4, "rows_out": 1}),
    ]
    m = workloads.layer_metrics(t, {"seen.shard_rebuilds": 2}, 5.0, 6.0)
    assert set(m) == set(workloads.PER_LAYER)
    assert m["runner.self_s"] == pytest.approx(7.0)
    # the exact confirm is part of the seen layer's busy time
    assert m["seen.dedup.busy_s"] == pytest.approx(2.0)
    assert m["seen.prefilter_fp_ratio"] == pytest.approx(0.25)
    assert m["process.gate_pass_ratio"] == pytest.approx(0.7)
    assert m["process.process_pages.html_mb_in"] == pytest.approx(2.0)
    assert m["trace.overhead_ratio"] == pytest.approx(0.2)
    assert m["seen.shard_rebuilds"] == 2
    assert m["dedup.exact_dedup.busy_s"] == 0.0
