"""Cuckoo-filter seen-set shards (SURVEY.md §3 J, contract query q50):
exact equivalence to the anti-join, no false negatives for inserted keys
(stash makes this unconditional) and delta folds. The crawl engine
prefilters with Bloom only; the last e2e test pins that a state dir
whose shards were written by the retired cuckoo crawl path resumes with
one Bloom rebuild."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.operators.cuckoo import (
    _SLOTS,
    _build_table,
    _probe_arrays,
    _sizing,
    build_cuckoo_shards,
    cuckoo_dedup,
    cuckoo_split,
    update_cuckoo_shards,
)
from newscrawler_spark.operators.frontier import dedup_against_seen

CFG = CrawlConfig(seen_buckets=8)


def _links_df(spark, hashes):
    return spark.createDataFrame(
        [(f"http://h/{h}", h) for h in hashes], "url string, url_hash long"
    )


def _seen_df(spark, hashes):
    return spark.createDataFrame([(h,) for h in hashes], "url_hash long")


@pytest.fixture(scope="module")
def big_sets(spark):
    rng = np.random.default_rng(42)
    seen = rng.integers(-(2**62), 2**62, size=5000).tolist()
    overlap = seen[:1000]
    fresh = rng.integers(-(2**62), 2**62, size=4000).tolist()
    links = overlap + [h for h in fresh if h not in set(seen)]
    return seen, links


def test_cuckoo_dedup_equals_exact(spark, big_sets):
    seen_h, link_h = big_sets
    links = _links_df(spark, link_h)
    seen = _seen_df(spark, seen_h)
    got = {r.url_hash for r in cuckoo_dedup(links, seen, CFG).collect()}
    want = {r.url_hash for r in dedup_against_seen(links, seen).collect()}
    assert got == want
    assert got == set(link_h) - set(seen_h)


def test_cuckoo_no_false_negatives(spark, big_sets):
    seen_h, _ = big_sets
    seen = _seen_df(spark, seen_h)
    shards = build_cuckoo_shards(seen, CFG)
    probed = cuckoo_split(_links_df(spark, seen_h), shards, CFG).collect()
    assert len(probed) == len(set(seen_h))
    assert all(r.maybe_seen for r in probed)


def test_cuckoo_fpp_small(spark, big_sets):
    """16-bit fingerprints ⇒ FP rate orders below Bloom's ~1%."""
    seen_h, _ = big_sets
    rng = np.random.default_rng(7)
    fresh = [int(h) for h in rng.integers(-(2**62), 2**62, size=3000)
             if int(h) not in set(seen_h)]
    shards = build_cuckoo_shards(_seen_df(spark, seen_h), CFG)
    probed = cuckoo_split(_links_df(spark, fresh), shards, CFG).collect()
    fp = sum(1 for r in probed if r.maybe_seen)
    assert fp / len(probed) < 0.01


def test_empty_seen_all_fresh(spark):
    links = _links_df(spark, [1, 2, 3])
    seen = spark.createDataFrame([], "url_hash long")
    got = {r.url_hash for r in cuckoo_dedup(links, seen, CFG).collect()}
    assert got == {1, 2, 3}


@given(
    seen=st.sets(st.integers(-(2**63), 2**63 - 1), max_size=60),
    links=st.sets(st.integers(-(2**63), 2**63 - 1), max_size=60),
)
@settings(max_examples=10, deadline=None)
def test_cuckoo_dedup_property(spark, seen, links):
    got = {
        r.url_hash
        for r in cuckoo_dedup(
            _links_df(spark, sorted(links)), _seen_df(spark, sorted(seen)), CFG
        ).collect()
    }
    assert got == links - seen


def test_incremental_update_equals_rebuild(spark, big_sets):
    seen_h, _ = big_sets
    first, second = seen_h[:2500], seen_h[2500:]
    s1 = build_cuckoo_shards(_seen_df(spark, first), CFG)
    s2 = update_cuckoo_shards(s1, _seen_df(spark, second), CFG)

    probed = cuckoo_split(_links_df(spark, seen_h), s2, CFG).collect()
    assert all(r.maybe_seen for r in probed)
    total = sum(r.n_keys for r in s2.collect())
    assert total == len(first) + len(second)
    # empty delta is a no-op
    s3 = update_cuckoo_shards(s2, spark.createDataFrame([], "url_hash long"), CFG)
    a = {(r.bucket, bytes(r.tab), r.nb, r.n_keys) for r in s2.collect()}
    b = {(r.bucket, bytes(r.tab), r.nb, r.n_keys) for r in s3.collect()}
    assert a == b
    # new bucket appearing only in the delta gets a fresh shard
    extra = list(range(100, 200))
    s4 = update_cuckoo_shards(s1, _seen_df(spark, extra), CFG)
    probed4 = cuckoo_split(_links_df(spark, extra), s4, CFG).collect()
    assert all(r.maybe_seen for r in probed4)


def _log(state):
    rows = state.read_fetch_log().orderBy(
        "fetch_round", "host", "rank_in_host").collect()
    return [(r.fetch_round, r.host, r.rank_in_host, r.url_canon,
             r.url_hash, r.status) for r in rows]


def test_e2e_backend_switch_on_resume(spark, smoke_pages, smoke_seeds):
    """A legacy state dir whose last round holds cuckoo shards (the
    manifest records ``backend: cuckoo``) resumes with one Bloom rebuild
    and then matches an uninterrupted Bloom run (the guard in
    ``CrawlState.read_bloom_shards``)."""
    import json
    import os
    import tempfile

    from newscrawler_spark.runner import run_crawl

    cfg = CrawlConfig(per_host_budget=5, max_depth=3, bloom_min_seen_rows=0)
    with tempfile.TemporaryDirectory(prefix="crawl_ref_") as d:
        ref = run_crawl(spark, smoke_pages, smoke_seeds, d, cfg, max_rounds=6)
        want = _log(ref.state)
    with tempfile.TemporaryDirectory(prefix="crawl_legacy_") as d:
        state = run_crawl(spark, smoke_pages, smoke_seeds, d, cfg,
                          max_rounds=3).state
        assert state.latest_round() == 3
        rd = os.path.join(d, "round=3")
        build_cuckoo_shards(state.read_seen(3), cfg).write.mode(
            "overwrite").parquet(os.path.join(rd, "bloom_shards"))
        man_path = os.path.join(rd, "_MANIFEST.json")
        with open(man_path) as f:
            man = json.load(f)
        man["bloom"]["backend"] = "cuckoo"
        with open(man_path, "w") as f:
            json.dump(man, f, indent=1)

        res = run_crawl(spark, smoke_pages, smoke_seeds, d, cfg, max_rounds=3)
        assert _log(res.state) == want
        assert res.state.manifest(4)["bloom"]["mode"] == "rebuild"


def test_kernel_high_load_stash_keeps_fn_free():
    """Force a shard past its design load: the eviction walks overflow
    into the stash, and membership stays FN-free regardless."""
    rng = np.random.default_rng(3)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64))
    nb = max(8, _sizing(len(keys)) // 2)  # deliberately undersized
    tab, stash = _build_table(keys, nb)
    load = (tab != 0).sum() / (nb * _SLOTS)
    assert load > 0.85  # genuinely saturated
    sidx = np.array([s[0] for s in stash], dtype=np.int64)
    sfp = np.array([s[1] for s in stash], dtype=np.uint16)
    assert bool(_probe_arrays(tab, sidx, sfp, keys).all())
