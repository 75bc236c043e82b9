"""linkgraph: fixed-point PageRank + host-graph extraction.

Closed-form fixtures (ring, star, dangling) pin the integer arithmetic;
the determinism test repartitions the same edge list three ways and
asserts BIT-IDENTICAL ranks — the property float PageRank lacks and the
reason the operator is fixed-point (north rule: same ordering at N and
4N executors). host_edges_from_pages is cross-checked against the
Python link extractor (functions/discover_core.extract_links) on the
seeded fixture corpus — two independent implementations, same edges.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newscrawler_spark.operators.linkgraph import (
    host_edges_from_pages,
    pagerank_fixed_point,
    priority_from_rank,
)

SCALE = 10**9


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank_fixed_point(df, **kw).collect()
    return {r["node"]: r for r in out}


def test_ring_is_uniform(spark):
    """A k-ring is vertex-transitive — every node must hold exactly the
    same rank at every iteration (the closed-form fixpoint)."""
    n = 6
    edges = [(f"h{i}", f"h{(i + 1) % n}") for i in range(n)]
    got = _ranks(spark, edges, iterations=5)
    vals = {r["rank_fp"] for r in got.values()}
    assert len(vals) == 1
    # hold + pass-through of the whole previous rank: fixpoint of
    # r = 15*S/(100n) + 85*r/100  =>  r = S/n exactly in real arithmetic;
    # integer floor keeps it within n units of S/n.
    (v,) = vals
    assert abs(v - SCALE // n) <= n


def test_star_center_dominates(spark):
    """Leaves all point at the center: center rank ≫ leaf rank, leaves
    equal by symmetry, and every leaf is dangling (out_deg 0 after its
    single edge — no, each leaf has exactly the center edge)."""
    edges = [(f"leaf{i}", "center") for i in range(8)]
    got = _ranks(spark, edges, iterations=4)
    leaf_ranks = {v["rank_fp"] for k, v in got.items() if k != "center"}
    assert len(leaf_ranks) == 1
    assert got["center"]["rank_fp"] > 5 * next(iter(leaf_ranks))
    assert got["center"]["in_deg"] == 8
    assert got["center"]["out_deg"] == 0


def test_dangling_mass_leaks(spark):
    """The dangling-node convention: total mass strictly decreases when
    a sink exists (documented leak, not redistribution)."""
    edges = [("a", "b"), ("b", "sink")]
    got = _ranks(spark, edges, iterations=3)
    assert sum(r["rank_fp"] for r in got.values()) < SCALE


def test_bit_identical_across_partitionings(spark):
    """The north-rule property: the SAME graph partitioned 1 / 3 / 7
    ways yields byte-identical ranks (integer sums are associative —
    a float implementation fails this in the last ulp)."""
    import random

    rng = random.Random(7)
    edges = list({(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}")
                  for _ in range(300)})
    edges = [e for e in edges if e[0] != e[1]]
    base = spark.createDataFrame(edges, "src string, dst string")
    outs = []
    for parts in (1, 3, 7):
        r = pagerank_fixed_point(base.repartition(parts), iterations=4)
        outs.append(sorted((x["node"], x["rank_fp"]) for x in r.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_host_edges_match_python_extractor(spark, smoke_pages_pd):
    """Catalyst regexp host graph ≡ the Python extractor's host graph
    over the seeded fixture corpus (absolute cross-host links only)."""
    from newscrawler_spark.functions.discover_core import extract_links

    def host(u: str) -> str:
        h = u.split("://", 1)[1].split("/", 1)[0].split(":")[0].lower()
        return h[4:] if h.startswith("www.") else h

    expect = set()
    for _, row in smoke_pages_pd.iterrows():
        src = host(row["url"])
        body = bytes(row["html"]).decode("utf-8", errors="replace")
        for link in extract_links(body, row["url"]):
            # Python extractor absolutizes relative links too — the host
            # graph only wants links that were WRITTEN absolute, so
            # filter to hrefs present verbatim in the body.
            if f'href="{link}"' not in body:
                continue
            dst = host(link)
            if dst and dst != src:
                expect.add((src, dst))

    pages = spark.createDataFrame(smoke_pages_pd)
    got = {
        (r["src_host"], r["dst_host"])
        for r in host_edges_from_pages(pages).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_host_edges_tolerate_tag_case_quotes_and_spacing(spark):
    """Real-world anchor spellings the fixture corpus never uses: an
    upper-case tag with a single-quoted href, and an attribute before a
    spaced ``href = "..."`` — the tolerance of discover_core's
    ``_A_HREF_RE``."""
    html = (
        "<html><body>"
        "<A HREF='http://b.example/x'>b</A>"
        '<a class="k" href = "http://c.example/">c</a>'
        '<a href="http://d.example/">d</a>'
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [("http://a.example/", bytearray(html.encode()))],
        "url string, html binary",
    )
    got = {
        (r["src_host"], r["dst_host"])
        for r in host_edges_from_pages(pages).collect()
    }
    assert got == {
        ("a.example", "b.example"),
        ("a.example", "c.example"),
        ("a.example", "d.example"),
    }


def test_priority_from_rank_bonus_bounded(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    ranks = pagerank_fixed_point(
        spark.createDataFrame(edges, "src string, dst string"), iterations=3
    )
    frontier = spark.createDataFrame(
        [("a", 10), ("c", 10), ("zzz-unranked", 10)], "host string, priority int"
    )
    out = {
        r["host"]: r["priority"]
        for r in priority_from_rank(frontier, ranks, weight=5).collect()
    }
    assert out["zzz-unranked"] == 10          # no rank -> no bonus
    assert 10 <= out["a"] <= 15 and 10 <= out["c"] <= 15
    assert out["c"] >= out["a"]               # c has higher rank (2 in-edges)


def test_crawl_with_rank_priority(spark, smoke_pages_pd, smoke_seeds_pd, tmp_path):
    """Opt-in PageRank frontier signal (CrawlConfig.rank_priority_weight):
    the ranked crawl completes, persists host_ranks in the state dir,
    visits the SAME url set as the unranked crawl (the bonus reorders
    within budget, it never invents or loses urls on an exhaustive
    crawl), and two fresh ranked runs produce IDENTICAL fetch logs —
    the determinism the integer rank arithmetic exists to provide."""
    import os

    from newscrawler_spark.config import CrawlConfig
    from newscrawler_spark.runner import run_crawl

    pages = spark.createDataFrame(smoke_pages_pd)
    seeds = spark.createDataFrame(smoke_seeds_pd)
    base_cfg = dict(per_host_budget=40, max_depth=3, round_seconds=1000.0)

    def crawl(tag, **kw):
        cfg = CrawlConfig(**base_cfg, **kw)
        res = run_crawl(spark, pages, seeds, str(tmp_path / tag), cfg,
                        max_rounds=6, run_id=tag)
        log = res.state.read_fetch_log().select(
            "fetch_round", "rank_in_host", "url_hash", "priority"
        ).collect()
        return sorted((r["fetch_round"], r["rank_in_host"], r["url_hash"],
                       r["priority"]) for r in log)

    plain = crawl("plain")
    ranked = crawl("ranked", rank_priority_weight=5)
    ranked2 = crawl("ranked2", rank_priority_weight=5)

    assert os.path.exists(tmp_path / "ranked" / "host_ranks" / "_SUCCESS")
    assert ranked == ranked2                       # bit-deterministic
    assert {t[2] for t in plain} == {t[2] for t in ranked}  # same url set
    # the bonus actually moved priorities for ranked hosts
    assert max(t[3] for t in ranked) > max(t[3] for t in plain)


def test_pagerank_mass_conserved_without_dangling(spark):
    """On a graph where EVERY node has an out-edge, no mass leaks: the
    total rank stays scale minus only integer-floor dust (bounded by
    nodes per division step x iterations)."""
    import random

    rng = random.Random(11)
    n = 30
    edges = {(f"n{i}", f"n{(i + 1) % n}") for i in range(n)}  # ring: all out
    edges |= {(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
              for _ in range(60)}
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(list(edges), "src string, dst string")
    got = pagerank_fixed_point(df, iterations=4).collect()
    total = sum(r["rank_fp"] for r in got)
    # per iteration each division drops < 1 unit per (node, edge) term;
    # 4 iterations x (nodes + edges) is a generous dust bound
    dust = 4 * (len(got) + len(edges)) + len(got)
    assert SCALE - dust <= total <= SCALE


def test_pagerank_rank_follows_in_degree_on_uniform_out(spark):
    """With every node having the same out-degree, more in-edges can
    never mean lower rank after one iteration of a 2-level graph."""
    edges = []
    # sources s0..s5 each point at exactly one of two sinks... keep all
    # out-degrees equal: s_i -> hub for i<4 ; s_i -> side for i>=4
    for i in range(4):
        edges.append((f"s{i}", "hub"))
    for i in range(4, 6):
        edges.append((f"s{i}", "side"))
    got = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(
        spark.createDataFrame(edges, "src string, dst string"),
        iterations=3).collect()}
    assert got["hub"] > got["side"]


def test_rank_bonus_does_not_compound(spark, smoke_pages_pd, smoke_seeds_pd,
                                      tmp_path):
    """The PageRank bonus is a schedule-time adjustment: rows that wait in
    the frontier over several rounds, and retries re-queued from the
    fetch log, must be committed without it, so no committed frontier row
    ever exceeds its base priority plus the weight. A url's base priority
    is its first committed retry-0 priority, minus one per retry."""
    from newscrawler_spark.config import CrawlConfig
    from newscrawler_spark.runner import run_crawl

    weight = 5
    cfg = CrawlConfig(per_host_budget=2, max_depth=3, round_seconds=1000.0,
                      rank_priority_weight=weight)
    res = run_crawl(spark, spark.createDataFrame(smoke_pages_pd),
                    spark.createDataFrame(smoke_seeds_pd),
                    str(tmp_path / "st"), cfg, max_rounds=6)
    rows = [
        (row["url_hash"], row["retry"], row["priority"])
        for r in res.state.committed_rounds()
        for row in res.state.read_frontier(r).select(
            "url_hash", "retry", "priority").collect()
    ]
    base: dict[int, int] = {}
    for h, retry, prio in rows:
        if retry == 0:
            base.setdefault(h, prio)
    # the run must exercise both ways a bonus could be carried forward
    waits: dict[int, int] = {}
    for h, retry, _p in rows:
        waits[h] = waits.get(h, 0) + (retry == 0)
    assert max(waits.values()) >= 3
    assert max(retry for _h, retry, _p in rows) >= 1
    for h, retry, prio in rows:
        assert prio <= base[h] - retry + weight, (h, retry, prio, base[h])
