"""Link-graph analytics for frontier prioritization.

A production crawler does not schedule on depth + discovery order alone:
frontier priority folds in a global link-graph signal (PageRank over the
host graph is the classic choice — Cho/Garcia-Molina/Page, "Efficient
crawling through URL ordering", WWW 1998). This module provides that
signal Spark-first:

- :func:`host_edges_from_pages` — the host link graph straight out of a
  pages corpus, as one Catalyst projection (regexp over the html), no
  Python in the loop;
- :func:`pagerank_fixed_point` — PageRank in exact fixed-point BIGINT
  arithmetic: bit-identical results at ANY parallelism or cluster size;
- :func:`priority_from_rank` — fold the rank into frontier priorities.

Why fixed-point: float PageRank sums per-edge double contributions whose
ADDITION ORDER depends on partitioning — two cluster sizes produce
last-ulp-different ranks, which can flip priority ORDER for near-tied
hosts and break the north rule's "same fetch ordering at N and 4N
executors" invariant. Integer micro-rank units make every sum exact and
associative: the N-executor and 4N-executor runs agree bit for bit (and
a SQL oracle reproduces them verbatim — driver query q75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# host of an absolute http(s) url: scheme :// then everything up to the
# first /, :, ?, or # — ports and paths excluded. Lowercased; one
# leading "www." stripped (functions/canon.py's host rule).
_ABS_HOST_RE = r"^https?://([^/:?#]+)"
# absolute href of an <a> tag (Java regex twin of discover_core._A_HREF_RE)
_ABS_HREF_RE = r"""(?i)<a\b[^>]*?href\s*=\s*["'](https?://[^"'\s>]+)["']"""


def _host_of(url_col):
    # lowercase FIRST so scheme variants (HTTP://WWW.Host) match — the
    # same case rule functions/canon.py applies before host extraction
    h = F.regexp_extract(F.lower(url_col), _ABS_HOST_RE, 1)
    return F.when(
        h.startswith("www."), F.substring(h, 5, 1 << 20)
    ).otherwise(h)


def host_edges_from_pages(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Distinct cross-host link edges (src_host, dst_host) from a pages
    corpus — one Catalyst projection + explode, O(pages) work.

    Only ABSOLUTE hrefs can leave a host, so relative links are ignored
    and same-host absolute links are dropped as self-edges; hosts are
    lowercased with a leading www. stripped (the canon.py host rule).
    Anchors are matched like functions/discover_core's ``_A_HREF_RE``:
    any tag case, single or double quotes, whitespace around ``=``. The
    html binary column is decoded as UTF-8 (Spark's binary→string cast).
    """
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(_ABS_HREF_RE), F.lit(1)
    )
    e = pages.select(
        _host_of(F.col(url_col)).alias("src_host"),
        F.explode(hrefs).alias("href"),
    ).select("src_host", _host_of(F.col("href")).alias("dst_host"))
    return e.where(
        (F.col("dst_host") != "") & (F.col("src_host") != F.col("dst_host"))
    ).distinct()


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """PageRank over a directed edge list in exact integer arithmetic.

    Every node (any id appearing as src or dst) starts at
    ``scale div N`` micro-rank units; each iteration every node sends
    ``rank div out_degree`` to each successor (integer floor division)
    and receives ``(100-d)·scale div (100·N) + d·incoming div 100``
    (d = ``damping_pct``). Dangling nodes (no out-edges) leak their
    mass — the deterministic convention; redistribute variants change
    only the constant term. All intermediate values stay well under
    2^53: scale=10^9, total mass ≤ scale, so 85·sum ≤ 8.5·10^10.

    Returns (node, rank_fp, out_deg, in_deg) with rank_fp in micro-rank
    units (BIGINT). Scale shape: per iteration ONE join (edges ⋈ ranks
    on src — co-partitioned after the first exchange, AQE reuses it) +
    ONE groupBy(dst) with partial aggregation; the edge list and each
    iteration's ranks are localCheckpoint-ed to cut lineage (otherwise
    the plan doubles per round). Driver state: none — even N (the node
    count) stays in-plan as a broadcast 1-row aggregate. Convergence is
    fixed-``iterations`` (frontier scoring wants a bounded-cost signal,
    not an exact eigenvector); raise ``iterations`` for tighter ranks.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_tbl = nodes.agg(F.count(F.lit(1)).alias("n"))
    outd = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ind = e.groupBy(F.col("d").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    base = (
        nodes.crossJoin(F.broadcast(n_tbl))
        .join(outd, "node", "left")
        .join(ind, "node", "left")
        .select(
            "node",
            "n",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.expr(f"{scale}L div n").alias("rank_fp"),
        )
        .localCheckpoint()
    )
    hold = F.expr(
        f"{(100 - damping_pct)}L * {scale}L div (100L * n)"
    )
    ranks = base
    for _ in range(iterations):
        contrib = (
            e.join(
                ranks.select("node", "rank_fp", "out_deg"),
                e["s"] == F.col("node"),
            )
            .select(
                F.col("d").alias("node"),
                F.expr("rank_fp div out_deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = (
            base.select("node", "n", "out_deg", "in_deg")
            .join(contrib, "node", "left")
            .select(
                "node",
                "n",
                "out_deg",
                "in_deg",
                (
                    hold
                    + F.expr(
                        f"{damping_pct}L * %s div 100L"
                        % "coalesce(incoming, 0L)"
                    )
                ).alias("rank_fp"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", "rank_fp", "out_deg", "in_deg")


def rank_percentiles(
    ranks: DataFrame, node_col: str = "node", host_col: str = "host"
) -> DataFrame:
    """(host, rank_pct) — percent_rank of rank_fp ascending, ties broken
    by node id so the table is deterministic. The window runs over HOSTS
    only (never the frontier); the result is O(hosts) rows, small enough
    to localize next to the budget table in the crawl runner."""
    from pyspark.sql import Window

    return ranks.select(
        F.col(node_col).alias(host_col),
        F.percent_rank().over(
            Window.orderBy(F.col("rank_fp").asc(), F.col(node_col).asc())
        ).alias("rank_pct"),
    )


def apply_rank_bonus(
    frontier: DataFrame,
    pct: DataFrame,
    weight: int = 5,
    host_col: str = "host",
) -> DataFrame:
    """Add ``round(weight · rank_pct)`` to the frontier's priority
    column — one broadcast join against the O(hosts) percentile table;
    unranked hosts get no bonus. Integer bonus on an integer priority:
    the schedule ordering stays fully deterministic."""
    return (
        frontier.join(F.broadcast(pct), host_col, "left")
        .withColumn(
            "priority",
            F.col("priority")
            + F.round(F.lit(weight) * F.coalesce("rank_pct", F.lit(0.0)))
            .cast("int"),
        )
        .drop("rank_pct")
    )


def priority_from_rank(
    frontier: DataFrame,
    ranks: DataFrame,
    host_col: str = "host",
    node_col: str = "node",
    weight: int = 5,
) -> DataFrame:
    """Fold a host rank signal into frontier priorities: bonus =
    ``weight`` · rank percentile (0..1 by rank_fp ascending percent_rank
    over the rank table), added to the existing priority column. The
    rank table is tiny next to the frontier (hosts ≪ urls) — Catalyst
    broadcasts the join. Composition of :func:`rank_percentiles` +
    :func:`apply_rank_bonus`; the crawl runner uses the pieces directly
    so the percentile table is computed once, not per round
    (CrawlConfig.rank_priority_weight)."""
    return apply_rank_bonus(
        frontier, rank_percentiles(ranks, node_col, host_col), weight, host_col
    )
