"""Link / sitemap / RSS discovery core (SURVEY.md §3 A5/A6/C1/C3).

Single definition of discovery semantics, imported by BOTH the Spark
Arrow-batched page pass (:mod:`newscrawler_spark.operators.process`)
and the pure-Python mini-oracle (``tests/oracle_crawler.py``) — so link
sets and therefore fetch ordering match by construction.

Reference parity (symbol-level cites; mount empty, SURVEY.md §0):

- C1 link extraction ≙ scrapy ``LinkExtractor`` used by
  ``newscrawler/crawler/spiders/recursive_crawler.py :: RecursiveCrawler``:
  pull ``<a href>``, absolutize against the page url, keep http(s) only.
- A5 sitemap parse ≙ ``…/spiders/sitemap_crawler.py :: SitemapCrawler``
  (scrapy ``SitemapSpider``): ``<loc>`` entries of urlset/sitemapindex.
- A6 RSS parse ≙ ``…/spiders/rss_crawler.py :: RssCrawler``: per
  ``<item>``: link + title + pubDate.
- C3 spider auto-selection ≙ ``supports_site`` probes: robots ``Sitemap:``
  line → sitemap; ``<link type="application/rss+xml">`` → rss.

Priorities (mini-oracle–defined until the mount appears, SURVEY.md §6.3):
seed=100, sitemap-index child=90, sitemap/rss child=50, recursive link=10.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

PRIO_SEED = 100
PRIO_FEED = 90      # feed documents themselves (sitemap.xml, feed.xml)
PRIO_FEED_CHILD = 50  # article urls named by a sitemap/rss feed
PRIO_LINK = 10      # recursively discovered <a href> links

_A_HREF_RE = re.compile(r"""<a\b[^>]*?href\s*=\s*["']([^"'\s>]+)["']""", re.I)
_LOC_RE = re.compile(r"<loc>\s*([^<\s][^<]*?)\s*</loc>", re.I)
_ITEM_RE = re.compile(r"<item\b.*?</item>", re.I | re.S)
_LINK_TAG_RE = re.compile(r"<link>\s*([^<\s][^<]*?)\s*</link>", re.I)
_TITLE_TAG_RE = re.compile(r"<title>\s*(.*?)\s*</title>", re.I | re.S)
_PUBDATE_RE = re.compile(r"<pubDate>\s*(.*?)\s*</pubDate>", re.I)
_RSS_ALT_RE = re.compile(
    r"""<link\b[^>]*?type\s*=\s*["']application/rss\+xml["'][^>]*?"""
    r"""href\s*=\s*["']([^"'\s>]+)["']"""
    r"""|<link\b[^>]*?href\s*=\s*["']([^"'\s>]+)["'][^>]*?"""
    r"""type\s*=\s*["']application/rss\+xml["']""",
    re.I,
)
_SITEMAP_LINE_RE = re.compile(r"^\s*sitemap\s*:\s*(\S+)", re.I | re.M)


def classify_page(url: str, body: str) -> str:
    """'robots' | 'sitemap' | 'sitemapindex' | 'rss' | 'html'."""
    if url.split("?", 1)[0].rstrip("/").endswith("/robots.txt"):
        return "robots"
    head = body[:512].lower()
    if "<sitemapindex" in head:
        return "sitemapindex"
    if "<urlset" in head:
        return "sitemap"
    if "<rss" in head or "<feed" in head:
        return "rss"
    return "html"


_ORIGIN_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):(//[^/?#]*)")


def _absolutize(base_url: str, href: str, origin_cache: list) -> str:
    """urljoin fast path: absolute / root-relative / protocol-relative
    hrefs (the overwhelming majority on real pages) resolve with string
    ops; anything else falls back to urllib's urljoin. Profiling showed
    urljoin as the single biggest cost of the fused page pass."""
    if href.startswith(("http://", "https://")):
        return href
    if not origin_cache:
        m = _ORIGIN_RE.match(base_url)
        origin_cache.append((m.group(1), m.group(2)) if m else None)
    og = origin_cache[0]
    if og is None:
        return urljoin(base_url, href)
    scheme, netpart = og
    if href.startswith("//"):
        return f"{scheme}:{href}"
    if href.startswith("/"):
        return f"{scheme}:{netpart}{href}"
    return urljoin(base_url, href)


def extract_links(body: str, base_url: str) -> list[str]:
    """C1 — ``<a href>`` absolutized, http(s) only, document order, deduped."""
    out: list[str] = []
    seen: set[str] = set()
    origin_cache: list = []
    for href in _A_HREF_RE.findall(body):
        if href.startswith(("javascript:", "mailto:", "#")):
            continue
        absu = _absolutize(base_url, href, origin_cache)
        if not absu.startswith(("http://", "https://")):
            continue
        if absu not in seen:
            seen.add(absu)
            out.append(absu)
    return out


def parse_sitemap(body: str) -> list[str]:
    """A5 — ``<loc>`` urls of a urlset OR sitemapindex (caller re-enqueues
    index children as feed pages)."""
    return [u for u in _LOC_RE.findall(body) if u.startswith(("http://", "https://"))]


def parse_rss(body: str) -> list[tuple[str, str, str]]:
    """A6 — per ``<item>``: (link, rss_title, pub_date_raw)."""
    out = []
    for item in _ITEM_RE.findall(body):
        lm = _LINK_TAG_RE.search(item)
        if not lm:
            continue
        tm = _TITLE_TAG_RE.search(item)
        dm = _PUBDATE_RE.search(item)
        out.append((lm.group(1), tm.group(1) if tm else "", dm.group(1) if dm else ""))
    return out


def find_rss_link(body: str, base_url: str) -> str | None:
    """C3 — ``<link type="application/rss+xml">`` href, absolutized."""
    m = _RSS_ALT_RE.search(body)
    if not m:
        return None
    href = m.group(1) if m.group(1) is not None else m.group(2)
    return urljoin(base_url, href) if href else None


def robots_sitemap_urls(robots_body: str) -> list[str]:
    """C3 — ``Sitemap:`` lines out of a robots.txt body."""
    return _SITEMAP_LINE_RE.findall(robots_body)


def discover_from_page(
    url: str, body: str, crawler: str, depth: int
) -> list[tuple[str, int, int]]:
    """Unified discovery dispatch — the one function both engines call.

    Returns ``[(child_url, priority, child_depth)]`` for one fetched page,
    given the seed's crawler strategy. Depth: feed documents don't advance
    depth (their children sit at parent depth + 1, like the reference's
    sitemap/RSS spiders which emit article requests directly).
    """
    kind = classify_page(url, body)
    d1 = depth + 1
    if kind == "sitemapindex":
        if crawler in ("sitemap", "recursive_sitemap"):
            return [(u, PRIO_FEED, depth) for u in parse_sitemap(body)]
        return []
    if kind == "sitemap":
        if crawler in ("sitemap", "recursive_sitemap"):
            return [(u, PRIO_FEED_CHILD, d1) for u in parse_sitemap(body)]
        return []
    if kind == "rss":
        if crawler == "rss":
            return [(u, PRIO_FEED_CHILD, d1) for u, _t, _d in parse_rss(body)]
        return []
    if kind == "robots":
        return []
    # plain html page
    out: list[tuple[str, int, int]] = []
    if crawler == "rss":
        # RssCrawler: only the feed link from the start page
        feed = find_rss_link(body, url)
        if feed:
            out.append((feed, PRIO_FEED, depth))
        return out
    if crawler in ("recursive", "recursive_sitemap"):
        return [(u, PRIO_LINK, d1) for u in extract_links(body, url)]
    return []  # 'download' and 'sitemap' crawlers don't follow page links
