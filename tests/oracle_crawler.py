"""Pure-Python single-threaded mini-oracle crawler (SURVEY.md §6.3).

PROVENANCE: `/root/reference/` was empty this session (SURVEY.md §0), so
this oracle — not the reference's own pytest suite — defines the golden
fetch ordering, URL-seen membership, and extracted-article bytes. Every
test that uses it states so. If the reference mount appears, re-baseline
against its fixtures first (SURVEY.md §0 step 1).

It shares the *semantic kernels* with the engine (canonicalization,
hashing, robots parsing/matching, discovery parsing, extraction) via the
``newscrawler_spark.functions`` modules, but reimplements every
*relational* step — scheduling window, budgets, dedup, offsite/depth
filters, retry, round loop — independently in plain dicts/lists/sets, so
it cross-checks exactly the parts Spark executes differently
(shuffles, windows, joins, Arrow batching).

TOTAL ORDER (must match operators/frontier.py):
    priority DESC, depth ASC, discovered_round ASC, url_hash ASC (signed)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from newscrawler_spark.config import DEFAULT_CONFIG, CrawlConfig
from newscrawler_spark.functions.canon import canonicalize_py, registered_domain_py
from newscrawler_spark.functions.discover_core import (
    PRIO_FEED,
    PRIO_SEED,
    discover_from_page,
)
from newscrawler_spark.functions.extract_core import (
    decode_html,
    extract_article,
    page_stats,
)
from newscrawler_spark.functions.hashing import spark_xxhash64_str
from newscrawler_spark.functions.robots_core import (
    RobotsRule,
    parse_robots_body,
    url_path,
)


@dataclass
class Req:
    url: str
    url_canon: str
    url_hash: int
    host: str
    priority: int
    depth: int
    discovered_round: int
    seed_host: str
    retry: int = 0

    def sort_key(self):
        return (-self.priority, self.depth, self.discovered_round, self.url_hash)

    def dedup_key(self):
        """In-batch dedup winner order — sort key + raw-url tie-break
        (≙ frontier.dedup_in_batch's ``orderBy(*order_cols(), url)``)."""
        return (*self.sort_key(), self.url)


@dataclass
class OracleResult:
    fetch_log: list[dict] = field(default_factory=list)
    seen: set[int] = field(default_factory=set)
    articles: dict[str, dict] = field(default_factory=dict)  # url_canon → record
    rounds: int = 0


def _mk_req(url: str, priority: int, depth: int, round_: int, seed_host: str,
            retry: int = 0) -> Req:
    c = canonicalize_py(url)
    return Req(url, c, spark_xxhash64_str(c), registered_domain_py(url),
               priority, depth, round_, seed_host, retry)


class OracleCrawler:
    def __init__(self, pages_rows, seeds_rows, cfg: CrawlConfig = DEFAULT_CONFIG):
        """pages_rows: iterable of dicts (url, warc_ts, html, text, lang);
        seeds_rows: iterable of dicts (seed_url, host, crawler, max_depth,
        per_host_budget, ...)."""
        self.cfg = cfg
        # variant collapse ≙ runner.enrich_pages: winner = latest warc_ts,
        # then lexicographically smallest raw url
        best: dict[str, dict] = {}
        for row in pages_rows:
            c = canonicalize_py(row["url"])
            cur = best.get(c)
            if cur is None or (row["warc_ts"], _neg(row["url"])) > (
                cur["warc_ts"], _neg(cur["url"])
            ):
                best[c] = row
        self.pages = best
        self.seeds = {s["host"]: s for s in seeds_rows}

        # robots tables (≙ operators.robots: parse per host, from the
        # collapsed corpus)
        self.robots: dict[str, list[RobotsRule]] = {}
        self.sitemaps: dict[str, list[str]] = {}
        for c, row in best.items():
            if c.endswith("/robots.txt"):
                host = registered_domain_py(row["url"])
                rules, sms = parse_robots_body(host, decode_html(row["html"]))
                self.robots[host] = rules
                self.sitemaps[host] = sms

    # ------------------------------------------------------------- gates

    def _group(self, host: str) -> list[RobotsRule]:
        """≙ robots_gate group selection: exact-UA group if the host has
        one, else the ``*`` group."""
        ua = self.cfg.user_agent.lower()
        rules = self.robots.get(host, [])
        cand = [r for r in rules if r.user_agent in (ua, "*")]
        exact = [r for r in cand if r.user_agent == ua]
        grp = exact if exact else cand
        return [r for r in grp if r.path_prefix != ""]

    def allowed(self, req: Req) -> bool:
        if not self.cfg.respect_robots:
            return True
        best: RobotsRule | None = None
        path = url_path(req.url_canon)
        for r in self._group(req.host):
            if path.startswith(r.path_prefix):
                if (
                    best is None
                    or len(r.path_prefix) > len(best.path_prefix)
                    or (len(r.path_prefix) == len(best.path_prefix)
                        and r.allow and not best.allow)
                ):
                    best = r
        return True if best is None else best.allow

    def budget(self, host: str) -> int:
        """≙ runner.build_host_budgets: seed budget ∧ crawl-delay cap.
        Delay = max over exact-UA + '*' rules (engine's host_crawl_delays)."""
        seed = self.seeds.get(host)
        b = seed["per_host_budget"] if seed else self.cfg.per_host_budget
        ua = self.cfg.user_agent.lower()
        delays = [
            r.crawl_delay
            for r in self.robots.get(host, [])
            if r.user_agent in (ua, "*")
        ]
        d = max(delays) if delays else 0.0
        if d > 0:
            b = min(b, max(1, int(self.cfg.round_seconds // d)))
        return int(b)

    def max_depth(self, seed_host: str) -> int:
        seed = self.seeds.get(seed_host)
        return seed["max_depth"] if seed else self.cfg.max_depth

    def _condition(self, stats: dict, crawler: str) -> bool:
        """≙ heuristics.compile_condition for the default condition set —
        independently coded boolean eval (not Catalyst)."""
        cfg = self.cfg
        env = {
            "og_type": stats["og_type"],
            "linked_headlines": stats["linked_headline_ratio"]
            <= cfg.linked_headlines_max_ratio,
            "self_linked_headlines": stats["self_linked_headline_ratio"]
            <= cfg.self_linked_headlines_max_ratio,
            "is_not_from_subdomain": stats["is_not_from_subdomain"],
            "meta_contains_article_keywords": stats["meta_contains_article_keywords"],
            "crawler_contains_only_article_alikes": crawler in ("rss", "download"),
        }
        expr = cfg.heuristics_condition
        for k, v in env.items():
            expr = __import__("re").sub(rf"\b{k}\b", str(v), expr)
        return bool(eval(expr.replace("AND", "and").replace("OR", "or").replace("NOT", "not")))  # noqa: S307 — test oracle only

    # -------------------------------------------------------------- crawl

    def bootstrap(self) -> list[Req]:
        reqs: list[Req] = []
        for host, seed in self.seeds.items():
            reqs.append(_mk_req(seed["seed_url"], PRIO_SEED, 0, 0, host))
            if seed["crawler"] in ("sitemap", "recursive_sitemap"):
                for sm in self.sitemaps.get(host, []):
                    reqs.append(_mk_req(sm, PRIO_FEED, 0, 0, host))
        # in-batch dedup: total-order winner per hash
        byhash: dict[int, Req] = {}
        for q in sorted(reqs, key=Req.dedup_key):
            byhash.setdefault(q.url_hash, q)
        return [q for q in byhash.values() if self.allowed(q)]

    def run(self, max_rounds: int = 50, batch_size: int | None = None) -> OracleResult:
        cfg = self.cfg
        batch = cfg.batch_size if batch_size is None else batch_size
        res = OracleResult()
        pending = self.bootstrap()
        res.seen = {q.url_hash for q in pending}

        for r in range(1, max_rounds + 1):
            if not pending:
                break
            # ---- schedule (B7/B8): per-host top-budget, global cut, rank
            byhost: dict[str, list[Req]] = {}
            for q in pending:
                byhost.setdefault(q.host, []).append(q)
            cand: list[Req] = []
            for host, lst in byhost.items():
                lst.sort(key=Req.sort_key)
                cand.extend(lst[: self.budget(host)])
            cand.sort(key=Req.sort_key)
            if batch is not None:
                cand = cand[:batch]
            rank: dict[str, int] = {}
            chosen = set()
            children: list[Req] = []
            retries: list[Req] = []
            for q in cand:
                chosen.add(q.url_hash)
                rank[q.host] = rank.get(q.host, 0) + 1
                page = self.pages.get(q.url_canon)
                status = 200 if page is not None else 404
                res.fetch_log.append(
                    dict(fetch_round=r, host=q.host, rank_in_host=rank[q.host],
                         url=q.url, url_canon=q.url_canon, url_hash=q.url_hash,
                         priority=q.priority, depth=q.depth, retry=q.retry,
                         status=status)
                )
                seed = self.seeds.get(q.seed_host)
                crawler = seed["crawler"] if seed else cfg.default_crawler
                if status != 200:
                    if q.retry < cfg.max_retry:
                        retries.append(
                            Req(q.url, q.url_canon, q.url_hash, q.host,
                                q.priority - 1, q.depth, r + 1, q.seed_host,
                                q.retry + 1)
                        )
                    continue
                body = decode_html(page["html"])
                # ---- D gate + E extraction
                stats = page_stats(body, q.url)
                if self._condition(stats, crawler):
                    res.articles[q.url_canon] = extract_article(
                        q.url, body, corpus_lang=page["lang"]
                    )
                # ---- discovery (children discovered in round r carry
                # discovered_round = r, ≙ process.children_from_processed(processed, r-1))
                for child, prio, d in discover_from_page(q.url, body, crawler, q.depth):
                    cq = _mk_req(child, prio, d, r, q.seed_host)
                    if cq.host != q.seed_host:          # B4 offsite
                        continue
                    if cq.depth > self.max_depth(q.seed_host):  # B6
                        continue
                    if not self.allowed(cq):            # B9
                        continue
                    children.append(cq)

            # in-batch dedup (total-order winner) then seen anti-join (B3)
            byhash: dict[int, Req] = {}
            for cq in sorted(children, key=Req.dedup_key):
                byhash.setdefault(cq.url_hash, cq)
            fresh = [cq for h, cq in byhash.items() if h not in res.seen]
            res.seen.update(cq.url_hash for cq in fresh)

            pending = [q for q in pending if q.url_hash not in chosen]
            pending.extend(fresh)
            pending.extend(retries)
            res.rounds = r
            if not cand:
                break
        return res


def _neg(s: str):
    """Invert string order so max() picks the lexicographically SMALLEST."""
    return tuple(-b for b in s.encode())
