"""Article-page heuristics gate (SURVEY.md §3 D1–D7).

Reference parity: ``newscrawler/helper_classes/sub_classes/heuristics.py ::
Heuristics.{og_type, linked_headlines, self_linked_headlines,
is_not_from_subdomain, meta_contains_article_keywords,
crawler_contains_only_article_alikes}`` gated by the boolean condition
interpreter in ``heuristics_manager.py :: HeuristicsManager`` (symbol
cites; mount empty, SURVEY.md §0).

Spark shape: the page pass (``operators/process.py``) materializes every
per-page stat as plain columns (``STATS_FIELDS``; shared semantics:
``functions.extract_core.page_stats``); the config condition string is
compiled ONCE into a Spark SQL expression that Catalyst constant-folds and
evaluates natively — the interpreter itself costs nothing at runtime (D7).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig

STATS_FIELDS = (
    "og_type boolean, n_headlines int, linked_headline_ratio double, "
    "self_linked_headline_ratio double, is_not_from_subdomain boolean, "
    "meta_contains_article_keywords boolean, n_paragraphs int"
)
_STATS_COLS = [f.split()[0] for f in STATS_FIELDS.split(", ")]


# --------------------------------------------------------- D7 condition DSL

_NAME_RE = re.compile(r"\b[a-z_][a-z0-9_]*\b")
_ALLOWED_BARE = {
    "og_type",
    "is_not_from_subdomain",
    "meta_contains_article_keywords",
    "crawler_contains_only_article_alikes",
    "linked_headlines",
    "self_linked_headlines",
    # literals / operators that survive the name scan
    "and", "or", "not", "true", "false",
}


def _checked_condition(cfg: CrawlConfig) -> str:
    expr = cfg.heuristics_condition
    for name in set(_NAME_RE.findall(expr)):
        if name not in _ALLOWED_BARE:
            raise ValueError(f"unknown heuristic in condition: {name!r}")
    return expr


def compile_condition(cfg: CrawlConfig) -> Column:
    """D7 — config condition string → one Catalyst boolean expression.

    Heuristic names expand to their comparison form (ratios vs the config
    thresholds); ``crawler_contains_only_article_alikes`` expands to a
    check on the seed's crawler column (D6). Unknown names are rejected
    (the reference's interpreter raises on unknown heuristics too).
    """
    expr = _checked_condition(cfg)
    substitutions = {
        "linked_headlines": (
            f"(linked_headline_ratio <= {cfg.linked_headlines_max_ratio!r})"
        ),
        "self_linked_headlines": (
            f"(self_linked_headline_ratio <= {cfg.self_linked_headlines_max_ratio!r})"
        ),
        "crawler_contains_only_article_alikes": "(crawler IN ('rss','download'))",
    }
    compiled = _NAME_RE.sub(
        lambda m: substitutions.get(m.group(0), m.group(0)), expr
    )
    return F.expr(compiled)


def make_condition_py(cfg: CrawlConfig):
    """Pure-Python twin of :func:`compile_condition` — compiled ONCE to a
    code object, evaluated per page against a tiny env dict. Used inside
    the page pass (operators/process.py) to skip extraction work for pages the Catalyst
    gate will reject anyway. Exactly consistent: the same boolean /
    IEEE-double comparisons on the same values."""
    expr = _checked_condition(cfg)
    py = re.sub(r"\bAND\b", "and", expr)
    py = re.sub(r"\bOR\b", "or", py)
    py = re.sub(r"\bNOT\b", "not", py)
    py = py.replace("true", "True").replace("false", "False")
    code = compile(py, "<heuristics_condition>", "eval")
    lt, st = cfg.linked_headlines_max_ratio, cfg.self_linked_headlines_max_ratio

    def evaluate(stats: dict, crawler: str) -> bool:
        env = {
            "og_type": stats["og_type"],
            "linked_headlines": stats["linked_headline_ratio"] <= lt,
            "self_linked_headlines": stats["self_linked_headline_ratio"] <= st,
            "is_not_from_subdomain": stats["is_not_from_subdomain"],
            "meta_contains_article_keywords": stats["meta_contains_article_keywords"],
            "crawler_contains_only_article_alikes": crawler in ("rss", "download"),
        }
        return bool(eval(code, {"__builtins__": {}}, env))  # noqa: S307

    return evaluate

