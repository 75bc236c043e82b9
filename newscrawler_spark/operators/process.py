"""The page pass: ONE Arrow pass for D1–D6 + E1–E8 + C1/A5/A6.

SURVEY.md §3 E1 describes exactly this shape — "a single applyInPandas/
pandas_udf … one Arrow pass does E1–E8" with the stats pass (D) and link
extraction sharing it. It is the crawl's only page pass: every round
ships its fetched html across the JVM→Python Arrow boundary exactly once,
here. (``extract.extract_articles`` remains for the ungated extraction of
curation, the streaming daemon and compose.)

Semantics match the mini-oracle BY CONSTRUCTION: the same extract_core /
discover_core kernels run per document; the D7 gate still filters the
returned stats columns in Catalyst; extraction results for pages the
gate rejects are simply dropped (compute wasted on non-article pages is
~⅓ of extract cost — far cheaper than a second 6 GB Arrow transfer).

Output: input identity columns + stats fields + article fields + the
parallel link arrays ``link_urls``, ``link_prios``, ``link_depths``.
``html`` is consumed and NOT re-emitted.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newscrawler_spark.functions.discover_core import discover_from_page
from newscrawler_spark.functions.extract_core import (
    decode_html,
    extract_article,
    page_stats,
)
from newscrawler_spark.operators.heuristics import STATS_FIELDS, _STATS_COLS

_ARTICLE_COLS = [
    "source_domain", "html_title", "article_title", "article_description",
    "article_text", "article_author", "article_publish_date",
    "article_language", "article_image",
]

PROCESS_SCHEMA = (
    "url string, url_canon string, url_hash long, warc_ts timestamp, "
    "lang string, crawler string, depth int, seed_host string, "
    + STATS_FIELDS + ", "
    "source_domain string, html_title string, article_title string, "
    "article_description string, article_text string, article_author string, "
    "article_publish_date timestamp, article_language string, "
    "article_image string, "
    # links as PARALLEL primitive arrays: pandas→Arrow conversion of
    # list<struct> costs more than the saved html transfer; flat arrays
    # are zipped back natively downstream
    "link_urls array<string>, link_prios array<int>, link_depths array<int>"
)

_NULL_ARTICLE = {c: None for c in _ARTICLE_COLS}


def _process_batches_for(cfg):
    from newscrawler_spark.operators.heuristics import make_condition_py

    eval_condition = make_condition_py(cfg)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # column-wise accumulation: building 30-field row tuples and a
            # DataFrame from them costs more than the page processing
            stats_cols = {c: [] for c in _STATS_COLS}
            art_cols = {c: [] for c in _ARTICLE_COLS}
            lus, lps, lds = [], [], []
            for url, blob, lang, crawler, depth in zip(
                pdf["url"], pdf["html"], pdf["lang"], pdf["crawler"], pdf["depth"]
            ):
                doc = decode_html(blob)
                stats = page_stats(doc, url)
                # skip extraction for pages the Catalyst gate will drop —
                # make_condition_py is the exact python twin of the gate
                if eval_condition(stats, crawler):
                    rec = extract_article(url, doc, corpus_lang=lang)
                else:
                    rec = _NULL_ARTICLE
                for c in _STATS_COLS:
                    stats_cols[c].append(stats[c])
                for c in _ARTICLE_COLS:
                    art_cols[c].append(rec[c])
                lu, lp, ld = [], [], []
                for u, p, d in discover_from_page(url, doc, crawler, int(depth)):
                    lu.append(u); lp.append(p); ld.append(d)
                lus.append(lu); lps.append(lp); lds.append(ld)
            out = {
                "url": pdf["url"], "url_canon": pdf["url_canon"],
                "url_hash": pdf["url_hash"], "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"], "crawler": pdf["crawler"],
                "depth": pdf["depth"], "seed_host": pdf["seed_host"],
            }
            out.update(stats_cols)
            out.update(art_cols)
            out["link_urls"] = lus
            out["link_prios"] = lps
            out["link_depths"] = lds
            yield pd.DataFrame(out)

    return batches


def process_pages(ok: DataFrame, cfg=None) -> DataFrame:
    """The fused pass. Input needs url, url_canon, url_hash, warc_ts,
    html, lang, crawler, depth, seed_host."""
    from newscrawler_spark.config import DEFAULT_CONFIG

    pruned = ok.select(
        "url", "url_canon", "url_hash", "warc_ts", "html", "lang",
        "crawler", "depth", "seed_host",
    )
    return pruned.mapInPandas(
        _process_batches_for(cfg or DEFAULT_CONFIG), schema=PROCESS_SCHEMA
    )


def articles_from_processed(processed: DataFrame, cfg) -> DataFrame:
    """D7 gate (Catalyst, same compiled condition) → articles schema."""
    from newscrawler_spark.operators.extract import ARTICLES_SCHEMA
    from newscrawler_spark.operators.heuristics import compile_condition

    cols = [f.split()[0] for f in ARTICLES_SCHEMA.split(", ")]
    return (
        processed.where(compile_condition(cfg))
        .withColumn("download_date", F.col("warc_ts"))
        .select(cols)
    )


def children_from_processed(processed: DataFrame, round_no: int) -> DataFrame:
    """Zip the parallel link arrays natively and explode → child frontier
    rows ``(url, priority, depth, seed_host, discovered_round, retry)``:
    children become eligible in round ``round_no + 1``."""
    zipped = F.arrays_zip(
        F.col("link_urls").alias("url"),
        F.col("link_prios").alias("priority"),
        F.col("link_depths").alias("depth"),
    )
    return (
        processed.select("seed_host", F.explode(zipped).alias("l"))
        .select(
            F.col("l.url").alias("url"),
            F.col("l.priority").alias("priority"),
            F.col("l.depth").alias("depth"),
            "seed_host",
        )
        .withColumn("discovered_round", F.lit(round_no + 1))
        .withColumn("retry", F.lit(0))
    )
