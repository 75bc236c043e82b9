"""spark-submit entry for the training-data curation stage.

The full path from a raw web corpus to training shards, in one job:

    corpus (parquet documents | parquet pages | WARC shards)
      → [pages/WARC only] canonicalize + Arrow article extraction
      → curate: exact dedup → quality gate → MinHash-LSH near-dup removal
      → deterministic global shuffle into N training shards
        (manifest-committed; see operators/shards.py)

Package and run:

    cd /root/repo && zip -r /tmp/newscrawler_spark.zip newscrawler_spark
    spark-submit --py-files /tmp/newscrawler_spark.zip \\
        jobs/curate_job.py \\
        --input s3://bucket/cc_shards --input-kind warc \\
        --out s3://bucket/training_shards \\
        --n-shards 4096 --salt epoch-0 --quality-min 0.5 --threshold 0.5

``--input-kind auto`` (default) picks: ``documents`` when the parquet
schema has (doc_id, text); ``warc`` when the path names .warc(.gz)
files; else ``pages`` (parquet with url/warc_ts/html → extraction
derives the text). Prints ONE JSON summary line.
"""

from __future__ import annotations

import argparse
import json


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="newscrawler_spark curation")
    p.add_argument("--input", required=True,
                   help="documents parquet, pages parquet, or WARC shard dir")
    p.add_argument("--input-kind", default="auto",
                   choices=["auto", "documents", "pages", "warc"])
    p.add_argument("--out", required=True, help="training-shard output dir")
    p.add_argument("--n-shards", type=int, default=64)
    p.add_argument("--salt", default="", help="epoch reshuffle salt")
    p.add_argument("--quality-min", type=float, default=0.5)
    p.add_argument("--threshold", type=float, default=0.5,
                   help="near-dup Jaccard threshold")
    p.add_argument("--hasher", default="xxhash64",
                   choices=["xxhash64", "md5"],
                   help="MinHash family (md5 = SQL-reproducible tier)")
    p.add_argument("--gopher", action="store_true",
                   help="drop docs failing the Gopher quality rule set "
                        "(textstats.gopher_rules) before curation")
    p.add_argument("--url-filter", action="store_true",
                   help="drop docs whose URL fails the keyword/length "
                        "gate (urlfilter.url_quality_gate); needs a url "
                        "column (pages/WARC inputs have one)")
    p.add_argument("--url-blocklist", default=None,
                   help="parquet with a `host` column — domains to drop "
                        "when --url-filter is on")
    p.add_argument("--master", default=None,
                   help="override master (tests); spark-submit sets it")
    return p.parse_args(argv)


def _detect_kind(spark, path: str) -> str:
    if ".warc" in path.rstrip("/").rsplit("/", 1)[-1]:
        return "warc"
    head = spark.read.parquet(path)
    cols = set(head.columns)
    if {"doc_id", "text"} <= cols:
        return "documents"
    if {"url", "warc_ts", "html"} <= cols:
        return "pages"
    raise SystemExit(
        f"--input-kind auto: {path} is neither a documents table "
        f"(doc_id, text) nor a pages table (url, warc_ts, html); got {cols}")


def load_documents(spark, path: str, kind: str = "auto"):
    """→ documents(doc_id, text [, url]) whatever the corpus format.

    pages/WARC corpora flow through the SAME canon + Arrow extraction
    stages the crawl uses (enrich_pages → extract_articles), so the
    curated text is the engine's extracted article text, and doc_id is
    the url_hash — stable across re-ingests, and UNIQUE: enrich_pages
    collapses duplicate captures/spellings to one row per url_hash. A
    user-supplied documents table is trusted to carry unique doc_ids
    (the usual contract for a curation input; duplicate ids would fan
    out through the annotation joins).
    """
    from pyspark.sql import functions as F

    if kind == "auto":
        kind = _detect_kind(spark, path)
    if kind == "documents":
        d = spark.read.parquet(path)
        cols = ["doc_id", "text"] + (["url"] if "url" in d.columns else [])
        return d.select(*cols), "documents"
    if kind == "warc":
        from newscrawler_spark.sources.warc import pages_from_warc

        # a shard dir may hold .warc or .warc.gz files — match both
        pat = path if ".warc" in path.rstrip("/").rsplit("/", 1)[-1] \
            else path.rstrip("/") + "/*.warc*"
        pages = pages_from_warc(spark, pat)
    else:
        pages = spark.read.parquet(path)
        if "lang" not in pages.columns:
            pages = pages.withColumn("lang", F.lit(None).cast("string"))
    from newscrawler_spark.operators.extract import extract_articles
    from newscrawler_spark.runner import enrich_pages

    arts = extract_articles(enrich_pages(pages))
    return (
        arts.where(F.length("article_text") > 0)
        .select(
            F.col("url_hash").alias("doc_id"),
            F.col("article_text").alias("text"),
            "url",
        )
    ), kind


def main(argv=None) -> None:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    from newscrawler_spark.operators.curate import curate_corpus
    from newscrawler_spark.operators.shards import write_training_shards
    from newscrawler_spark.session import get_spark

    preexisting = SparkSession.getActiveSession()
    spark = get_spark(master=args.master, app_name="curate")
    docs = None
    try:
        docs, kind = load_documents(spark, args.input, args.input_kind)
        if not args.url_filter:
            # url is carried only for the --url-filter gate; it must not
            # leak into the training shards' schema
            docs = docs.drop("url")
        # the extraction chain behind `docs` is expensive (WARC parse +
        # Arrow HTML extraction); it feeds the curation chain, the
        # annotation join, AND the summary count — materialize it once
        docs = docs.persist()
        n_loaded = docs.count()

        dropped = {}
        if args.url_filter:
            from pyspark.sql import functions as F

            from newscrawler_spark.operators.linkgraph import _host_of
            from newscrawler_spark.operators.urlfilter import url_quality_gate

            if "url" not in docs.columns:
                raise SystemExit(
                    "--url-filter needs a url column; documents-kind "
                    "inputs have none (use a pages/WARC input)")
            bl = (spark.read.parquet(args.url_blocklist)
                  if args.url_blocklist else None)
            gated = url_quality_gate(
                docs.withColumn("host", _host_of(F.col("url"))),
                blocklist=bl, url_col="url",
            )
            docs2 = gated.where("kept").drop(
                "host", "url_score", "block_reason", "kept").persist()
            dropped["url_filter"] = n_loaded - docs2.count()
            docs.unpersist()
            docs = docs2
        if args.gopher:
            from newscrawler_spark.operators.textstats import gopher_rules

            ok = gopher_rules(docs).where("passes").select("doc_id")
            docs2 = docs.join(ok, "doc_id").persist()
            dropped["gopher"] = (n_loaded - sum(dropped.values())
                                 - docs2.count())
            docs.unpersist()
            docs = docs2
        surviving = curate_corpus(
            docs,
            quality_min=args.quality_min,
            near_dup_threshold=args.threshold,
            hasher=args.hasher,
        )
        annotated = docs.join(surviving, "doc_id")
        man = write_training_shards(
            annotated, args.out, args.n_shards, salt=args.salt)
        print(json.dumps({
            "input_kind": kind,
            "input_docs": n_loaded,
            "pre_gates_dropped": dropped,
            "surviving_docs": man["total_docs"],
            "n_shards": man["n_shards"],
            "salt": man["salt"],
            "out": args.out,
        }))
    finally:
        # unpersist unconditionally: when main() runs in-process against a
        # preexisting session (tests / CLI embedding), an exception in
        # curate/write must not leak the cached DataFrame (ADVICE r4)
        if docs is not None:
            docs.unpersist()
        if preexisting is None:
            spark.stop()


if __name__ == "__main__":
    main()
