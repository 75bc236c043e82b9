"""spark-submit curation entry (jobs/curate_job.py): arg plumbing plus
real in-process runs of main() over both corpus formats — the same code
path spark-submit executes.

Pins: (1) a documents-parquet corpus flows dedup → quality gate →
near-dup removal → committed training shards, and the planted exact
duplicate/garbage docs are the rows that vanish; (2) a WARC shard corpus
flows through the SAME canon + Arrow extraction stages the crawl uses
before curation (doc_id == url_hash of the enriched page); (3) the job
prints one parseable JSON summary line.
"""

from __future__ import annotations

import json
import sys

import pytest

sys.path.insert(0, "/root/repo")

from jobs.curate_job import load_documents, main, parse_args  # noqa: E402
from newscrawler_spark.operators.shards import (  # noqa: E402
    MANIFEST,
    read_training_shards,
)


def test_parse_args():
    a = parse_args([
        "--input", "/i", "--out", "/o", "--n-shards", "16",
        "--salt", "epoch-3", "--quality-min", "0.4", "--hasher", "md5",
    ])
    assert (a.input, a.out, a.n_shards) == ("/i", "/o", 16)
    assert a.salt == "epoch-3" and a.quality_min == 0.4 and a.hasher == "md5"
    assert a.input_kind == "auto" and a.threshold == 0.5


def _mk_documents(spark, path):
    # per-doc UNIQUE vocabulary: no cross-doc shingles, so the near-dup
    # stage has nothing to drop and only the planted rows can vanish
    rows = [
        (i, " ".join(f"word{i}token{j}" for j in range(40)))
        for i in range(20)
    ]
    rows.append((100, rows[3][1]))            # exact duplicate of doc 3
    rows.append((101, "!!!???!!!" * 40))     # punct soup: fails the gate
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite").parquet(path)
    return {r[0] for r in rows}


def test_curate_job_documents_input(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "shards")
    ids = _mk_documents(spark, src)
    main(["--input", src, "--out", out, "--n-shards", "4"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_kind"] == "documents"
    assert summary["input_docs"] == len(ids) == 22
    assert summary["surviving_docs"] < summary["input_docs"]
    got = read_training_shards(spark, out)
    kept = {r.doc_id for r in got.select("doc_id").collect()}
    assert 100 not in kept      # exact dup: larger id dropped
    assert 3 in kept            # keeper survived
    assert 101 not in kept      # quality gate
    assert {"doc_id", "text", "n_tokens", "quality_score",
            "lang_pred", "shard", "shuffle_hash"} <= set(got.columns)
    assert (tmp_path / "shards" / MANIFEST).exists()
    assert summary["surviving_docs"] == got.count()


def test_curate_job_warc_input(spark, tmp_path, capsys):
    from datetime import datetime

    from newscrawler_spark.runner import enrich_pages
    from newscrawler_spark.sources.warc import write_warc

    html = ("<html><head><title>T{i}</title></head><body><article>"
            + ("<p>the quick brown fox story paragraph with many common "
               "words that the extractor keeps as body text.</p>") * 3
            + "<p>unique sentence number {i} anchors the difference.</p>"
            "</article></body></html>")
    pages = spark.createDataFrame(
        [(f"https://wh{i % 3}.example/a/{i}", datetime(2016, 5, 1 + i),
          html.replace("{i}", str(i)).encode(), "en")
         for i in range(9)],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    wdir = str(tmp_path / "warc")
    write_warc(pages, wdir, records_per_file=4).collect()

    out = str(tmp_path / "shards")
    main(["--input", wdir, "--input-kind", "warc", "--out", out,
          "--n-shards", "2", "--quality-min", "0.0"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_kind"] == "warc"
    assert summary["input_docs"] == 9
    assert summary["surviving_docs"] >= 1
    got = read_training_shards(spark, out)
    # doc_id is the enriched url_hash — same ids the crawl would assign
    want = {r.url_hash for r in enrich_pages(pages).select("url_hash").collect()}
    assert {r.doc_id for r in got.select("doc_id").collect()} <= want


def test_load_documents_auto_detect_pages(spark, tmp_path):
    from datetime import datetime

    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [("https://h.example/x", datetime(2016, 5, 1),
          b"<html><head><title>t</title></head><body><article><p>"
          b"plenty of ordinary body words for the scorer to keep here"
          b"</p></article></body></html>")],
        "url string, warc_ts timestamp, html binary",
    ).write.mode("overwrite").parquet(p)
    docs, kind = load_documents(spark, p, "auto")
    assert kind == "pages"
    rows = docs.collect()
    assert len(rows) == 1 and rows[0].text
    with pytest.raises(SystemExit):
        q = str(tmp_path / "bad.parquet")
        spark.range(3).write.parquet(q)
        load_documents(spark, q, "auto")


def test_curate_job_pre_gates(spark, tmp_path, capsys):
    """--gopher and --url-filter drop the designed rows BEFORE the
    curation chain, and the summary reports per-gate drop counts."""
    import pyspark.sql.functions as F

    good = ("the quick brown fox likes to be part of and that they have "
            "fun with plain words " * 4).strip()
    rows = [(i, good + f" uniq{i}tail", f"http://ok{i}.example/a")
            for i in range(6)]
    rows.append((50, "tiny", "http://ok50.example/a"))        # gopher: too short
    rows.append((51, good + " casino poker bonus",            # url keywords
                 "http://spam.example/free-casino-poker"))
    rows.append((52, good + " blocked host tail",             # blocklist
                 "http://blocked.example/x"))
    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, url string"
    ).write.mode("overwrite").parquet(inp)
    blp = str(tmp_path / "bl.parquet")
    spark.createDataFrame([("blocked.example",)], "host string").write.mode(
        "overwrite").parquet(blp)

    out = str(tmp_path / "shards")
    main(["--input", inp, "--input-kind", "documents", "--out", out,
          "--n-shards", "4", "--gopher", "--url-filter",
          "--url-blocklist", blp, "--quality-min", "0.0",
          # the six survivors share most of their text by construction;
          # a >1 threshold disables near-dup drops so the assert isolates
          # the two PRE-gates
          "--threshold", "1.1"])
    line = [l for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["pre_gates_dropped"]["url_filter"] == 2   # 51 + 52
    assert summary["pre_gates_dropped"]["gopher"] == 1       # 50
    kept = read_training_shards(spark, out).select("doc_id").collect()
    assert {r["doc_id"] for r in kept} == set(range(6))


def test_pages_input_without_url_filter_writes_no_url(spark, tmp_path, capsys):
    """A pages corpus carries url through extraction, but only the
    --url-filter gate needs it: without the flag the training shards
    must not gain a url column."""
    from datetime import datetime

    html = ("<html><head><title>T{i}</title></head><body><article>"
            + ("<p>the quick brown fox story paragraph with many common "
               "words that the extractor keeps as body text.</p>") * 3
            + "<p>unique sentence number {i} anchors the difference.</p>"
            "</article></body></html>")
    inp = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"https://ph{i}.example/a/{i}", datetime(2016, 5, 1 + i),
          html.replace("{i}", str(i)).encode()) for i in range(4)],
        "url string, warc_ts timestamp, html binary",
    ).write.mode("overwrite").parquet(inp)

    out = str(tmp_path / "shards")
    main(["--input", inp, "--input-kind", "pages", "--out", out,
          "--n-shards", "2", "--quality-min", "0.0"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_kind"] == "pages"
    assert summary["surviving_docs"] >= 1
    got = read_training_shards(spark, out)
    assert "url" not in got.columns
    assert {"doc_id", "text"} <= set(got.columns)
