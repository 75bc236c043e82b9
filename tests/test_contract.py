"""Driver-contract sanity: every queries() entry runs at sf0.001 and each
oracle is syntactically valid DuckDB SQL over the registered views.

The full side-by-side value comparison is the driver's job (sf0.01);
tests/test_e2e_ordering.py guards the crawl semantics. Here we guard the
contract surface itself: names align, callables run, schemas stable.
"""

from __future__ import annotations

import importlib
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

entry_mod = importlib.import_module("__spark_entry__")

# keep the per-test cost sane: skip the heavy ones at smoke scale
CHEAP = [
    "q01_pricing_summary", "q02_top_customers", "q03_order_rollup",
    "q04_parts_never_ordered", "q05_customers_with_orders",
    "q06_latest_order_per_customer", "q07_supplier_nation_broadcast",
    "q08_order_set_ops", "q09_scalar_functions", "q10_events_rank_per_user",
    "q11_doc_token_explode", "q30_dedup_exact", "q36_quality_stats",
    "q37_langid", "q39_token_stats", "q40_multimodal_features",
    "q41_ann_lsh_topk", "q42_simhash_hamming",
]


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # every driver query is two-sided oracle-checked (round 2: q32/q33/q40
    # moved to md5-parameterized forms a DuckDB oracle can reproduce)
    assert set(qs) == set(os_)
    assert len(qs) >= 25


@pytest.mark.parametrize("name", CHEAP)
def test_query_runs_at_smoke_scale(spark, name, sf_dir):
    df = entry_mod.queries()[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) >= 2


def test_oracles_parse_in_duckdb(spark, sf_dir):
    from newscrawler_spark.contract import ensure_cache

    # the crawl oracles read the .fixtures/correctness tables (frontier0
    # is written only after the cache's full crawl) — build them first
    ensure_cache(spark, "correctness")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    for sql in entry_mod.oracle_sql().values():
        con.execute(f"EXPLAIN {sql}")


def test_entry_returns_fetch_log(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 100
    cols = set(df.columns)
    assert {"url", "url_canon", "url_hash", "host", "fetch_round",
            "rank_in_host", "status"} <= cols
