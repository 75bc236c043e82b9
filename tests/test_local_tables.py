"""Driver-side tables of the crawl path are JVM LocalRelations.

``store.local_table`` (driver rows: the bootstrap's empty tables, every
round's counters) and ``runner._localize`` (a collected dimension table)
hand Spark an Arrow table, so the optimized plan is a ``LocalRelation``
and no job that scans or broadcasts it runs a Python task.
``createDataFrame`` on a Python list would plan an RDD scan
(``LogicalRDD``) instead. Also: one seed per host is enforced before the
first commit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.operators import store as ST
from newscrawler_spark.operators.extract import ARTICLES_SCHEMA
from newscrawler_spark.operators.robots import ROBOTS_RULES_SCHEMA
from newscrawler_spark.operators.store import COUNTERS_SCHEMA, FETCH_LOG_SCHEMA
from newscrawler_spark.runner import _localize, run_crawl

CFG = CrawlConfig(per_host_budget=3, max_depth=3)

RULE_ROWS = [
    ("a.example", "*", "/private/", False, 0, None),
    ("a.example", "*", "/", True, 1, 2.5),
    ("b.example", "newscrawler", "", True, 0, None),
]
CRAWLER_ROWS = [
    ("a.example", "rss", None),
    ("b.example", None, 2),
    ("c.example", "recursive", 3),
]
CRAWLER_SCHEMA = "seed_host string, crawler string, max_depth int"


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_local(df, schema: StructType, rows) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.schema == schema
    assert _rows(df) == sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("rows,schema", [
    (RULE_ROWS, ROBOTS_RULES_SCHEMA),
    (CRAWLER_ROWS, CRAWLER_SCHEMA),
], ids=["rules", "crawlers"])
def test_localize_is_local_relation(spark, tmp_path, rows, schema, empty):
    """A parquet-backed table (nulls in crawl_delay / crawler / max_depth,
    a non-nullable derived column, or no rows at all) localizes to a
    LocalRelation with the source's schema, nullability and rows."""
    path = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(path)
    src = spark.read.parquet(path)
    if empty:
        src = src.where(F.col(src.columns[0]) == "no.such.host")
    src = src.withColumn("key", F.coalesce(F.col(src.columns[0]), F.lit("")))
    assert not src.schema["key"].nullable
    _assert_local(_localize(spark, src), src.schema, src.collect())


def test_crawl_tables_are_local_relations(spark, smoke_pages, smoke_seeds,
                                          tmp_path, monkeypatch):
    """The bootstrap's empty tables and every round's counters frame —
    as handed to ``commit_round`` — are LocalRelations equal to what the
    round commits."""
    captured = []
    commit = ST.CrawlState.commit_round

    def spy(self, r, frontier, seen_delta, fetch_log, articles_delta,
            counters=None, counters_builder=None, **kw):
        if r == 0:
            captured.extend([(r, FETCH_LOG_SCHEMA, fetch_log),
                             (r, ARTICLES_SCHEMA, articles_delta),
                             (r, COUNTERS_SCHEMA, counters)])
        if counters_builder is not None:
            inner = counters_builder

            def counters_builder(counts):
                df = inner(counts)
                captured.append((r, COUNTERS_SCHEMA, df))
                return df

        return commit(self, r, frontier, seen_delta, fetch_log,
                      articles_delta, counters, counters_builder, **kw)

    monkeypatch.setattr(ST.CrawlState, "commit_round", spy)
    res = run_crawl(spark, smoke_pages, smoke_seeds, str(tmp_path), CFG,
                    max_rounds=2)
    assert res.rounds_run == 2
    assert [(r, s) for r, s, _ in captured] == [
        (0, FETCH_LOG_SCHEMA), (0, ARTICLES_SCHEMA), (0, COUNTERS_SCHEMA),
        (1, COUNTERS_SCHEMA), (2, COUNTERS_SCHEMA),
    ]
    for r, schema, df in captured:
        want = [] if r == 0 else res.state.read_counters().where(
            F.col("fetch_round") == r).collect()
        if r > 0:
            assert len(want) == 1
        _assert_local(df, StructType.fromDDL(schema), want)


def test_repeated_seed_host_is_rejected_before_commit(
        spark, smoke_pages, smoke_seeds, tmp_path):
    """A host listed twice in the seeds used to double its per-round
    budget (the host-keyed budget and crawler tables got one row per
    seed, and their left joins multiplied the frontier rows). The run now
    stops with the repeated hosts named, before round 0 commits."""
    seeds = smoke_seeds.unionByName(
        smoke_seeds.where(F.col("host") == "host00.example"))
    with pytest.raises(ValueError) as err:
        run_crawl(spark, smoke_pages, seeds, str(tmp_path), CFG, max_rounds=3)
    assert str(err.value).endswith(": host00.example")
    assert ST.CrawlState(spark, str(tmp_path)).latest_round() is None
