"""Crawl-state store: snapshot checkpoints + article versioning (A8–A11, F).

Reference parity: the reference persists raw html / JSON files plus MySQL
``CurrentVersions``/``ArchiveVersions`` tables (``newscrawler/pipeline/
pipelines.py :: MySQLStorage`` + ``init-db.sql`` — symbol cites, mount
empty, SURVEY.md §0) and leans on scrapy JOBDIR for queue persistence.

Spark shape — Iceberg-snapshot semantics on plain parquet (SURVEY.md §7.5:
no Iceberg jars resolvable offline; this backend keeps identical semantics
and the layout mirrors an Iceberg commit):

    state_dir/
      round=R/                       one directory per committed round
        frontier/        full pending-set snapshot (the mutable state)
        seen_delta/      NEW url_hashes this round (append-only ledger)
        fetch_log/       this round's fetches (append-only)
        articles_delta/  this round's extracted articles (append-only)
        bloom_shards/    seen-set Bloom snapshot (delta-folded per round)
        counters/        this round's metrics rows
        _MANIFEST.json   written LAST via atomic rename — the commit point
      seen_base/
        base=R/          compact_seen() fold of all seen_deltas <= R

A round is durable iff its ``_MANIFEST.json`` exists; a killed run leaves
at most a torn (manifest-less) directory which resume ignores — exactly an
uncommitted Iceberg snapshot. Resume = read the highest manifest round
(no re-fetch, no ordering drift — tests/test_resume.py).

At 10^10 scale: deltas stay append-only (like Iceberg data files);
``compact_seen`` folds the ledger every K rounds so membership reads
scan base + <=K deltas; Bloom shards are folded forward per round
(O(|delta|)) and rebuilt only on the saturation rule. On a real cluster
swap this class for an Iceberg catalog (``MERGE INTO`` for F2, snapshot
IDs for rounds) — the runner only touches this interface.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ROUND_RE = re.compile(r"^round=(\d+)$")

FRONTIER_SCHEMA = (
    "url string, url_canon string, url_hash long, host string, priority int, "
    "depth int, discovered_round int, seed_host string, retry int"
)
SEEN_SCHEMA = "url_hash long"
FETCH_LOG_SCHEMA = (
    "url string, url_canon string, url_hash long, host string, fetch_round int, "
    "rank_in_host int, priority int, depth int, seed_host string, retry int, "
    "status int, partition_id int, lineage_id string"
)
COUNTERS_SCHEMA = (
    "run_id string, fetch_round int, urls_in long, urls_deduped long, "
    "urls_scheduled long, urls_fetched long, articles_extracted long, "
    "bytes_fetched long, wall_ms long"
)


def local_table(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver rows (tuples in ``schema`` order) → a JVM ``LocalRelation``.

    The rows go to the JVM as one Arrow table, so scanning or
    broadcasting the result runs no Python worker. ``createDataFrame``
    on a Python list instead parallelizes a pickled RDD, and every job
    that scans it pays Python tasks — for tables of a few rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in struct.fields]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (pyarrow, driver-side) — a Spark
    count() job per table per round is pure scheduler overhead."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return total


class CrawlState:
    """Parquet+manifest backend of the crawl-state tables."""

    def __init__(self, spark: SparkSession, state_dir: str, run_id: str = "run"):
        self.spark = spark
        self.dir = state_dir
        self.run_id = run_id
        os.makedirs(state_dir, exist_ok=True)

    # ------------------------------------------------------------ rounds

    def _round_dir(self, r: int) -> str:
        return os.path.join(self.dir, f"round={r}")

    def committed_rounds(self) -> list[int]:
        out = []
        for name in os.listdir(self.dir):
            m = _ROUND_RE.match(name)
            if m and os.path.exists(os.path.join(self.dir, name, "_MANIFEST.json")):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def manifest(self, r: int) -> dict:
        with open(os.path.join(self._round_dir(r), "_MANIFEST.json")) as f:
            return json.load(f)

    # ------------------------------------------------------------ commit

    def commit_round(
        self,
        r: int,
        frontier: DataFrame,
        seen_delta: DataFrame,
        fetch_log: DataFrame,
        articles_delta: DataFrame,
        counters: DataFrame | None = None,
        counters_builder=None,
        bloom_shards: DataFrame | None = None,
        bloom_mode: str | None = None,
        seen_evict: DataFrame | None = None,
    ) -> dict:
        """One transactional checkpoint (A11/G2): all tables land under
        ``round=r/``, then the manifest is renamed into place LAST.

        ``seen_evict`` (optional, ``url_hash`` rows) tombstones keys in
        the seen ledger as of this round (F1 evict-to-recrawl): a key is
        a member of ``read_seen(upto)`` iff its latest add round beats
        its latest evict round. Re-fetching the URL later re-adds it
        (the runner folds re-fetched tombstoned hashes into that round's
        delta), so evict → re-fetch → seen again, with full history kept
        per round.

        ``counters_builder(counts) -> DataFrame`` lets the caller derive
        the metrics row from the footer row-counts of the just-written
        tables — zero extra Spark jobs (vs one count() job per metric).

        ``bloom_shards`` (optional) snapshots the URL-seen Bloom shards
        with the round — the 10^10-scale maintenance path folds each
        round's delta into the previous round's persisted shards
        (seen.update_bloom_shards) instead of rebuilding from the full
        seen set. ``bloom_mode`` ("incremental" | "rebuild") is recorded
        in the manifest as auditable evidence of which path ran.
        """
        rd = self._round_dir(r)
        tables = {
            "frontier": frontier,
            "seen_delta": seen_delta.select("url_hash"),
            "fetch_log": fetch_log,
            "articles_delta": articles_delta,
        }
        if bloom_shards is not None:
            tables["bloom_shards"] = bloom_shards
        if seen_evict is not None:
            tables["seen_evict"] = seen_evict.select("url_hash")
        counts = {}
        phase_log = os.environ.get("SPARK_GRAFT_PHASE_LOG") == "1"

        def write_one(name: str, df: DataFrame) -> None:
            path = os.path.join(rd, name)
            t0 = time.monotonic()
            df.write.mode("overwrite").parquet(path)
            counts[name] = _parquet_rows(path)
            if phase_log:
                import sys

                print(f"[phase]   write {name}: "
                      f"{time.monotonic() - t0:.2f}s", file=sys.stderr)

        # frontier first: its plan contains the whole round pipeline and
        # materializes the shared caches (processed/children/fetch_log);
        # the remaining writes are then cache scans. Measured: issuing
        # them as concurrent jobs (ThreadPoolExecutor) was ~15% SLOWER at
        # local[16] — the overlapped Arrow cogroup + cache scans contend
        # for the same python workers and memory bandwidth — so they stay
        # sequential.
        for name in list(tables):
            write_one(name, tables.pop(name))
        if counters is None:
            counters = counters_builder(counts)
        cpath = os.path.join(rd, "counters")
        counters.write.mode("overwrite").parquet(cpath)
        counts["counters"] = _parquet_rows(cpath)
        man = {
            "run_id": self.run_id,
            "round": r,
            "committed_at": time.time(),
            "row_counts": counts,
        }
        if bloom_shards is not None:
            man["bloom"] = {
                "mode": bloom_mode or "unknown",
                "backend": "bloom",
                "delta_rows": counts["seen_delta"],
            }
        fd, tmp = tempfile.mkstemp(dir=rd, prefix="_MANIFEST", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(man, f, indent=1)
        os.rename(tmp, os.path.join(rd, "_MANIFEST.json"))  # the commit point
        return man

    # -------------------------------------------------------------- reads

    def _read(self, r: int, table: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._round_dir(r), table))

    def _read_deltas(self, table: str, upto: int | None, schema: str) -> DataFrame:
        rounds = [r for r in self.committed_rounds() if upto is None or r <= upto]
        if not rounds:
            return local_table(self.spark, [], schema)
        paths = [os.path.join(self._round_dir(r), table) for r in rounds]
        return self.spark.read.schema(schema).parquet(*paths)

    def read_frontier(self, r: int | None = None) -> DataFrame:
        r = self.latest_round() if r is None else r
        if r is None:
            return local_table(self.spark, [], FRONTIER_SCHEMA)
        return self._read(r, "frontier")

    # --------------------------------------------------- bloom shards

    def read_bloom_shards(self, r: int | None = None) -> DataFrame | None:
        """Persisted seen-set Bloom shards of round ``r``. None if that
        round predates shard persistence, or if its manifest records a
        non-Bloom filter backend (a state dir written by the retired
        cuckoo path) — the caller rebuilds once."""
        r = self.latest_round() if r is None else r
        if r is None:
            return None
        path = os.path.join(self._round_dir(r), "bloom_shards")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return None
        if self.manifest(r).get("bloom", {}).get("backend", "bloom") != "bloom":
            return None
        return self.spark.read.parquet(path)

    def bloom_shard_stats(self, r: int | None = None) -> list[dict]:
        """Per-bucket shard stats (bucket/m/k/n_keys) — read driver-side
        from the parquet columns WITHOUT touching the bitset blobs and
        without a Spark job (32 tiny rows; feeds the saturation/rebuild
        rule)."""
        import pyarrow.parquet as pq

        r = self.latest_round() if r is None else r
        if r is None:
            return []
        path = os.path.join(self._round_dir(r), "bloom_shards")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return []
        out = []
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                out.extend(pq.read_table(
                    os.path.join(path, name),
                    columns=["bucket", "m", "k", "n_keys"]).to_pylist())
        return out

    # --------------------------------------------------- seen ledger

    def _seen_base_round(self, upto: int | None = None) -> int | None:
        """Highest compacted base round <= upto (None = no base)."""
        base_dir = os.path.join(self.dir, "seen_base")
        if not os.path.isdir(base_dir):
            return None
        best = None
        for name in os.listdir(base_dir):
            m = re.match(r"^base=(\d+)$", name)
            if not m:
                continue
            r = int(m.group(1))
            if not os.path.exists(os.path.join(base_dir, name, "_SUCCESS")):
                continue
            if (upto is None or r <= upto) and (best is None or r > best):
                best = r
        return best

    def compact_seen(self, upto: int | None = None) -> int | None:
        """Fold the per-round ``seen_delta`` ledger into one bucketed base
        table (promised by the module docstring; the Iceberg analog is a
        snapshot-compaction/rewrite). After compaction ``read_seen`` reads
        base + tail deltas only, so round-R read cost stops growing with
        R. Crash-safe: written to a temp dir, renamed into place (rename
        = commit), older bases removed after.

        Returns the new base round (None if nothing to compact).
        """
        import shutil

        upto = self.latest_round() if upto is None else upto
        if upto is None:
            return None
        prev = self._seen_base_round(upto)
        if prev == upto:
            return prev
        base_dir = os.path.join(self.dir, "seen_base")
        os.makedirs(base_dir, exist_ok=True)
        tmp = os.path.join(base_dir, f"_tmp_base_{upto}")
        shutil.rmtree(tmp, ignore_errors=True)
        # repartition by url_hash: the base lands bucketed on the probe
        # key, so downstream anti-joins co-partition without a re-shuffle
        self.read_seen(upto).repartition("url_hash").write.mode(
            "overwrite"
        ).parquet(tmp)
        final = os.path.join(base_dir, f"base={upto}")
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        for name in os.listdir(base_dir):
            m = re.match(r"^base=(\d+)$", name)
            if m and int(m.group(1)) < upto:
                shutil.rmtree(os.path.join(base_dir, name), ignore_errors=True)
        return upto

    def read_seen(self, upto: int | None = None) -> DataFrame:
        """Seen membership set as of round ``upto``: compacted base (if
        any) + the delta tail after it. Deltas are pairwise disjoint by
        construction (children are deduped against the seen set before
        commit; evict→re-fetch re-adds are separated by an intervening
        tombstone the filter below removes), so no distinct() — the old
        distinct-over-all-rounds form re-shuffled the whole ledger every
        round.

        With eviction rounds in the tail (F1 evict-to-recrawl): a key is
        a member iff its latest add round beats its latest evict round.
        The common no-evictions path is detected from the manifests
        (driver-side, no Spark job) and stays the single multi-path
        parquet scan; compaction folds tombstones into the base, so the
        tagged-union branch below is only paid between an eviction and
        the next compact_seen."""
        base_r = self._seen_base_round(upto)
        rounds = [r for r in self.committed_rounds()
                  if (upto is None or r <= upto)
                  and (base_r is None or r > base_r)]
        ev_rounds = self._evict_rounds(upto=upto, after=base_r)
        parts = []
        if base_r is not None:
            parts.append(os.path.join(self.dir, "seen_base", f"base={base_r}"))
        parts.extend(os.path.join(self._round_dir(r), "seen_delta")
                     for r in rounds)
        if not parts:
            return local_table(self.spark, [], SEEN_SCHEMA)
        if not ev_rounds:
            return self.spark.read.schema(SEEN_SCHEMA).parquet(*parts)
        # eviction-aware view: tag every add with its round (the base
        # counts as round base_r — evicts ≤ base_r are already folded),
        # keep rows whose add beats the key's last tombstone. The evict
        # ledger is small by design (eviction rounds carry only the
        # changed-URL set), so its group-max broadcasts.
        adds = []
        if base_r is not None:
            adds.append(
                self.spark.read.schema(SEEN_SCHEMA).parquet(parts[0])
                .withColumn("add_round", F.lit(base_r)))
        for r in rounds:
            adds.append(
                self.spark.read.schema(SEEN_SCHEMA)
                .parquet(os.path.join(self._round_dir(r), "seen_delta"))
                .withColumn("add_round", F.lit(r)))
        evs = union_all([
            self.spark.read.schema(SEEN_SCHEMA)
            .parquet(os.path.join(self._round_dir(r), "seen_evict"))
            .withColumn("evict_round", F.lit(r))
            for r in ev_rounds
        ])
        last_ev = evs.groupBy("url_hash").agg(
            F.max("evict_round").alias("evict_round"))
        return (
            union_all(adds)
            .join(F.broadcast(last_ev), "url_hash", "left")
            .where(F.col("evict_round").isNull()
                   | (F.col("add_round") > F.col("evict_round")))
            .select("url_hash")
        )

    def _evict_rounds(self, upto: int | None = None,
                      after: int | None = None) -> list[int]:
        """Committed rounds in (after, upto] that tombstoned keys —
        read from the manifests, no Spark job."""
        out = []
        for r in self.committed_rounds():
            if upto is not None and r > upto:
                continue
            if after is not None and r <= after:
                continue
            if self.manifest(r)["row_counts"].get("seen_evict", 0) > 0:
                out.append(r)
        return out

    def read_seen_evictions(self, upto: int | None = None) -> DataFrame | None:
        """Every url_hash ever tombstoned in the un-compacted tail
        (superset of the currently-evicted set; None when there are no
        eviction rounds — the runner uses this to skip the re-add path
        entirely on eviction-free state dirs)."""
        ev_rounds = self._evict_rounds(upto=upto,
                                       after=self._seen_base_round(upto))
        if not ev_rounds:
            return None
        return union_all([
            self.spark.read.schema(SEEN_SCHEMA)
            .parquet(os.path.join(self._round_dir(r), "seen_evict"))
            for r in ev_rounds
        ]).distinct()

    def read_fetch_log(self, upto: int | None = None) -> DataFrame:
        return self._read_deltas("fetch_log", upto, FETCH_LOG_SCHEMA)

    def read_articles(self, upto: int | None = None) -> DataFrame:
        from newscrawler_spark.operators.extract import ARTICLES_SCHEMA

        return self._read_deltas("articles_delta", upto, ARTICLES_SCHEMA)

    def read_counters(self, upto: int | None = None) -> DataFrame:
        return self._read_deltas("counters", upto, COUNTERS_SCHEMA)

    def articles_current(self, upto: int | None = None) -> DataFrame:
        """F2 — current versions view (window form of the MySQL
        current/archive move; Iceberg backend would MERGE instead)."""
        from newscrawler_spark.operators.extract import with_is_current

        return with_is_current(self.read_articles(upto)).where(F.col("is_current"))


def make_state(
    spark: SparkSession,
    state_dir: str,
    run_id: str = "run",
    backend: str = "auto",
    catalog: str = "crawl",
):
    """TableIO factory (SURVEY.md §7.5 two-backend split).

    ``backend="auto"`` picks Iceberg when a usable Iceberg catalog named
    ``catalog`` exists in the session (runtime jar + extensions + conf —
    see operators/store_iceberg.py for the spark-submit incantation) and
    falls back to the parquet+manifest backend otherwise (this sandbox:
    no jars resolve offline). Both expose the same surface: commit_round
    / read_* / bloom shards / compact_seen / manifests.
    """
    if backend == "auto":
        from newscrawler_spark.operators.store_iceberg import iceberg_available

        backend = "iceberg" if iceberg_available(spark, catalog) else "parquet"
    if backend == "iceberg":
        from newscrawler_spark.operators.store_iceberg import IcebergCrawlState

        ns = re.sub(r"[^A-Za-z0-9_]", "_", state_dir.strip("/"))
        return IcebergCrawlState(spark, ns, run_id=run_id, catalog=catalog)
    return CrawlState(spark, state_dir, run_id=run_id)


def rss_recrawl_compare(
    new_items: DataFrame, articles_current: DataFrame
) -> DataFrame:
    """F1 — ``RSSCrawlCompare``: which re-crawled items are new or changed.

    ``new_items(url_hash, modified_date, …)`` LEFT OUTER joins the stored
    current versions; keep rows with no stored version or a strictly newer
    ``modified_date``. Pure Catalyst; DuckDB-oracle-checkable.
    """
    old = articles_current.select(
        "url_hash", F.col("download_date").alias("stored_date")
    )
    return (
        new_items.join(old, "url_hash", "left")
        .where(
            F.col("stored_date").isNull()
            | (F.col("modified_date") > F.col("stored_date"))
        )
        .drop("stored_date")
    )


def union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)
