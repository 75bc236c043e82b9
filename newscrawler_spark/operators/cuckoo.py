"""Partitioned cuckoo-filter URL-seen set: the operator behind
contract query q50 (prefilter + exact confirm ≡ the SQL anti-join).

The crawl engine's seen prefilter is Bloom only (operators/seen.py); this
module is the cuckoo tier of the same sharding contract, kept for the
contract query and its ``bench.py`` timing. One filter row per
``bucket = pmod(url_hash, seen_buckets)``, built and probed
executor-side in grouped/cogrouped pandas UDFs, never on the driver.
Fingerprints are never deleted. :func:`update_cuckoo_shards` (the
O(|delta|) fold) stays so the per-layer tracer keeps its patch list.

Layout per shard: a ``(nb, slots)`` uint16 fingerprint table (nb a
power of two so the partial-key XOR trick is an involution:
``i2 = i1 XOR H(fp)``, recoverable from either side), plus a small
overflow STASH of (index, fp) pairs for keys whose eviction walk
exceeds ``max_kicks``. The stash is what makes "no false negatives for
inserted keys" unconditional — a standard cuckoo filter fails the
insert instead.

Build is vectorized: each round of the two-choice placement assigns
slots for ALL keys of a batch with one argsort + group-cumcount (no
per-key Python until the residual eviction walks, which touch only the
overflow tail at 0.75 design load). Probe is pure numpy gather+compare.

False positives (16-bit fingerprints: ~0.02% vs Bloom's ~1%) are
removed downstream by the same exact anti-join confirm as Bloom
(:func:`cuckoo_dedup` ≡ ``dedup_against_seen``, tested in
tests/test_seen_cuckoo.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.operators.frontier import dedup_against_seen
from newscrawler_spark.operators.seen import _bucket_expr

SHARD_SCHEMA = ("bucket int, tab binary, nb long, slots int, "
                "stash_idx binary, stash_fp binary, n_keys long")

_MIX = np.uint64(0xFF51AFD7ED558CCD)   # murmur3 fmix64 (public constant)
_FPH = np.uint32(0x5BD1E995)           # MurmurHash2 multiplier (public)
_SLOTS = 4                             # standard (2,4)-cuckoo geometry
_MAX_KICKS = 500


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    x ^= x >> np.uint64(33)
    x *= _MIX
    x ^= x >> np.uint64(33)
    return x


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit fingerprints (0 marks an empty slot)."""
    fp = (_mix64(hashes) >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = np.uint16(1)
    return fp


def _fp_index_hash(fp: np.ndarray, mask: int) -> np.ndarray:
    """H(fp) for the partial-key XOR — never 0 so i1 != i2."""
    h = (fp.astype(np.uint32) * _FPH).astype(np.uint32) >> np.uint32(16)
    h = (h & np.uint32(mask)).astype(np.int64)
    return np.where(h == 0, 1, h)


def _indices(hashes: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    mask = nb - 1
    fp = _fingerprints(hashes)
    i1 = (hashes.astype(np.uint64) & np.uint64(mask)).astype(np.int64)
    i2 = i1 ^ _fp_index_hash(fp, mask)
    return fp, i1, i2


def _sizing(n: int) -> int:
    """Power-of-two bucket count targeting ~0.75 load at build time."""
    need = max(8, int(np.ceil(n / (_SLOTS * 0.75))))
    return 1 << int(np.ceil(np.log2(need)))


def _place_round(tab: np.ndarray, fill: np.ndarray, fps: np.ndarray,
                 idx: np.ndarray) -> np.ndarray:
    """Vectorized greedy placement of (fps, idx) into free slots.

    One argsort groups same-bucket keys; each gets slot
    ``fill[bucket] + rank-within-group`` and places iff that is < slots.
    Returns the placed mask in the ORIGINAL order.
    """
    n = len(fps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(idx, kind="stable")
    s = idx[order]
    starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
    counts = np.diff(np.r_[starts, n])
    cum = np.arange(n) - np.repeat(starts, counts)
    slot = fill[s] + cum
    ok = slot < tab.shape[1]
    tab[s[ok], slot[ok]] = fps[order][ok]
    np.add.at(fill, s[ok], 1)
    placed = np.zeros(n, dtype=bool)
    placed[order] = ok
    return placed


def _evict_insert(tab: np.ndarray, fill: np.ndarray, fp: int, idx: int,
                  mask: int, stash: list[tuple[int, int]]) -> None:
    """Deterministic cuckoo walk for one residual key (victim slot cycles
    ``kick % slots`` — no RNG, rebuilds are reproducible)."""
    cur_fp, cur_i = fp, idx
    slots = tab.shape[1]
    for kick in range(_MAX_KICKS):
        if fill[cur_i] < slots:
            tab[cur_i, fill[cur_i]] = cur_fp
            fill[cur_i] += 1
            return
        vs = kick % slots
        victim = int(tab[cur_i, vs])
        tab[cur_i, vs] = cur_fp
        cur_fp = victim
        cur_i = int(cur_i ^ _fp_index_hash(np.array([victim], np.uint16),
                                           mask)[0])
    stash.append((cur_i, cur_fp))


def _build_table(hashes: np.ndarray, nb: int) -> tuple[np.ndarray, list]:
    tab = np.zeros((nb, _SLOTS), dtype=np.uint16)
    fill = np.zeros(nb, dtype=np.int64)
    fp, i1, i2 = _indices(hashes, nb)
    stash: list[tuple[int, int]] = []
    _insert_into(tab, fill, fp, i1, i2, nb - 1, stash)
    return tab, stash


def _insert_into(tab, fill, fp, i1, i2, mask, stash) -> None:
    placed = _place_round(tab, fill, fp, i1)
    r = ~placed
    placed2 = _place_round(tab, fill, fp[r], i2[r])
    rf, ri = fp[r][~placed2], i1[r][~placed2]
    for j in range(len(rf)):
        _evict_insert(tab, fill, int(rf[j]), int(ri[j]), mask, stash)


def _shard_row(bucket: int, tab: np.ndarray, stash: list, n_keys: int) -> tuple:
    sidx = np.array([s[0] for s in stash], dtype=np.int64)
    sfp = np.array([s[1] for s in stash], dtype=np.uint16)
    return (bucket, tab.tobytes(), tab.shape[0], _SLOTS,
            sidx.tobytes(), sfp.tobytes(), n_keys)


def _load_shard(shd: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    nb = int(shd["nb"])
    tab = np.frombuffer(shd["tab"], dtype=np.uint16).reshape(nb, int(shd["slots"])).copy()
    sidx = np.frombuffer(shd["stash_idx"], dtype=np.int64).copy()
    sfp = np.frombuffer(shd["stash_fp"], dtype=np.uint16).copy()
    return tab, sidx, sfp


_COLS = ["bucket", "tab", "nb", "slots", "stash_idx", "stash_fp", "n_keys"]


def build_cuckoo_shards(seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """One cuckoo-filter row per pmod(url_hash, seen_buckets) bucket."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        tab, stash = _build_table(hashes, _sizing(len(hashes)))
        return pd.DataFrame(
            [_shard_row(int(pdf["bucket"].iloc[0]), tab, stash, len(hashes))],
            columns=_COLS,
        )

    return (
        seen.select("url_hash")
        .withColumn("bucket", _bucket_expr(cfg))
        .groupBy("bucket")
        .applyInPandas(build, schema=SHARD_SCHEMA)
    )


def _probe_arrays(tab, sidx, sfp, hashes: np.ndarray) -> np.ndarray:
    nb = tab.shape[0]
    fp, i1, i2 = _indices(hashes, nb)
    hit = (tab[i1] == fp[:, None]).any(axis=1)
    hit |= (tab[i2] == fp[:, None]).any(axis=1)
    if len(sidx):
        m = (sfp[None, :] == fp[:, None]) & (
            (sidx[None, :] == i1[:, None]) | (sidx[None, :] == i2[:, None]))
        hit |= m.any(axis=1)
    return hit


def cuckoo_split(links: DataFrame, shards: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Tag links ``maybe_seen`` by probing their bucket's filter —
    cogrouped per bucket exactly like seen.bloom_split."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in links.schema.fields
    ) + ", maybe_seen boolean"
    cols = links.columns

    def probe(lks: pd.DataFrame, shd: pd.DataFrame) -> pd.DataFrame:
        if lks.empty:
            return pd.DataFrame(columns=[*cols, "maybe_seen"])
        out = lks[cols].reset_index(drop=True)
        if shd.empty:
            out["maybe_seen"] = False
            return out
        tab, sidx, sfp = _load_shard(shd.iloc[0])
        out["maybe_seen"] = _probe_arrays(
            tab, sidx, sfp, out["url_hash"].to_numpy(dtype=np.int64))
        return out

    lb = links.withColumn("bucket", _bucket_expr(cfg))
    return (
        lb.groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(probe, schema=out_schema)
    )


def cuckoo_dedup(links: DataFrame, seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """B3 at scale, cuckoo tier — prefilter + exact confirm; ≡ the plain
    anti-join (same two-phase contract as seen.bloom_dedup)."""
    shards = build_cuckoo_shards(seen, cfg)
    return cuckoo_dedup_with_shards(links, seen, shards, cfg)


def cuckoo_dedup_with_shards(
    links: DataFrame, seen: DataFrame, shards: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    tagged = cuckoo_split(links, shards, cfg)
    fresh = tagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.where(F.col("maybe_seen")).drop("maybe_seen")
    return fresh.unionByName(dedup_against_seen(maybe, seen))


def update_cuckoo_shards(
    old_shards: DataFrame, delta: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Fold a url_hash delta into existing shards — O(|delta|) per round,
    table geometry frozen at first build (overflow goes to the stash)."""

    def merge(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
        if new.empty:
            return old[_COLS]
        hashes = new["url_hash"].to_numpy(dtype=np.int64)
        if old.empty:
            bucket = int(new["bucket"].iloc[0])
            tab, stash = _build_table(hashes, _sizing(len(hashes)))
            return pd.DataFrame(
                [_shard_row(bucket, tab, stash, len(hashes))], columns=_COLS)
        row = old.iloc[0]
        bucket = int(row["bucket"])
        tab, sidx, sfp = _load_shard(row)
        stash = list(zip(sidx.tolist(), sfp.tolist()))
        fill = (tab != 0).sum(axis=1).astype(np.int64)
        fp, i1, i2 = _indices(hashes, tab.shape[0])
        _insert_into(tab, fill, fp, i1, i2, tab.shape[0] - 1, stash)
        n = int(row["n_keys"]) + len(hashes)
        return pd.DataFrame([_shard_row(bucket, tab, stash, n)], columns=_COLS)

    d = delta.select("url_hash").withColumn("bucket", _bucket_expr(cfg))
    return (
        old_shards.groupBy("bucket")
        .cogroup(d.groupBy("bucket"))
        .applyInPandas(merge, schema=SHARD_SCHEMA)
    )
