"""Benchmark inputs, generated from ``--seed``.

The page corpus is the fixture generator's (``sources/fixtures.py``)
``bench`` shape — 50 hosts, the 2 hot hosts holding 40% of the articles
— at 100 articles per host (about 6.7k pages). The seed renames every
host (``host07.example`` becomes ``h07s<seed>.example`` in urls, html and
seeds), which changes every ``url_hash`` and so the schedule order, the
Bloom bits and the partitioning, while the amount of work per round
stays the same.

The curation input is a seeded sample of the corpus's ground-truth
article texts with seeded exact duplicates and near-duplicates injected.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from newscrawler_spark.sources import fixtures as FX

TIER = FX.Tier(hosts=50, articles_per_host=100, hot_hosts=2)
_HOST_RE = r"host(\d\d)\.example"

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]
# shares of the curation originals given exact copies / a near copy
EXACT_SHARE = 0.04
NEAR_SHARE = 0.04


def _renamer(seed: int):
    pat = re.compile(_HOST_RE)
    rep = rf"h\1s{seed}.example"
    return lambda text: pat.sub(rep, text)


def write_pages(spark, seed: int, path: str) -> None:
    """pages(url, warc_ts, html, text, lang, kind) for ``seed``, rendered
    on the driver by the fixture generator's own ``page_record``."""
    rename = _renamer(seed)
    recs = []
    for h, kind, k in FX.page_plan(TIER):
        rec = FX.page_record(h, kind, k, TIER)
        rec["url"] = rename(rec["url"])
        rec["html"] = rename(rec["html"].decode()).encode()
        rec["kind"] = kind
        recs.append(rec)
    spark.createDataFrame(pd.DataFrame.from_records(recs),
                          schema=FX.PAGES_SCHEMA + ", kind string") \
        .write.mode("overwrite").parquet(path)


def seeds(spark, seed: int, per_host_budget: int):
    """The bench tier's 50 seed hosts, renamed like the pages."""
    pdf = FX.gen_seeds("bench", per_host_budget=per_host_budget)
    rename = _renamer(seed)
    for col in ("seed_url", "host"):
        pdf[col] = pdf[col].map(rename)
    return spark.createDataFrame(pdf, schema=FX.SEEDS_SCHEMA)


def article_texts(seed: int, n_docs: int) -> list[str]:
    """Ground-truth texts of ``n_docs`` seeded articles of the corpus."""
    arts = [(h, k) for h in range(TIER.hosts)
            for k in range(FX.n_articles(TIER, h))]
    pick = np.random.RandomState(seed).choice(len(arts), n_docs, replace=False)
    out = []
    for i in sorted(pick):
        h, k = arts[i]
        n_art = FX.n_articles(TIER, h)
        out.append(FX.article_html(h, k, n_art, max(1, n_art // 12))[1])
    return out


class CurationInput:
    """documents(doc_id, text) plus what the correct result must hold.

    Every original keeps a smaller doc_id than all of its copies, so the
    exact-dedup keeper (min id) and the near-dup anchor (min id in a
    bucket) of each injected group is the original itself.
    """

    def __init__(self, texts: list[str], seed: int):
        rng = np.random.RandomState(seed)
        n = len(texts)
        order = rng.permutation(n)
        ids = np.empty(n, dtype=np.int64)
        ids[order] = np.arange(1, n + 1)
        picked = rng.permutation(n)
        n_exact = int(n * EXACT_SHARE)
        n_near = int(n * NEAR_SHARE)
        exact_src = picked[:n_exact]
        near_src = picked[n_exact:n_exact + n_near]

        copies: list[tuple[int, str]] = []
        self.exact_groups: list[tuple[int, list[int]]] = []
        self.near_pairs: list[tuple[int, int]] = []
        next_id = n + 1
        for i in exact_src:
            members = []
            for _ in range(1 + rng.randint(2)):
                copies.append((next_id, texts[i]))
                members.append(next_id)
                next_id += 1
            self.exact_groups.append((int(ids[i]), members))
        for i in near_src:
            copies.append((next_id, _near_copy(texts[i], rng)))
            self.near_pairs.append((int(ids[i]), next_id))
            next_id += 1
        # copies take ids above every original, in shuffled order
        perm = rng.permutation(len(copies))
        remap = {copies[j][0]: n + 1 + k for k, j in enumerate(perm)}
        self.exact_groups = [(o, [remap[m] for m in ms])
                             for o, ms in self.exact_groups]
        self.near_pairs = [(o, remap[c]) for o, c in self.near_pairs]
        rows = [(int(ids[i]), texts[i]) for i in range(n)]
        rows += [(remap[c], t) for c, t in copies]
        self.documents = pd.DataFrame(rows, columns=["doc_id", "text"])

    def check(self, survivors: set[int]) -> tuple[int, int, int]:
        """(groups checked, groups failed, near-dups dropped).

        An exact-duplicate group passes iff exactly one member survives
        and it is the original."""
        failed = 0
        for orig, members in self.exact_groups:
            kept = [m for m in (orig, *members) if m in survivors]
            if kept != [orig]:
                failed += 1
        near_dropped = sum(1 for _o, c in self.near_pairs
                           if c not in survivors)
        return len(self.exact_groups), failed, near_dropped


def _near_copy(text: str, rng) -> str:
    """Replace two words: about six of ~100+ word 3-grams change, so the
    3-gram Jaccard with the original stays far above 0.5."""
    words = text.split(" ")
    for pos in rng.choice(len(words), size=2, replace=False):
        words[pos] = f"edit{rng.randint(10**6)}"
    return " ".join(words)
