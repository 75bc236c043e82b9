"""Training-data deduplication operators over a documents corpus.

Not part of the reference crawler — these are the required-at-scale
additions for a web-text training pipeline (driver brief): exact dedup,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Everything is native DataFrame/Catalyst code (split/transform/aggregate/
xxhash64/array fns) — no Python UDFs anywhere in this module, so the hot
paths stay inside whole-stage codegen and scale with executors:

- exact:   one groupBy(md5) shuffle; at 100 TB this is the cheapest pass.
- jaccard: token-postings self-join blocked on shared tokens — exact but
  quadratic per posting; for oracles/small corpora.
- minhash: per-doc signature (p permutations via double hashing: one
  base hash per shingle, permutation i = min(h1 + i*h2) — one
  projection, no shuffle, O(shingles) digests),
  banded into b buckets → candidate pairs join only within buckets →
  verified with exact Jaccard. This is the 100 TB path: shuffle volume is
  O(docs·b) band keys instead of O(docs²).
- simhash: 64-bit signature via per-bit majority vote over token hashes;
  near-dups = equal signatures (or banded Hamming at scale).
- embedding: cosine ≥ τ pairs, blocked by LSH sign-buckets (see
  operators/similarity.py) or exact for small N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def bind_once(expr: Column, body) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``body`` as a lambda
    variable.

    Catalyst's CollapseProject inlines projected columns into downstream
    lambda bodies, so an expensive array expression referenced inside a
    ``transform`` over k elements gets re-evaluated k times per row
    (measured: 16x on the LSH band keys, 64x on the per-permutation
    shingle array). Wrapping it as the single element of an array and
    transforming binds it to a lambda variable — evaluated once, then
    referenced cheaply — the expression-level analog of a materialization
    barrier, with no shuffle and no cache.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def tokens_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), TOKEN_SPLIT), lambda t: t != "")


def shingles_expr(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles, as strings (native transform).

    The token array is bound ONCE via :func:`bind_once` — referenced
    naively inside the per-index lambda, the split+filter re-runs for
    every shingle position, turning shingling O(tokens²) per document
    (measured ~4 s → ~0.4 s over sf0.1's 260k shingles)."""
    return bind_once(tokens_expr(text), lambda toks: _shingles_of(toks, n))


def _shingles_of(toks: Column, n: int) -> Column:
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(
        F.when(F.size(toks) >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def exact_dedup(documents: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one surviving id per distinct text.

    Returns (content_md5, keep_id, n_dups). Deterministic keeper = min id.
    """
    return (
        documents.select(F.md5(text_col).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def posting_skew_probe(
    documents: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    skew_sample: float = 0.05,
    skew_ratio: float = 0.05,
) -> bool:
    """Decide whether the corpus's shingle postings are skewed enough that
    the plain postings self-join would blow up quadratically on a hot
    shingle (boilerplate text ⇒ one shingle shared by a large doc
    fraction).

    Shards a seeded ``skew_sample`` fraction of documents into postings
    and compares the hottest shingle's document frequency to the sampled
    doc count; returns True when the ratio exceeds ``skew_ratio``.

    Cost honesty (ADVICE r3 #4): ``DataFrame.sample`` still SCANS the
    source and filters — the shuffle/aggregate work is O(sample) but the
    scan is a corpus pass. The sampled projection is persisted so the
    two aggregates below (hottest-shingle df, distinct sampled docs)
    share ONE such scan; at 100 TB the probe therefore costs one
    column-pruned pass of (id, text) plus O(sample) everything else —
    noise next to the join it is guarding.
    """
    sampled = (
        documents.sample(fraction=min(1.0, skew_sample), seed=42)
        .select(F.col(id_col).alias("id"), F.col(text_col).alias(text_col))
        .persist()
    )
    try:
        probe = sampled.select(
            F.explode(shingles_expr(text_col, n)).alias("s"), "id"
        )
        stats = (
            probe.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.max("df").alias("max_df"))
            .crossJoin(sampled.agg(F.countDistinct("id").alias("n_docs")))
        ).collect()[0]
    finally:
        sampled.unpersist()
    return bool(
        stats["n_docs"] and stats["max_df"] is not None
        and stats["max_df"] / stats["n_docs"] > skew_ratio
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_filter: bool | str = "auto",
    skew_sample: float = 0.05,
    skew_ratio: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs (id1 < id2, j >= threshold).

    ``prefix_filter=True`` adds PREFIX FILTERING (Chaudhuri et al.'s
    SSJoin trick, still EXACT): shingles get a global rarity order
    (document frequency asc, shingle asc); a doc's prefix is its first
    |d| - ceil(t·|d|) + 1 shingles in that order. Any pair with
    Jaccard >= t must share a prefix shingle (|A∩B| >= t·|A∪B| >=
    ceil(t·max(|A|,|B|)); the per-doc prefixes are supersets of the
    theorem's, so no pair is lost), so the self-join runs over prefix
    postings only — the hottest shingles fall OUT of prefixes, removing
    the quadratic hot-posting blowup — and candidates are verified with
    the full shingle sets. Equality to the plain form is tested at
    several thresholds.

    ``prefix_filter="auto"`` (default) picks the path from a cheap
    posting-skew probe: a seeded ``skew_sample`` fraction of documents is
    sharded into postings and the hottest shingle's document frequency is
    compared to the sampled doc count; a ratio above ``skew_ratio``
    (boilerplate shingles ⇒ quadratic hot postings in the plain join)
    enables the filter. The probe is one small aggregate over the sample
    — O(sample) — not a full corpus pass, so the decision stays cheap at
    100 TB. On near-unique shingle sets (this synthetic corpus: ~36s vs
    ~20s at sf0.1) the plain postings count-join wins and auto keeps it.
    Both paths are EXACT and produce identical output; at corpus scale
    prefer :func:`minhash_lsh_pairs` — this operator is the exactness
    tier either way.
    """
    sh = documents.select(
        F.col(id_col).alias("id"), shingles_expr(text_col, n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    if prefix_filter == "auto":
        prefix_filter = posting_skew_probe(
            documents, n=n, id_col=id_col, text_col=text_col,
            skew_sample=skew_sample, skew_ratio=skew_ratio,
        )
    if not prefix_filter:
        # Single-pass postings form: shingle the corpus ONCE and shuffle
        # the postings ONCE (groupBy shingle), expanding each posting's
        # id-sorted pair list inline. The textbook postings SELF-join
        # (posts a JOIN posts b ON s) recomputes the shingling lineage on
        # BOTH join sides and shuffles the postings relation twice —
        # measured ~1.7x slower at sf0.1. Pair volume is identical (both
        # are quadratic in posting length — the probe above guards that);
        # per-shingle state is one id-list, bounded by the hottest
        # posting, same bound as the join's per-key match set.
        posts = sh.select("id", "n_sh", F.explode("sh").alias("s"))
        grouped = (
            posts.groupBy("s")
            .agg(F.sort_array(F.collect_list(F.struct("id", "n_sh"))).alias("ds"))
            .where(F.size("ds") > 1)
        )
        pairs = grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> named_struct("
                    "'id1', x.id, 'n1', x.n_sh, 'id2', y.id, 'n2', y.n_sh))))"
                )
            ).alias("p")
        ).select("p.*")
        return (
            pairs.groupBy("id1", "id2", "n1", "n2")
            .agg(F.count(F.lit(1)).alias("shared"))
            .withColumn(
                "jaccard",
                F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
        )

    from pyspark.sql import Window

    posts = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    freq = posts.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("s"))
    pref = (
        posts.join(freq, "s")
        .withColumn("rk", F.row_number().over(w))
        # ceil over a float product can land one too high when t*n sits a
        # ulp above an integer (e.g. 0.3*10), which would SHORTEN the
        # prefix below the SSJoin lemma's bound and silently drop pairs —
        # back the product off by an epsilon far below any rational t*n gap
        .where(
            F.col("rk")
            <= F.col("n_sh")
            - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9)) + 1
        )
        .select("id", "s")
    )
    cand = (
        pref.alias("x").join(pref.alias("y"), "s")
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id1"), F.col("y.id").alias("id2"))
        .distinct()
    )
    verified = (
        cand.join(sh.select(F.col("id").alias("id1"), F.col("sh").alias("sh1")),
                  "id1")
        .join(sh.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")),
              "id2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def minhash_signature(
    text: Column | str, num_perm: int = 64, n: int = 3, hasher: str = "xxhash64"
) -> Column:
    """MinHash signature: array of ``num_perm`` long values.

    Double-hashing family (the standard Kirsch–Mitzenheimer construction
    used by e.g. datasketch): ONE base hash per shingle yields two 56-bit
    halves (h1, h2); permutation i = min over shingles of h1 + i*h2.
    Hashing cost is O(shingles) instead of O(shingles * num_perm) — at
    num_perm=64 that is 64x fewer digest calls per document — and the
    56-bit bases bound h1 + 63*h2 < 2^62, so the arithmetic can never
    overflow a signed 64-bit long (safe under ANSI mode, and bit-exact
    reproducible in any SQL engine with plain BIGINT arithmetic).

    hasher="xxhash64" (default, scale path): h1 = xxhash64(s)>>>8,
    h2 = xxhash64(s, 1)>>>8 — two cheap JVM hashes per shingle.
    hasher="md5" (oracle path): h1/h2 = hex chars [1..14] / [17..30] of
    md5(s) — DuckDB reproduces them as ('0x'||substr(md5(s),k,14))::BIGINT,
    so the driver oracle rebuilds the identical signature, band keys, and
    candidate set (q32/q49).
    """
    sh = shingles_expr(text, n)
    if hasher == "md5":
        # bind md5(s) per shingle via the per-element lambda var `m`,
        # then bind the (h1, h2) struct array once (see bind_once) — one
        # digest per shingle total, not one per (shingle, permutation)
        pairs = F.transform(
            F.transform(sh, lambda s: F.md5(s)),
            lambda m: F.struct(
                F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
                F.conv(F.substring(m, 17, 14), 16, 10).cast("long").alias("h2"),
            ),
        )
    else:
        pairs = F.transform(
            sh,
            lambda s: F.struct(
                F.shiftrightunsigned(F.xxhash64(s), 8).alias("h1"),
                F.shiftrightunsigned(F.xxhash64(s, F.lit(1)), 8).alias("h2"),
            ),
        )
    return bind_once(
        pairs,
        lambda hv: F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda i: F.array_min(
                F.transform(hv, lambda p: p["h1"] + i.cast("long") * p["h2"])
            ),
        ),
    )


def lsh_banded(
    documents: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """The shared LSH banding stage: (id, band, bh) rows — ``bands``
    band keys per document, each a hash of its signature slice. One
    projection + explode, no shuffle; every LSH consumer (pairs, anchor
    edges, bucket stats) groups or joins on (band, bh) downstream."""
    r = num_perm // bands
    sig = documents.select(
        F.col(id_col).alias("id"),
        minhash_signature(text_col, num_perm, n, hasher).alias("sig"),
    )
    # bind the signature once per row (see bind_once): the 16 band keys
    # then slice an already-evaluated array instead of re-hashing all
    # shingles x permutations per band
    band_hash = F.md5 if hasher == "md5" else F.xxhash64
    band_key = lambda sg, bnd: band_hash(  # noqa: E731
        F.concat_ws(",", F.transform(
            F.slice(sg, bnd * r + 1, F.lit(r)),
            lambda x: x.cast("string"),
        ))
    )
    return sig.select(
        "id",
        F.explode(
            bind_once(
                F.col("sig"),
                lambda sg: F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bnd: F.struct(
                        bnd.alias("band"), band_key(sg, bnd).alias("bh")
                    ),
                ),
            )
        ).alias("bx"),
    ).select("id", F.col("bx.band").alias("band"), F.col("bx.bh").alias("bh"))


def _verify_jaccard(cand: DataFrame, documents: DataFrame, threshold: float,
                    n: int, id_col: str, text_col: str) -> DataFrame:
    """Exact n-gram Jaccard verify of candidate (id1, id2) pairs.

    The shingle frame is referenced for both pair sides — one extra
    O(corpus-tokens) projection pass, shuffle-free and embarrassingly
    parallel. (Restricting it to candidate-involved ids via a semi-join
    was tried and rejected: the id set references ``cand``'s MinHash
    lineage two more times, which costs more than the shingle pass it
    saves.)"""
    sh = documents.select(
        F.col(id_col).alias("id"), shingles_expr(text_col, n).alias("sh")
    )
    return (
        cand.join(sh.select(F.col("id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")), "id2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup PAIRS, exact-verified.

    signature → ``bands`` bands of ``num_perm/bands`` rows; band hash =
    hash of the band slice; docs sharing any band bucket become
    candidates; candidates are verified with true n-gram Jaccard. Output
    (id1, id2, jaccard) — a superset-free result: FPs are filtered by the
    verify stage; FNs are the usual LSH recall tradeoff (tested ≥ target
    in tests/test_dedup.py).

    SCALE CAVEAT — pair output is inherently quadratic per bucket: a
    degenerate duplicate cluster of m documents (near-empty texts,
    templated boilerplate; m can be 10^6+ on a web corpus) shares every
    band key and expands to m²/2 candidate pairs per band. Two ways out:

    - corpus dedup does NOT need pairs — use
      :func:`minhash_lsh_anchor_edges` (O(docs·bands) candidates, never
      quadratic; the default tier of curate.curate_corpus), or feed its
      edges to :func:`connected_components` for cluster ids;
    - if you genuinely need pairs, set ``max_bucket``: every (band, bh)
      bucket is truncated to its ``max_bucket`` SMALLEST ids before pair
      expansion (deterministic; pairs among retained ids are exact).
      Truncation is never silent — audit it with
      :func:`lsh_bucket_stats`, which reports how many buckets overflow
      and how many ids the cap excludes, and log that next to the run.

    ``hasher="md5"`` switches the whole parameterization (permutation
    bases AND band keys) to md5 so a DuckDB oracle can reproduce the
    exact candidate set — used by the driver-contract queries q32/q49;
    xxhash64 stays the default engine path (JVM hash vs md5 digest per
    shingle). Both tiers use the same double-hash permutation arithmetic
    (see minhash_signature).
    """
    banded = lsh_banded(documents, num_perm, bands, n, id_col, text_col,
                        hasher)
    if max_bucket is None:
        # single-pass bucket expansion: ONE groupBy exchange, ids sorted
        # per bucket, pairs streamed out of two nested explodes (peak
        # memory O(m) per bucket, output m²/2 streamed). The former
        # banded⋈banded self-join computed the whole MinHash lineage
        # TWICE — Catalyst broadcasts one side and HOF lambda expr-ids
        # defeat exchange-reuse canonicalization (measured 7.2 s vs
        # 5.6 s at sf0.1).
        buckets = (
            banded.groupBy("band", "bh")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .where(F.size("ids") > 1)
        )
        cand = (
            buckets.select(
                F.posexplode("ids").alias("i", "id1"), F.col("ids")
            )
            .select(
                "id1",
                F.explode(
                    F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
                ).alias("id2"),
            )
            .distinct()
        )
    else:
        if max_bucket < 2:
            raise ValueError("max_bucket must be >= 2")
        # one groupBy shuffle; per-bucket state = the id list, truncated
        # to the cap's smallest ids BEFORE the quadratic expansion, so a
        # hot bucket costs O(m log m) sort + O(cap²) pairs, never O(m²)
        grouped = (
            banded.groupBy("band", "bh")
            .agg(F.slice(F.sort_array(F.collect_list("id")), 1,
                         max_bucket).alias("ids"))
            .where(F.size("ids") > 1)
        )
        cand = (
            grouped.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (x, i) -> "
                        "transform(slice(ids, i + 2, size(ids) - i - 1), "
                        "y -> named_struct('id1', x, 'id2', y))))"
                    )
                ).alias("p")
            )
            .select("p.*")
            .distinct()
        )
    return _verify_jaccard(cand, documents, threshold, n, id_col, text_col)


def lsh_bucket_stats(
    documents: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Bucket-size audit for the LSH banding — the overflow counter that
    keeps ``minhash_lsh_pairs(max_bucket=...)`` honest.

    One row: (n_buckets, n_multi_buckets, max_bucket_size,
    n_buckets_over, n_ids_truncated) where the last two count buckets
    larger than ``max_bucket`` and the ids a cap of that size would
    exclude from pair expansion (0/0 when ``max_bucket`` is None). One
    groupBy + one aggregate — O(docs·bands) shuffle, same as the banding
    itself; run it next to any capped pairs job and LOG the result so
    truncation is never silent.
    """
    cap = F.lit(max_bucket if max_bucket is not None else (1 << 62))
    sizes = (
        lsh_banded(documents, num_perm, bands, n, id_col, text_col, hasher)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("sz") > 1).cast("long")).alias("n_multi_buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum((F.col("sz") > cap).cast("long")).alias("n_buckets_over"),
        F.sum(
            F.when(F.col("sz") > cap, F.col("sz") - cap).otherwise(F.lit(0))
        ).alias("n_ids_truncated"),
    )


def minhash_lsh_anchor_edges(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """The 100-TB near-dup DROP path: anchor-rule edges, never quadratic.

    Corpus dedup needs survivors, not all pairs — so instead of expanding
    every bucket into m²/2 candidate pairs, each (band, bh) bucket
    nominates its SMALLEST id as the anchor and every other member is a
    candidate edge (anchor, id): O(m) candidates per bucket, O(docs·bands)
    total, regardless of how degenerate the duplicate clusters are (the
    round-4 verdict's one remaining scale hole). Candidates are verified
    with exact n-gram Jaccard; output (doc_id, anchor_id, jaccard) with
    anchor_id < doc_id, distinct per (doc_id, anchor_id).

    Semantics (deterministic, SQL-expressible — driver query q64): a
    document is a verified anchor-dup iff some bucket's minimum id has
    true Jaccard ≥ threshold with it. For a cluster of identical texts
    every bucket's anchor IS the cluster-global minimum (identical docs
    share all band keys), so exactly the min id survives. The rule is
    deliberately NOT the all-pairs rule: a doc whose bucket anchors all
    fail the verify survives even if some other (non-anchor) bucket-mate
    would have matched — the standard recall-for-boundedness trade every
    production LSH dedup makes. Recall vs the pair tier is tested in
    tests/test_dedup.py; for transitive cluster ids feed these edges to
    :func:`connected_components`.

    Plan shape: banding projection → ONE hash exchange on (band, bh) →
    per-bucket window min (each bucket annotates its own anchor in one
    pass — NOT a separate aggregate joined back, which Catalyst plans
    as a broadcast join whose probe side recomputes the whole MinHash
    lineage a second time; measured 2× the operator's cost at sf0.1) →
    distinct → the verify join. Every stage is bounded by O(docs·bands).
    """
    banded = lsh_banded(documents, num_perm, bands, n, id_col, text_col,
                        hasher)
    w = Window.partitionBy("band", "bh")
    cand = (
        banded.withColumn("anchor", F.min("id").over(w))
        .where(F.col("id") > F.col("anchor"))
        .select(F.col("anchor").alias("id1"), F.col("id").alias("id2"))
        .distinct()
    )
    verified = _verify_jaccard(cand, documents, threshold, n, id_col,
                               text_col)
    return verified.select(
        F.col("id2").alias("doc_id"),
        F.col("id1").alias("anchor_id"),
        "jaccard",
    )


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    standard corpus-dedup deliverable (RefinedWeb/SlimPajama-style
    cluster ids) over a near-dup edge set.

    Returns (id, cluster_id) for every node appearing in ``edges``,
    cluster_id = the smallest node id reachable through undirected
    edges. Each iteration is ONE join + groupBy (labels flow one hop);
    labels only decrease, so the fixpoint — reached after diameter(G)
    iterations — has every component labeled by its minimum. Anchor-rule
    edge sets (see minhash_lsh_anchor_edges) are near-star-shaped, so
    the diameter is small by construction; ``max_iter`` is a loud
    backstop, not a truncation (RuntimeError on non-convergence, never a
    silently wrong label).

    Scale notes: the edge list is localCheckpoint-ed once (it drives
    every iteration); per-iteration labels are localCheckpoint-ed to cut
    lineage (otherwise the plan doubles each round). Driver state is one
    integer (the change count) per iteration. At extreme diameters swap
    in large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — same output contract.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        new = (
            labels.join(nbr_min, labels["id"] == nbr_min["a"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["label"],
                    F.coalesce(F.col("nbr_min"), labels["label"]),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — raise max_iter or use large-star/small-star"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def near_dup_clusters(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
    max_iter: int = 50,
) -> DataFrame:
    """Transitive near-dup cluster ids over the anchor-edge graph:
    (doc_id, cluster_id) for every doc with ≥ 1 verified anchor edge,
    cluster_id = min doc_id reachable through such edges (a~b, b~c ⇒
    one cluster even when a≁c directly). The composition of the two
    scale-safe pieces above — O(docs·bands) edges, O(diameter) rounds."""
    edges = minhash_lsh_anchor_edges(
        documents, threshold, num_perm, bands, n, id_col, text_col, hasher
    )
    return connected_components(
        edges, src="anchor_id", dst="doc_id", max_iter=max_iter
    ).select(F.col("id").alias(id_col), "cluster_id")


def simhash_expr(text: Column | str, bits: int = 64, hasher: str = "xxhash64") -> Column:
    """SimHash: per-bit majority vote over token hashes → one long.

    Native: per bit i (unrolled Python loop → literal masks, since
    shiftleft's distance must be a literal), count hashes with the bit
    set; majority ⇒ set bit in the accumulator. Bit 63 uses the negative
    signed mask. The expression is ~64 array scans per row — fine for a
    64-term codegen'd expression; the corpus-scale alternative is the
    explode→groupBy(doc, bit) relational form with identical semantics.

    ``hasher="md5"`` derives a 60-bit token hash from the first 15 hex
    chars of md5 (conv base16→10) — the same value DuckDB computes with
    ``('0x' || substr(md5(t),1,15))::BIGINT``, so the whole signature is
    SQL-reproducible for the driver oracle (q33). Callers must then pass
    ``bits=60`` (all masks positive; no sign games).
    """
    toks = tokens_expr(text)
    if hasher == "md5":
        if bits > 60:
            raise ValueError("md5-parameterized simhash supports <= 60 bits")
        hashes = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    # per-bit terms kept INDEPENDENT, then OR-folded: nesting the
    # accumulator inside both when() branches doubles the expression tree
    # per bit (2^64 nodes — analyzer OOM); this form is linear. The hash
    # array + token count are bound ONCE (see bind_once) — inlined they
    # would be re-hashed `bits` times per row.
    def vote(st: Column) -> Column:
        hs = st["hs"]
        nt = st["nt"]

        def bit_count(mask: Column) -> Column:
            # NB: a 2-arg lambda would be read by pyspark as (value, index)
            return F.size(F.filter(hs, lambda h: h.bitwiseAND(mask) != 0))

        terms = []
        for i in range(bits):
            m = (1 << i) if i < 63 else -(1 << 63)
            mask = F.lit(m).cast("long")
            cnt = bit_count(mask)
            terms.append(F.when(cnt * 2 > nt, mask).otherwise(F.lit(0).cast("long")))
        acc = terms[0]
        for t in terms[1:]:
            acc = acc.bitwiseOR(t)
        return acc

    return bind_once(
        F.struct(hashes.alias("hs"), F.size(toks).alias("nt")), vote
    )


def simhash_dup_groups(documents: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64,
                       hasher: str = "xxhash64") -> DataFrame:
    """Docs sharing an identical SimHash (near-dup by construction).

    Hamming-distance-k matching (block-rotation, exact) lives in
    :func:`simhash_hamming_pairs`; equality groups are the
    oracle-checkable core (``hasher="md5"`` ⇒ DuckDB-reproducible, q33).
    """
    return (
        documents.select(
            F.col(id_col).alias("id"),
            simhash_expr(text_col, bits, hasher).alias("simhash"),
        )
        .groupBy("simhash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def simhash_hamming_pairs(
    documents: DataFrame,
    k: int = 3,
    bits: int = 64,
    hasher: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= k — EXACT via the
    standard block trick: split the signature into k+1 bit-blocks; any
    pair within distance k must agree exactly on >= 1 block (pigeonhole),
    so candidates = equi-join on (block_idx, block_value) — an O(docs·(k+1))
    shuffle, never all-pairs — then verify bit_count(xor) <= k. No false
    negatives by construction; the verify removes false positives.

    Output (id1, id2, hamming) with id1 < id2.
    """
    nblocks = k + 1
    # block b covers bit range [lo, lo+width): near-equal widths
    widths = [bits // nblocks + (1 if b < bits % nblocks else 0)
              for b in range(nblocks)]
    sig = documents.select(
        F.col(id_col).alias("id"),
        simhash_expr(text_col, bits, hasher).alias("sh"),
    )
    parts = []
    lo = 0
    for b, w in enumerate(widths):
        if w <= 0:
            continue
        # unsigned slice [lo, lo+w): shiftrightunsigned then mask. A full
        # 64-bit block (k=0) needs no mask — (1<<64)-1 overflows LongType.
        if w >= 64:
            val = F.col("sh")
        else:
            mask = F.lit((1 << w) - 1).cast("long")
            val = F.shiftrightunsigned(F.col("sh"), lo).bitwiseAND(mask)
        parts.append(F.struct(F.lit(b).alias("blk"), val.alias("bv")))
        lo += w
    blocked = sig.select(
        "id", "sh", F.explode(F.array(*parts)).alias("bx")
    ).select("id", "sh", F.col("bx.blk").alias("blk"), F.col("bx.bv").alias("bv"))
    a = blocked.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"), "blk", "bv")
    b2 = blocked.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"), "blk", "bv")
    return (
        a.join(b2, ["blk", "bv"])
        .where(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= k)
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs: cosine(a, b) >= threshold, id1 < id2.

    Exact all-pairs, two physical strategies with identical output:

    - ``method="blocked"`` (default): block-partitioned matrix multiply.
      Vectors hash into ``n_blocks`` blocks; each of the B(B+1)/2 block
      CELLS becomes one ``applyInPandas`` task computing a vectorized
      numpy GEMM over its (left x right) sub-matrices. Replication is
      B+1 copies per row (shuffle O(N·B)), compute is the unavoidable
      O(N²) dot products but SIMD-batched instead of one Catalyst
      array-fold per pair — 2M-pair bench (sf0.1) drops from 56.9 s to
      a few seconds, and the work spreads evenly over executors.
    - ``method="catalyst"``: the pure-JVM nested-loop join + array-fold
      cosine. No Python workers, but a cartesian residual join — keep
      for tiny inputs and as the plan-level reference.

    Both are the EXACT tier. At 10^9 vectors neither applies: block with
    the sign-bucket LSH in operators/similarity.py and exact-verify the
    candidates (same pattern as minhash_lsh_pairs).
    """
    if method == "blocked":
        return _cosine_pairs_blocked(embeddings, threshold, id_col, vec_col,
                                     n_blocks)
    from newscrawler_spark.operators.similarity import cosine_expr

    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = e.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    b = e.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("cos", cosine_expr(F.col("v1"), F.col("v2")))
        .where(F.col("cos") >= threshold)
        .select("id1", "id2", F.round("cos", 6).alias("cos"))
    )


def _cosine_pairs_blocked(
    embeddings: DataFrame, threshold: float, id_col: str, vec_col: str,
    n_blocks: int,
) -> DataFrame:
    """Block-cell GEMM for exact all-pairs cosine (see
    embedding_cosine_pairs). A row in block b is the LEFT side of cells
    (b, j>=b) and the RIGHT side of cells (i<=b, b); every unordered pair
    lands in exactly one cell — diagonal cells dedupe with id_l < id_r."""
    import numpy as np
    import pandas as pd

    B = n_blocks
    thr = float(threshold)

    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    left = e.select(
        F.lit("L").alias("side"),
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"),
        "id", "v",
    )
    right = e.select(
        F.lit("R").alias("side"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        "id", "v",
    )
    both = left.unionByName(right)

    def gemm(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        lf = pdf[pdf["side"] == "L"]
        rt = pdf[pdf["side"] == "R"]
        if lf.empty or rt.empty:
            return pd.DataFrame({"id1": [], "id2": [], "cos": []}).astype(
                {"id1": "int64", "id2": "int64", "cos": "float64"}
            )
        ml = np.array(lf["v"].tolist(), dtype=np.float64)
        mr = np.array(rt["v"].tolist(), dtype=np.float64)
        ml /= np.linalg.norm(ml, axis=1, keepdims=True)
        mr /= np.linalg.norm(mr, axis=1, keepdims=True)
        c = ml @ mr.T
        li = lf["id"].to_numpy()
        ri = rt["id"].to_numpy()
        ii, jj = np.nonzero(c >= thr)
        a, b = li[ii], ri[jj]
        # diagonal cells see each unordered pair twice (L and R are the
        # same block) — keep one orientation
        keep = a < b if bi == bj else np.ones(len(a), dtype=bool)
        a, b, cv = a[keep], b[keep], c[ii, jj][keep]
        return pd.DataFrame(
            {"id1": np.minimum(a, b), "id2": np.maximum(a, b), "cos": cv}
        )

    out = both.groupBy("bi", "bj").applyInPandas(
        gemm, schema="id1 long, id2 long, cos double"
    )
    return out.select("id1", "id2", F.round("cos", 6).alias("cos"))


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_overlap) for every training
    document sharing >= 1 word n-gram with the benchmark corpus.

    The cross-corpus cousin of dedup: training data must not contain
    eval-set text. Semantics: n_overlap = count of the document's
    DISTINCT n-gram shingles that appear anywhere in the benchmark.
    Plan: benchmark -> distinct shingle set (tiny vs the corpus —
    broadcast when it fits, hash join otherwise, Catalyst's call);
    documents -> exploded distinct shingles, ONE join + groupBy count.
    O(corpus tokens) shuffle, never corpus x benchmark.
    """
    btc = bench_text_col or text_col
    bsh = (
        benchmark.select(F.explode(shingles_expr(btc, n)).alias("s"))
        .distinct()
    )
    dsh = documents.select(
        F.col(id_col), F.explode(shingles_expr(text_col, n)).alias("s")
    )
    return (
        dsh.join(bsh, "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def substring_span_dedup(
    documents: DataFrame,
    k: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
    materialize_windows: bool = True,
) -> DataFrame:
    """Cross-document duplicated-SUBSTRING removal at k-token
    granularity — the ExactSubstr deliverable of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed relationally instead of via a suffix array.

    Every SLIDING k-token window (stride 1 — overlapping, unlike
    boilerplate_span_removal's disjoint chunks) whose text occurs in
    ≥ ``min_df`` DISTINCT documents marks all k token positions it
    covers as duplicated; each text is rebuilt from the surviving
    tokens in order. A quoted paragraph shared by two articles is
    excised from both wherever it starts or ends, because every
    k-window inside it is cross-document duplicated — span boundaries
    emerge from window overlap, with no span-merge step.

    Returns (id, n_tokens, n_removed, cleaned_text); docs shorter than
    k tokens have no windows and are kept whole.

    ``cleaned_text`` is NORMALIZED token-space text, not the original
    text with spans excised: it is rebuilt from :func:`tokens_expr`
    output — lowercased, split on ``TOKEN_SPLIT`` whitespace runs (so
    newlines and indentation are gone), surviving tokens joined by
    single spaces — for EVERY document, including those with nothing
    removed. Using it as replacement training text therefore normalizes
    the whole corpus; it does not preserve the source's casing or
    layout.

    Scale shape (100 TB): sliding windows are one projection + explode —
    O(tokens) rows; the document-frequency pass is ONE groupBy on the
    window key; covered positions explode k rows per DUPLICATED window
    only (duplication is sparse on a deduped crawl, and bounded by
    O(dup_tokens·k) regardless); the rebuild is one groupBy(id). Nothing
    quadratic, no driver state, no UDF. ``hash_grams=True`` is the wide-
    corpus tier: the df groupBy + hot-set join key on xxhash64(window)
    (8 bytes) instead of the k-token string (~10·k bytes) — ~10× less
    shuffle at k=5, with a 2^-64-per-pair collision FP documented;
    equivalence vs the exact tier is asserted in tests. The oracle tier
    (q73) keeps the exact string key so DuckDB reproduces it verbatim.
    """
    toks = tokens_expr(text_col)
    base = documents.select(F.col(id_col).alias("id"), toks.alias("tk"))
    windows = F.when(
        F.size("tk") >= k,
        bind_once(
            F.col("tk"),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice(t, i + 1, k)).alias("g"),
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    anch = base.select("id", F.explode(windows).alias("w")).select(
        "id", F.col("w.pos").alias("pos"),
        (F.xxhash64("w.g") if hash_grams else F.col("w.g")).alias("g"),
    )
    if materialize_windows:
        # The window table feeds the df groupBy AND the coverage join,
        # and the coverage set feeds two more consumers — without a
        # materialization barrier Catalyst re-tokenizes and re-builds
        # every sliding window per consumer. Measured: 2.4x the whole
        # operator on a 300k-doc CACHED corpus (61.5 s -> 25.2 s);
        # neutral on a 1M-doc parquet-backed corpus (125.8 vs 129.2 s),
        # where the one-time build + checkpoint spill costs about what
        # the recomputes did. The cost is one O(tokens)-row spill to
        # executor-local storage — linear, slim rows (id, pos, hash) on
        # the hash_grams tier; set False where executor disk is scarce.
        anch = anch.localCheckpoint(eager=False)
    hot = (
        anch.groupBy("g")
        .agg(F.countDistinct("id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("g")
    )
    covered = (
        anch.join(hot, "g")
        .select("id", F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"))
        .distinct()
    )
    if materialize_windows:
        # consumed by `affected` and the anti-join; O(dup positions)
        covered = covered.localCheckpoint(eager=False)
    # Rebuild ONLY affected documents (ids with >= 1 covered position).
    # Duplication is sparse on a web corpus, so exploding/re-aggregating
    # every corpus token just to pass most texts through unchanged was
    # the operator's dominant cost (measured ~4x the whole rest at 10^6
    # docs); unaffected docs keep the straight space-joined token string
    # — byte-identical to what the explode path rebuilds for them.
    affected = covered.select("id").distinct()
    tok = base.join(affected, "id").select(
        "id", F.posexplode("tk").alias("p", "tkn")
    )
    kept = tok.join(covered, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tkn"))),
                lambda x: x["tkn"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        base.select("id", "tk", F.size("tk").cast("long").alias("n_tokens"))
        .join(affected.withColumn("__aff", F.lit(True)), "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.when(
                F.col("__aff").isNotNull(),
                F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)),
            ).otherwise(F.lit(0)).cast("long").alias("n_removed"),
            F.when(
                F.col("__aff").isNotNull(),
                # a fully-covered doc has no kept rows at all -> ''
                F.coalesce("cleaned_text", F.lit("")),
            ).otherwise(F.concat_ws(" ", F.col("tk"))).alias("cleaned_text"),
        )
    )


def decontaminate_fuzzy(
    documents: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """FUZZY benchmark decontamination — the MinHash-LSH tier next to
    :func:`decontaminate`'s exact n-gram tier (the SlimPajama/FineWeb
    recipe: eval contamination is usually a lightly-edited copy, which
    exact n-gram overlap can miss and near-dup similarity catches).

    Candidates are corpus documents sharing ANY MinHash band bucket
    with a benchmark document; each candidate pair is verified with
    true n-gram Jaccard ≥ ``threshold``. Output (doc_id, bench_id,
    jaccard) — one row per contaminated (train, eval) pairing; drop
    with an anti-join on doc_id.

    Scale shape: both sides run the same O(shingles) signature
    projection; the bucket join is keyed (band, bh) against the
    benchmark's O(bench·bands) rows — a benchmark is thousands of rows
    against 10^9+ docs, so Catalyst/AQE broadcasts the bench side and
    the corpus is never shuffled; the verify join touches only
    candidate ids. Never corpus × benchmark.

    Pair fan-out caveat (measured in BENCH/stress_ops_r5.json): output
    is one row per (doc, bench) pairing, so m corpus near-dups of m'
    duplicated benchmark rows emit m·m' pairs. EXACT-DEDUP THE
    BENCHMARK FIRST (exact_dedup — benchmarks are small, this is
    cheap) and, when only the drop set matters, reduce with
    ``.select("doc_id").distinct()`` before the anti-join.
    """
    bid = bench_id_col or id_col
    btc = bench_text_col or text_col
    db = lsh_banded(documents, num_perm, bands, n, id_col, text_col, hasher)
    bb = lsh_banded(benchmark, num_perm, bands, n, bid, btc, hasher).select(
        F.col("id").alias("bench_id"), "band", "bh"
    )
    cand = (
        db.join(bb, ["band", "bh"])
        .select(F.col("id").alias("id1"), F.col("bench_id").alias("id2"))
        .distinct()
    )
    dsh = documents.select(
        F.col(id_col).alias("id1"), shingles_expr(text_col, n).alias("sh1")
    )
    bsh = benchmark.select(
        F.col(bid).alias("id2"), shingles_expr(btc, n).alias("sh2")
    )
    return (
        cand.join(dsh, "id1")
        .join(bsh, "id2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("id1").alias("doc_id"),
            F.col("id2").alias("bench_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
