"""Composed training-data curation pipeline over a documents corpus.

What a 100 TB training-data pipeline actually runs is not one dedup
operator but a CHAIN: exact dedup → quality gate → near-dup removal →
annotated survivors. This module composes the already-audited operators
(dedup.exact_dedup, textstats.quality_stats/langid,
dedup.minhash_lsh_pairs) into that chain with deterministic,
SQL-expressible semantics so the whole composition is two-sided
checkable (driver q49):

1. exact tier: keep one doc per md5(text) group (the min doc_id —
   dedup.exact_dedup's keeper rule);
2. quality gate: survivors need quality_score ≥ ``quality_min``
   (textstats.quality_stats' rounded score, same value the oracle
   computes);
3. near-dup tier (default ``near_dup="anchor"``): MinHash-LSH ANCHOR
   edges among the remaining docs — every (band, bh) bucket nominates
   its smallest id as the anchor and only (anchor, member) candidates
   are Jaccard-verified, O(docs·bands) candidates regardless of how
   degenerate the dup clusters are (dedup.minhash_lsh_anchor_edges). A
   doc is dropped iff it has a verified anchor edge, i.e. some bucket's
   minimum id (which itself survived stages 1–2 — buckets are built
   over the survivor set) has true Jaccard ≥ threshold with it. For a
   cluster of identical texts exactly the min id survives.
   ``near_dup="pairs"`` keeps the legacy pairwise smaller-id-wins rule
   (dedup.minhash_lsh_pairs): deterministic but quadratic per bucket —
   a web-scale boilerplate cluster of m docs expands m²/2 candidate
   pairs, so it is no longer the default.

Scale shape: stage 1 is one hash-shuffle groupBy; stage 2 is a pure
Catalyst projection; stage 3 is O(docs·bands) shuffle end to end
(banding, one min-aggregate, one bucket join, the verify), run on the
REDUCED survivor set; the joins stitching stages are semi/anti joins on
doc_id. No stage is quadratic, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newscrawler_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_anchor_edges,
    minhash_lsh_pairs,
)
from newscrawler_spark.operators.textstats import langid, quality_stats


def curate_corpus(
    documents: DataFrame,
    quality_min: float = 0.5,
    near_dup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
    near_dup: str = "anchor",
) -> DataFrame:
    """documents(doc_id, text, ...) → surviving
    (doc_id, n_tokens, quality_score, lang_pred).

    ``hasher`` parameterizes the MinHash family exactly as in
    minhash_lsh_pairs: 'xxhash64' (default, cheapest per-row) or 'md5'
    (ANSI-SQL-reproducible — the driver-oracle tier). ``near_dup``
    picks the stage-3 drop rule: 'anchor' (default, bounded at any
    skew) or 'pairs' (legacy pairwise rule — quadratic per bucket)."""
    if near_dup not in ("anchor", "pairs"):
        raise ValueError("near_dup must be 'anchor' or 'pairs'")
    keep = exact_dedup(documents, id_col=id_col, text_col=text_col).select(
        F.col("keep_id").alias(id_col)
    )
    q = quality_stats(documents, id_col=id_col, text_col=text_col).select(
        id_col, "n_tokens", "quality_score"
    )
    good = q.where(F.col("quality_score") >= quality_min).select(id_col)
    s2 = (
        documents.join(keep, id_col, "left_semi")
        .join(good, id_col, "left_semi")
    )
    if near_dup == "anchor":
        edges = minhash_lsh_anchor_edges(
            s2, threshold=near_dup_threshold, id_col=id_col,
            text_col=text_col, hasher=hasher,
        )
        dropped = edges.select(F.col("doc_id").alias(id_col)).distinct()
    else:
        pairs = minhash_lsh_pairs(
            s2, threshold=near_dup_threshold, id_col=id_col,
            text_col=text_col, hasher=hasher,
        )
        dropped = pairs.select(F.col("id2").alias(id_col)).distinct()
    survivors = s2.join(dropped, id_col, "left_anti")
    lang = langid(documents, id_col=id_col, text_col=text_col).select(
        id_col, "lang_pred"
    )
    return (
        survivors.select(id_col)
        .join(q, id_col)
        .join(lang, id_col)
        .select(id_col, "n_tokens", "quality_score", "lang_pred")
    )


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum hash sampling — the data-mixing step
    (e.g. keep 50% of English, 10% of zh, all of de).

    keep iff base56(md5(salt|id)) % 1_000_000 < round(rate * 1e6): a
    pure projection + filter (no shuffle, no RNG state), reproducible
    across runs/engines, and monotone in rate — raising a stratum's rate
    keeps every previously kept doc (hash-threshold sampling), so mixes
    can be tuned without churning the corpus. Rates land in the plan as
    integer thresholds (round(rate*1e6) computed in Python), so both
    engines compare the same BIGINTs — no float in the predicate.
    """
    from newscrawler_spark.operators.shards import shard_hash

    thresholds = {k: int(round(v * 1_000_000)) for k, v in rates.items()}
    mapping = F.create_map(
        *[x for k, v in thresholds.items() for x in (F.lit(k), F.lit(v))]
    )
    thr = F.coalesce(
        mapping[F.col(strata_col)],
        F.lit(int(round(default_rate * 1_000_000))),
    )
    key = F.pmod(shard_hash(id_col, salt), F.lit(1_000_000))
    return documents.withColumn("sample_key", key).where(
        F.col("sample_key") < thr
    )


# normalize_text's character classes. Kept as module constants so tests
# and the contract construction cite the same sets the operator maps.
_NORM_SPACE_LIKE = "\u00a0\u2007\u202f"  # nbsp, figure space, narrow nbsp
_NORM_ZERO_WIDTH = "\u200b\u200c\u200d\ufeff"  # zwsp, zwnj, zwj, BOM
_NORM_QUOTES_FROM = "\u2018\u2019\u201c\u201d"  # curly → straight
_NORM_QUOTES_TO = "''\"\""
_NORM_DASHES_FROM = "\u2013\u2014"  # en/em dash → hyphen
# C0 controls minus \t \n \r (those have their own mappings), plus DEL.
_NORM_CONTROLS = "".join(
    chr(i) for i in range(0x20) if chr(i) not in "\t\n\r"
) + "\x7f"


def normalize_text(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unicode/whitespace normalization — the first stage of every real
    webtext pipeline (HTML-extracted text arrives full of nbsp runs,
    zero-width joiners, curly quotes, and CRLF soup).

    Fixed, documented pass order (each step sees the previous step's
    output, so the composition is deterministic and closed-form
    statable — the q68 oracle exploits exactly that):

    1. CRLF → LF (before lone-CR mapping so ``\\r\\n`` yields ONE \\n);
    2. one ``translate``: lone \\r → \\n, \\t → space, nbsp-family →
       space, curly quotes → straight, en/em dash → '-', and DELETE
       zero-width chars + C0 controls + DEL;
    3. ellipsis … → '...' (1→3 chars, beyond translate's 1:1 map);
    4. collapse 2+ spaces → one;
    5. strip spaces around newlines;
    6. cap blank-line runs: 3+ \\n → exactly 2;
    7. trim leading/trailing whitespace.

    Returns (id, norm_text, orig_chars, norm_chars). Scale shape: a
    pure Catalyst projection — no shuffle, no UDF; at 100 TB this is
    a map-only pass fused into whatever scan feeds it.
    """
    src = F.col(text_col)
    c = F.replace(src, F.lit("\r\n"), F.lit("\n"))
    c = F.translate(
        c,
        "\r\t" + _NORM_SPACE_LIKE + _NORM_QUOTES_FROM + _NORM_DASHES_FROM
        + _NORM_ZERO_WIDTH + _NORM_CONTROLS,
        "\n " + "   " + _NORM_QUOTES_TO + "--",
    )
    c = F.replace(c, F.lit("\u2026"), F.lit("..."))
    c = F.regexp_replace(c, " {2,}", " ")
    c = F.regexp_replace(c, " *\n *", "\n")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    c = F.regexp_replace(c, "^\\s+|\\s+$", "")
    return documents.select(
        F.col(id_col),
        c.alias("norm_text"),
        F.length(src).cast("long").alias("orig_chars"),
        F.length(c).cast("long").alias("norm_chars"),
    )


def line_dedup(
    documents: DataFrame,
    min_df: int = 3,
    scope_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-scope line-level dedup, RefinedWeb/Gopher-style: a LINE
    (``\\n``-separated) occurring in ≥ ``min_df`` documents of the same
    scope (host / source / domain) is boilerplate — nav bars, cookie
    banners, subscribe footers — and is removed from every document in
    that scope; texts are rebuilt from surviving lines in order.

    Differs from boilerplate_span_removal (q61) on both axes: the unit
    is a LINE (not a fixed token window) and the frequency is scoped
    per host (not corpus-global) — a header hot on one site but quoted
    once elsewhere is dropped only where it is boilerplate.

    Returns (id, scope, n_lines, n_kept, cleaned_text). Scale shape:
    one explode + groupBy(scope, line) for document frequencies
    (O(total lines) shuffle, keyed by (scope, line) so no single-host
    hotspot concentrates on one reducer beyond its own volume), an
    anti-join against the hot set (strategy left to AQE — broadcast
    when small), one groupBy(id) rebuild. Nothing quadratic, no
    collect, no UDF.
    """
    e = documents.select(
        F.col(id_col),
        F.col(scope_col).alias("scope"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    hot = (
        e.groupBy("scope", "line")
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") >= min_df)
        .select("scope", "line")
    )
    kept = e.join(hot, ["scope", "line"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("cleaned_text"),
    )
    base = documents.select(
        F.col(id_col),
        F.col(scope_col).alias("scope"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "scope",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


def boilerplate_span_removal(
    documents: DataFrame,
    span: int = 3,
    max_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Global boilerplate removal, C4-style: drop every ``span``-token
    chunk that occurs in more than ``max_df`` documents, rebuild each
    text from its surviving chunks in original order.

    Returns (doc_id, n_spans, n_kept, cleaned_text). Scale shape: one
    explode + groupBy for the global span document-frequencies
    (O(tokens) shuffle); the drop is an anti-join against the hot span
    set (df > max_df) — usually small (boilerplate is rare as a
    distinct string), but unbounded in principle at aggressive max_df on
    a web corpus, so the join STRATEGY is left to Catalyst/AQE
    (broadcast when it fits, shuffled hash join otherwise) rather than
    forced; one groupBy(doc) rebuild shuffle. Nothing is quadratic and
    no mandatory driver-side state.
    """
    from newscrawler_spark.operators.dedup import tokens_expr

    toks = tokens_expr(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(float(span))).cast("int")
    spans = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * span + 1, span)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = documents.select(F.col(id_col), spans.alias("sps"))
    e = base.select(
        id_col, F.posexplode("sps").alias("pos", "s")
    )
    hot = (
        e.groupBy("s")
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") > max_df)
        .select("s")
    )
    kept = e.join(hot, "s", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        base.select(id_col, F.size("sps").cast("long").alias("n_spans"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def select_token_budget(
    documents: DataFrame,
    budget: int,
    order_col: str = "quality_score",
    ascending: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int | None = None,
) -> DataFrame:
    """Greedy token-budget selection — "take the best documents until
    the 1-trillion-token budget is full", the step that turns a scored
    corpus into a training mix of a fixed size.

    Documents are ranked by (``order_col`` asc/desc, id asc — the id
    tiebreak makes the total order unique, so the selected set is
    deterministic and engine-independent); the maximal prefix whose
    cumulative whitespace-token count stays ≤ ``budget`` is returned as
    (id, order_col, n_tokens, cum_tokens). Because the cumulative sum
    is monotone along the ranking, ``cum_tokens <= budget`` IS the
    prefix — no iterative stopping logic.

    Scale shape — the naive form (``Window.orderBy`` with no
    partitionBy) funnels the whole corpus through ONE task; this
    implementation is the distributed two-level prefix sum instead:

    1. ``repartitionByRange(B, keys)`` — a range shuffle; bucket b
       holds a contiguous slice of the ranking. (Catalyst then hashes
       on the bucket id to satisfy the window below — it cannot know
       ``spark_partition_id()`` already matches — so the corpus crosses
       the wire twice; both are full-parallel B-way exchanges, never a
       single-task funnel.)
    2. local cumulative sums per bucket (window partitioned by the
       bucket id — max window size corpus/B, parallelism B);
    3. each bucket's grand total is just max(__local_cum), aggregated
       FROM the stage-2 frame — sharing its exchange subtree, so the
       scan/score/range lineage is computed once and the offsets branch
       hangs off a ReusedExchange (plan-asserted in tests). The ≤B
       totals are prefix-summed by a window over one row per bucket
       (single-partition, but B rows ≈ the cluster's task count, not
       the corpus) and broadcast-joined back as bucket start offsets.

    No collect, no persist, no driver-side state beyond the plan. (The
    range partitioner's boundary sampling is deterministic for a
    deterministic input lineage, and the result is boundary-invariant
    anyway — the global cumsum is defined by the total order alone;
    bucket-count invariance is tested.)
    """
    from pyspark.sql import Window
    from newscrawler_spark.operators.textstats import token_count_expr

    b = (
        num_buckets
        or documents.sparkSession.sparkContext.defaultParallelism
    )
    key = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    slim = documents.select(
        F.col(id_col),
        F.col(order_col),
        token_count_expr(text_col).cast("long").alias("n_tokens"),
    )
    ranged = slim.repartitionByRange(b, key, F.col(id_col)).withColumn(
        "__bucket", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__bucket")
        .orderBy(key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local_cum", F.sum("n_tokens").over(w_local))
    w_prefix = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("__bucket")
        .agg(F.max("__local_cum").alias("__total"))
        .withColumn(
            "__offset",
            F.coalesce(F.sum("__total").over(w_prefix), F.lit(0)),
        )
        .select("__bucket", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "cum_tokens",
            (F.col("__local_cum") + F.col("__offset")).cast("long"),
        )
        .where(F.col("cum_tokens") <= budget)
        .select(id_col, order_col, "n_tokens", "cum_tokens")
    )


def upsample_mix(
    documents: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    default_rate: float = 1.0,
) -> DataFrame:
    """Per-stratum resampling with rates ABOVE 1 allowed — the
    repetition half of a training mix (small high-value sources repeat
    for multiple epochs; big ones downsample). stratified_sample (q60)
    caps at keep/drop; this operator emits copies.

    A rate r for stratum s expands each doc into ``floor(r)`` full
    copies (epochs 0..floor(r)-1) plus one extra epoch kept iff
    base56(md5(salt|id)) % 1e6 < round(frac(r)*1e6) — the same
    hash-threshold rule as stratified_sample, so the expansion is
    deterministic, reproducible cross-engine, and monotone in r:
    raising a stratum's rate only ADDS epochs, never churns existing
    ones. Rates land in the plan as integer literals (no float in any
    predicate). Output: one row per (doc, epoch) — (id, strata, epoch);
    downstream shard writers salt by epoch so repeats spread across
    shards.

    Scale shape: a pure projection + explode (fan-out ≤ ceil(max rate),
    a small constant) — no shuffle, no collect, no UDF.
    """
    from newscrawler_spark.operators.shards import shard_hash

    full = {k: int(v) for k, v in rates.items()}
    frac = {
        k: int(round((v - int(v)) * 1_000_000)) for k, v in rates.items()
    }
    if any(v < 0 for v in rates.values()) or default_rate < 0:
        raise ValueError("rates must be >= 0")
    full_map = F.create_map(
        *[x for k, v in full.items() for x in (F.lit(k), F.lit(v))]
    )
    frac_map = F.create_map(
        *[x for k, v in frac.items() for x in (F.lit(k), F.lit(v))]
    )
    n_full = F.coalesce(
        full_map[F.col(strata_col)], F.lit(int(default_rate))
    )
    frac_thr = F.coalesce(
        frac_map[F.col(strata_col)],
        F.lit(int(round((default_rate - int(default_rate)) * 1_000_000))),
    )
    key = F.pmod(shard_hash(id_col, salt), F.lit(1_000_000))
    n_copies = n_full + F.when(key < frac_thr, F.lit(1)).otherwise(F.lit(0))
    epochs = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return documents.select(
        F.col(id_col),
        F.col(strata_col).alias("strata"),
        F.explode(epochs).alias("epoch"),
    )


def temperature_rates(
    counts: dict[str, int], alpha: float, target_total: int
) -> dict[str, float]:
    """Temperature-scaled mix rates (the multilingual-LM standard): a
    stratum with n_s docs gets sampling probability p_s ∝ n_s**alpha
    (alpha < 1 flattens the distribution toward uniform, lifting small
    strata), realized as per-stratum rate r_s = target_total * p_s /
    n_s. Driver-side pure arithmetic over the per-stratum COUNT table
    (one number per stratum) — the distributed realization is
    upsample_mix, which takes the resulting dict."""
    if not 0 <= alpha <= 1:
        raise ValueError("alpha must be in [0, 1]")
    if any(v <= 0 for v in counts.values()):
        raise ValueError("counts must be positive")
    z = sum(n ** alpha for n in counts.values())
    return {
        s: target_total * (n ** alpha) / z / n for s, n in counts.items()
    }


def temperature_mix(
    documents: DataFrame,
    alpha: float,
    target_total: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """counts → temperature_rates → upsample_mix, composed: the
    one-call "give me a T-document mix at temperature alpha" operator.
    The per-stratum count aggregate is collected to the driver — bounded
    by the number of strata (languages / registered sources: thousands,
    not corpus-sized), the same documented-bounded pattern as the IVF
    centroid fetch."""
    counts = {
        r["strata"]: r["n"]
        for r in documents.groupBy(
            F.col(strata_col).alias("strata")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = temperature_rates(counts, alpha, target_total)
    return upsample_mix(
        documents, rates, strata_col=strata_col, id_col=id_col, salt=salt
    )


def hash_split(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the id hash lands in
    [0, 1e6) and split boundaries are the cumulative weight thresholds
    (integer literals in the plan). Stable across runs, engines, and
    corpus growth — a doc's split NEVER changes when other docs are
    added or removed, the property random split lacks and leakage
    audits require. Pure projection, no shuffle.

    Returns documents + (split_key, split). Weights are normalized;
    iteration order of the dict fixes boundary order (insertion order,
    stated so the oracle can restate it)."""
    from newscrawler_spark.operators.shards import shard_hash

    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if any(v < 0 for v in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative with positive sum")
    total = sum(weights.values())
    acc = 0.0
    bounds: list[tuple[str, int]] = []
    for name, w in weights.items():
        acc += w / total
        bounds.append((name, int(round(acc * 1_000_000))))
    bounds[-1] = (bounds[-1][0], 1_000_000)
    key = F.pmod(shard_hash(id_col, salt), F.lit(1_000_000))
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(key < upper, F.lit(name)).otherwise(expr)
    # reversed() nests the WHENs so the FIRST boundary wins; with
    # ascending uppers each key gets the smallest bound above it.
    return documents.withColumn("split_key", key).withColumn("split", expr)


def dsir_importance(
    documents: DataFrame,
    target_source: str,
    buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al. 2023)
    scores: rank raw web documents by how target-domain-like they are,
    using hashed n-gram (unigram + bigram) bag models.

    Both the target corpus (rows where ``source_col = target_source``)
    and the full raw corpus are reduced to counts over ``buckets``
    hashed feature buckets; each bucket's weight is the smoothed
    log-likelihood ratio  ln((c_t+1)/(T_t+B)) − ln((c_r+1)/(T_r+B))
    (add-one smoothing, c = bucket count, T = total feature
    occurrences, B = buckets); a document's importance is the sum of
    its features' bucket weights — occurrences, not distinct, exactly
    the naive-Bayes log ratio of the two hashed bag models.

    DETERMINISM: per-bucket weights are fixed-point BIGINT micro-nats
    (round(w·10⁶)) and the per-doc score is an INTEGER sum of them —
    order-independent, bit-identical at any parallelism / cluster size
    (a float sum would drift with partition order and flake a value-hash
    compare; the only float op left is one ln per BUCKET, 2·B total).
    That op keeps one last-ulp exposure across engines: JVM ``Math.log``
    and DuckDB's ``ln`` are not guaranteed to round identically, so a
    bucket weight that lands exactly on a .5 micro-nat boundary can
    round to different integers, and q74's value hash would differ.

    Returns (id, n_feats, score_fp) — one row per document with ≥ 1
    feature (empty texts have no bag and so no score, like
    dedup.decontaminate); score_fp in micro-nats; resample
    by thresholding or feeding score_fp to select_token_budget's
    order_col. Scale shape: features are one projection + explode
    (O(tokens) rows); TWO count aggregates keyed by bucket (≤ B groups —
    partial aggregation collapses each partition to ≤ B rows before the
    exchange); the weight table is B rows, broadcast back onto the
    feature stream; one groupBy(id) sum. No collect, no UDF, nothing
    quadratic. ``hasher="md5"`` is the oracle tier (DuckDB reproduces
    the bucket ids via substr(md5(f),1,8)::BIGINT); xxhash64 is the
    ship tier (one cheap JVM hash per feature).
    """
    from newscrawler_spark.operators.dedup import bind_once, tokens_expr

    feats = bind_once(
        tokens_expr(text_col),
        lambda t: F.concat(
            t,
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 2),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )
    if hasher == "md5":
        bucket = lambda c: F.pmod(  # noqa: E731
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
            F.lit(buckets),
        )
    else:
        bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(buckets))  # noqa: E731

    fx = documents.select(
        F.col(id_col).alias("id"),
        (F.col(source_col) == target_source).alias("is_t"),
        F.explode(feats).alias("f"),
    ).select("id", "is_t", bucket(F.col("f")).alias("bk"))

    # materialize the <=B-row count table once (localCheckpoint): totals
    # and weights both derive from it, and without the cut Catalyst
    # re-scans the exploded feature stream for each — 3 corpus passes
    # instead of the minimum 2 (count + score).
    counts = fx.groupBy("bk").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.col("is_t").cast("long")).alias("c_t"),
    ).localCheckpoint()
    totals = counts.agg(
        F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t")
    )
    wts = counts.crossJoin(F.broadcast(totals)).select(
        "bk",
        F.round(
            (
                F.log((F.col("c_t") + 1) / (F.col("t_t") + buckets))
                - F.log((F.col("c_r") + 1) / (F.col("t_r") + buckets))
            )
            * 1_000_000.0
        ).cast("long").alias("w_fp"),
    )
    return (
        fx.join(F.broadcast(wts), "bk")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("w_fp").cast("long").alias("score_fp"),
        )
        .select(F.col("id").alias(id_col), "n_feats", "score_fp")
    )
