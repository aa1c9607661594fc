"""Training-corpus assembly: deterministic shard shuffle, mixture
sampling, and token-stream packing.

These are the last-mile operators of a pretraining-data pipeline: after
extraction/curation the corpus must be (1) globally shuffled into a
fixed number of shards in a *reproducible* order, (2) re-weighted to a
target source mixture, and (3) packed into fixed token-budget training
sequences.  All three are deterministic functions of (doc_id, seed) so
reruns — and the SQL oracle — produce bit-identical output.

Portable hash: every engine hashes differently (Spark xxhash64 vs
DuckDB hash), so randomness is derived from an explicit two-round
multiplicative hash mod the Mersenne prime 2^31-1.  All intermediate
products stay well inside int64 (doc_id + seed < ~2^40 times a 32-bit
multiplier), so Spark and the DuckDB oracle compute the exact same
integers — the same trick the winnowing fingerprints use
(functions/text_quality.py WINNOW_*).

Scale notes (10^12 docs):

- ``shard_corpus``: the hash is uniform, so shards are balanced by
  construction; the only shuffle is the per-shard window sort.  At real
  scale, write with ``repartition(n_shards, shard)`` +
  ``sortWithinPartitions(h)`` and let the file order carry the training
  order instead of materializing ``shard_pos`` (the window per shard is
  a single sorted partition — fine up to ~10^8 rows/shard).
- ``mixture_sample``: rates live in a tiny per-source table broadcast
  onto the corpus — no corpus shuffle at all; the filter is a codegen
  integer compare.
- ``pack_token_stream``: cumulative sums are per shard (the unit a
  trainer reads sequentially), so the sequential dependency never
  crosses shard boundaries and shards pack in parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

M31 = 2147483647  # 2^31 - 1
_MULT1 = 2654435761  # Knuth multiplicative hash
_MULT2 = 48271  # MINSTD


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def portable_hash(col: Column, seed: int = 0) -> Column:
    """Two-round multiplicative hash of an integer column, in [0, 2^31-1).

    Exact int64 arithmetic, reproducible in any engine:
    ``h = (((x + seed) * 2654435761) % M31 * 48271) % M31``.

    Integer columns ONLY: ``cast(string AS bigint)`` yields NULL (or
    raises under ANSI mode), so non-integer ids must go through
    :func:`id_hash31`, which falls back to a seeded xxhash64.
    """
    h = ((col.cast("bigint") + F.lit(seed)) * F.lit(_MULT1)) % F.lit(M31)
    return (h * F.lit(_MULT2)) % F.lit(M31)


def id_hash31(docs: DataFrame, id_col: str, seed: int = 0) -> Column:
    """Deterministic id hash in [0, M31) for ANY id type.

    Integer ids use the oracle-portable multiplicative hash; string and
    other ids (e.g. URL doc_ids from the WARC source) use a seeded
    xxhash64 folded into the same range — not SQL-replayable, but a
    string id must never hash to NULL (under ANSI mode the cast raises
    CAST_INVALID_INPUT; without it the NULL hash silently drops every
    doc from a mixture sample or degrades a shard shuffle to one NULL
    bucket).
    """
    if docs.schema[id_col].dataType.simpleString() in _INT_TYPES:
        return portable_hash(F.col(id_col), seed)
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(M31))


def shard_corpus(docs: DataFrame, n_shards: int = 16, seed: int = 0) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` training shards.

    Returns (doc_id, shard, shard_pos): ``shard`` is uniform by the
    portable hash; ``shard_pos`` is the document's 0-based position in
    the shard's training order (hash order, doc_id tie-break — ties
    only if two docs collide in the 31-bit hash).  Reruns with the same
    seed reproduce the exact order; a new seed is a fresh epoch-level
    reshuffle.
    """
    h = id_hash31(docs, "doc_id", seed)
    out = docs.select("doc_id", (h % n_shards).alias("shard"), h.alias("h"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    out = out.withColumn("shard_pos", F.row_number().over(w) - 1)
    return out.select("doc_id", "shard", "shard_pos")


def mixture_sample(docs: DataFrame, rates: DataFrame, seed: int = 1) -> DataFrame:
    """Deterministic Bernoulli down-sampling to a target source mixture.

    ``rates`` is a tiny (source, rate) table — rate in [0, 1] is the keep
    probability for that source.  A doc is kept iff
    ``portable_hash(doc_id, seed) % 1e6 < rate * 1e6``: the decision is
    a pure function of (doc_id, seed), so reruns keep the identical
    subset and the expected kept fraction per source is the rate to
    within 1e-6 granularity.

    The rates table is broadcast (it is one row per source) — the plan
    is scan -> broadcast-join -> codegen filter, no corpus shuffle.
    Sources missing from ``rates`` are dropped (rate 0); rate >= 1
    keeps everything.
    """
    u = id_hash31(docs, "doc_id", seed) % F.lit(1_000_000)
    return (
        docs.join(F.broadcast(rates), "source", "inner")
        .where(u < (F.col("rate") * F.lit(1_000_000)).cast("bigint"))
        .drop("rate")
    )


def pack_token_stream(
    chunks: DataFrame,
    budget: int = 1024,
    order_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
) -> DataFrame:
    """GPT-style token-stream packing: concatenate all chunks of a
    shard in training order and cut every ``budget`` tokens, counting
    each chunk's ``n_tokens``.

    Each chunk is assigned the pack its *first* token lands in
    (``pack_id = floor(tokens_before / budget)``) plus its offset
    within that pack — chunks may straddle a cut point, exactly like
    document-agnostic pretraining packing; the trainer resumes the
    straddle in the next pack.  Columns out: input columns +
    (pack_id, pack_offset).

    The cumulative sum is a per-shard ROWS window: sequential within a
    shard (the unit read sequentially at train time), embarrassingly
    parallel across shards.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return chunks.withColumn(
        "pack_id", F.floor(before / budget).cast("bigint")
    ).withColumn("pack_offset", (before % budget).cast("bigint"))


# tokens one media span costs in an interleaved pack
MEDIA_TOKENS = 64


def pack_interleaved(spans: DataFrame, budget: int = 2048) -> DataFrame:
    """Interleaved multimodal sequence packing: the modern
    vision-language pretraining step where a document is an ordered
    mix of text and media spans and every training sequence is cut to
    a fixed token capacity.  ``spans`` carries ``shard``, ``kind``
    ('media' or text) and ``text``.

    Text spans cost their whitespace token count; media spans cost a
    fixed :data:`MEDIA_TOKENS` budget (the patch-token count the image
    occupies after the vision encoder — the standard accounting, since
    the raw bytes never enter the token stream).  The kind-aware cost
    column then feeds :func:`pack_token_stream`'s per-shard cumulative
    cut, so spans keep document order inside a shard and may straddle
    a cut exactly like text-only packing.

    Output: input columns + (n_tokens, pack_id, pack_offset).

    Scale shape: identical to ``pack_token_stream`` — ONE per-shard
    ROWS window (sequential within the shard, the unit read
    sequentially at train time; embarrassingly parallel across
    shards); the cost model is pure Column algebra, and media payloads
    contribute a constant, so no byte column ever rides the shuffle.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    n_text = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )
    cost = (
        F.when(F.col("kind") == "media", F.lit(MEDIA_TOKENS))
        .otherwise(n_text)
        .cast("bigint")
    )
    return pack_token_stream(
        spans.withColumn("n_tokens", cost),
        budget=budget,
        order_cols=("doc_id", "span_idx"),
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: DataFrame,
) -> DataFrame:
    """Per-source token-budget sampling: keep documents, in
    reproducible hash order, until each source's token budget is hit.

    The quota-based complement to ``mixture_sample``'s rate-based
    Bernoulli: LLM data recipes are usually stated as "X billion
    tokens of web, Y of code" — absolute token budgets per source, not
    keep-probabilities.  ``budgets`` is a tiny (source, token_budget)
    table; each doc costs its ``n_tokens``.

    A doc is kept iff the running token total of the docs *before* it
    (in portable-hash order, doc_id tie-break) is under the budget —
    so the boundary doc is included and a budget is overshot by at
    most one document, never undershot while docs remain.  The hash
    order makes the selection a pure function of doc_id: rerun-stable
    and layout-independent.

    Shuffle profile: ONE shuffle keyed by source for the per-source
    running sum.  Source cardinality is tiny but per-source volume is
    huge — the window is a single ordered pass per source, so a hot
    source costs a sort, not a collect; if one source dominates the
    corpus, pre-bucket it into sub-sources and split its budget.
    Budgets join broadcast (one row per source).
    """
    h = id_hash31(docs, "doc_id", 2)
    w = (
        Window.partitionBy("source")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.join(F.broadcast(budgets), "source", "inner")
        .withColumn("__h", h)
        .withColumn("__before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .where(F.col("__before") < F.col("token_budget"))
        .drop("__h", "__before", "token_budget")
    )


def train_val_test_split(
    docs: DataFrame,
    val_pct: int = 1,
    test_pct: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Deterministic held-out split: (doc_id, bucket, split) with split in
    {'train','val','test'}.

    The standard corpus-prep step before training: assign each document
    a stable percentile bucket by the portable hash (content-independent
    — re-crawling or re-cleaning a doc never moves it across splits,
    which would leak val/test into train between pipeline versions) and
    carve [0, val_pct) -> val, [val_pct, val_pct+test_pct) -> test,
    rest -> train.  Pure codegen integer algebra, zero shuffle — at
    100 TB this is a free column on the curation scan, never a join.
    """
    bucket = (id_hash31(docs, "doc_id", seed) % 100).alias("bucket")
    out = docs.select("doc_id", bucket)
    return out.withColumn(
        "split",
        F.when(F.col("bucket") < val_pct, F.lit("val"))
        .when(F.col("bucket") < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def temperature_mixture_rates(
    docs: DataFrame,
    alpha: float = 0.3,
    total: int = 1000,
) -> DataFrame:
    """Temperature-scaled source mixture (the mT5/XLM-R alpha-sampling
    rule): target mixture q_s ∝ p_s^alpha flattens the source
    distribution (alpha=1 keeps natural proportions, alpha=0 is
    uniform over sources), realized as per-source keep-RATES for a
    ``total``-doc budget: rate_s = min(1, total * q_s / n_s).

    Returns (source, rate) — feed straight into ``mixture_sample`` for
    the deterministic Bernoulli draw; expected kept docs ≈ total
    (exactly total·q_s per source, saturating at n_s when a rare
    source can't fill its boosted share).

    Scale shape: ONE corpus-sized count shuffle keyed by source with
    map-side partials; everything after (the p^alpha normalization)
    runs on the source-cardinality table — KBs — via broadcast
    cross-joins of its two scalar totals.
    """
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("n_total"))
    w = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w", F.pow(F.col("n") / F.col("n_total"), F.lit(alpha))
    )
    z = w.agg(F.sum("w").alias("Z"))
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("w") / F.col("Z") * F.lit(float(total)) / F.col("n"),
        ).alias("rate"),
    )


def corpus_health(
    docs: DataFrame,
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """One-row corpus health report: doc/token volume, exact-dup rate
    (fingerprint distinct), source/lang cardinality, mean length — the
    summary a curation run prints before and after each stage, over
    ``docs`` (text, n_chars, source, lang).

    ``approx=False`` (default) uses exact ``countDistinct`` — the
    oracle-checkable mode, fine up to ~10^9 docs.  ``approx=True``
    switches every cardinality to ``approx_count_distinct`` (HLL++,
    relative error ``rsd``): at 10^12 fingerprints the exact path's
    Expand-based multi-distinct shuffles each distinct column's full
    key stream, while HLL sketches merge in the partial agg — the
    report becomes one scan + KB-sized partials at any corpus size.

    Scale shape: single scan, global agg with map-side partials in
    both modes; the approx mode is what makes that TRUE at 100 TB.
    """
    from web_content_extractor_spark.functions import text_quality as tq

    fp = tq.fingerprint(F.col("text"))

    def distinct(col):
        return (
            F.approx_count_distinct(col, rsd)
            if approx
            else F.countDistinct(col)
        )

    return docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(tq.token_count(F.col("text"))).alias("total_tokens"),
        # HLL can overshoot count(*) on a fully-unique corpus; clamp
        # n_unique at n_docs (a no-op in exact mode) so the report
        # never prints n_unique > n_docs or a negative dup count, and
        # the two fields stay internally consistent
        F.least(F.count("*"), distinct(fp)).alias("n_unique"),
        F.greatest(
            F.lit(0).cast("long"),
            F.count("*") - F.least(F.count("*"), distinct(fp)),
        ).alias("n_exact_dups"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        distinct(F.col("source")).alias("n_sources"),
        distinct(F.col("lang")).alias("n_langs"),
    )
