"""Benchmark decontamination for training-data pipelines.

A training corpus must not contain evaluation-benchmark text; the
standard sweep (GPT-3 appx. C / Llama style) flags every document that
contains any benchmark snippet as a substring after light
normalization (lowercase + whitespace collapse).

``contaminated_pairs`` is the one physical strategy: the snippet
table is tiny by definition (benchmarks are MBs; the corpus is TBs), so
it is broadcast and ``contains`` runs JVM-side in a whole-stage-codegen'd
filter over a single corpus scan.  No shuffle at all; cost is
O(docs x snippets) substring searches.  This is the DuckDB-oracle-checked
path.

The reference has no decontamination (it is a single-site extractor);
this is part of the engine-added LLM-pipeline battery, built in the
same drop-don't-fail spirit as its link filters
(src/infrastructure/link_classifier.py:50-53).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_content_extractor_spark.functions.text_quality import word_ngrams_all


def _norm(text: Column) -> Column:
    """Decontamination normalization: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


# the synthetic benchmark: SNIPPET_TOKENS tokens from token
# SNIPPET_START (1-based) of each doc with doc_id % 97 == 3
SNIPPET_EVERY, SNIPPET_OFFSET = 97, 3
SNIPPET_START, SNIPPET_TOKENS = 5, 8


def benchmark_snippets(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic benchmark set: an 8-gram lifted from
    every 97th document's text (the sandbox stand-in for a real
    benchmark table; at 100 TB this is `spark.read` of the eval sets).

    Returns (snippet_id, snippet) — normalized word n-grams, so every
    source document is contaminated by construction and any other
    document repeating the same n-gram is flagged too.
    """
    toks = F.filter(
        F.split(_norm(F.col("text")), " "), lambda t: F.length(t) > 0
    )
    snippet = F.slice(toks, SNIPPET_START, SNIPPET_TOKENS)
    return (
        docs.where((F.col("doc_id") % SNIPPET_EVERY) == SNIPPET_OFFSET)
        .select(
            F.col("doc_id").alias("snippet_id"),
            F.concat_ws(" ", snippet).alias("snippet"),
            F.size(toks).alias("_n"),
        )
        .where(F.col("_n") >= SNIPPET_START + SNIPPET_TOKENS - 1)
        .drop("_n")
    )


def contaminated_pairs(docs: DataFrame, snippets: DataFrame) -> DataFrame:
    """(doc_id, snippet_id) for every document containing a snippet.

    Broadcast nested-loop join with a JVM-side ``contains`` predicate:
    one corpus scan, zero shuffles (the final distinct is keyed on the
    already-tiny hit set).
    """
    # empty snippets match nothing (contains('') would flag EVERY doc)
    snips = snippets.where(F.length("snippet") > 0)
    return (
        docs.select("doc_id", _norm(F.col("text")).alias("t"))
        .join(F.broadcast(snips), F.col("t").contains(F.col("snippet")))
        .select("doc_id", "snippet_id")
        .distinct()
    )


def contamination_report(docs: DataFrame, snippets: DataFrame) -> DataFrame:
    """Per-document contamination rollup: hit count + first snippet id
    (min) — the table a pipeline owner drops rows by."""
    pairs = contaminated_pairs(docs, snippets)
    return pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.min("snippet_id").alias("first_snippet_id"),
    )


def contamination_scores(
    docs: DataFrame,
    snippets: DataFrame,
    n: int = 8,
    tau: float = 0.01,
) -> DataFrame:
    """GPT-3-style quantitative contamination: the fraction of a
    document's (``docs.text``) DISTINCT word ``n``-grams colliding with
    any benchmark ``n``-gram (GPT-3 appx. C measures gram collisions to split dirty
    vs clean eval docs; applied corpus-side here, the quantitative
    complement of the boolean ``contaminated_pairs`` sweep).

    Returns (doc_id, n_grams, n_hit, frac, dirty) for EVERY document
    — ``frac`` is rounded to 6 places and ``dirty`` compares the
    ROUNDED value against ``tau`` so the verdict is reproducible
    across engines and partitionings.

    Scale notes (10^12 docs): the benchmark gram set is MBs by nature
    -> broadcast; the whole query is ONE pass — explode the doc grams
    once, LEFT-join the broadcast gram set as a hit marker in the same
    stage, and fold both counts into a single doc_id-keyed aggregation
    (grams of a doc are colocated with it, so the partial agg collapses
    to one row per doc before the exchange).  The n-gram shingling HOF
    is interpreted (never codegens), so it must be evaluated exactly
    once: an earlier size(gs)+explode(gs) two-branch shape re-ran it
    per branch and was 3x slower at sf0.1.
    """
    def distinct_grams(text: Column) -> Column:
        return F.array_distinct(word_ngrams_all(text, n))

    bench = (
        snippets.select(F.explode(distinct_grams(F.col("snippet"))).alias("g"))
        .where(F.length("g") > 0)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    g = docs.select(
        "doc_id", F.explode_outer(distinct_grams(F.col("text"))).alias("g")
    )
    agg = (
        g.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_grams"),  # non-null: 0 for short docs
            F.count("hit").alias("n_hit"),
        )
    )
    frac = F.round(
        F.when(
            F.col("n_grams") > 0,
            F.col("n_hit").cast("double") / F.col("n_grams"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return agg.withColumn("frac", frac).withColumn(
        "dirty", F.col("frac") >= F.lit(tau)
    )
