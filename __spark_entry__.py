"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction over sf0.001;
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data ops); ``oracle_sql()`` gives the
DuckDB-ANSI equivalent for every SQL-expressible one.

Extraction queries synthesize HTML *deterministically from the
documents table inside the query itself* (same construction on both
sides), so the Spark side exercises the REAL tokenizer/classifier/
assembly pipeline while DuckDB computes the expected output
analytically — a genuine independent oracle for the whole engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_content_extractor_spark.functions import text_quality as tq
from web_content_extractor_spark.functions.classify import classify_kind
from web_content_extractor_spark.operators import (
    asof,
    decontam,
    dedup_docs,
    keywords,
    similarity,
)
from web_content_extractor_spark.operators.assemble import explode_spans
from web_content_extractor_spark.operators.crawl import crawl
from web_content_extractor_spark.plans.pipeline import extract

# ---------------------------------------------------------------------------
# synthesized-docs construction (shared by entry + extraction queries)
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan a testdata table, fanned out to the session's parallelism.

    Each driver table is one small parquet file -> one input split,
    which would serialize every downstream operator on a single task.
    A real corpus scan provides splits by itself (many files / row
    groups); the explicit round-robin here stands in for that and is
    a no-op cost at these sizes (<100 MB).
    """
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _read_pushdown(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan WITHOUT the parallelism fan-out — for tiny collected sides
    (ANN query batches) where a filter must reach the parquet scan.
    Filtering a `_read` frame runs scan -> full repartition shuffle ->
    filter: a 10k-row exchange to fetch 5 rows, one whole extra job
    per ANN query in the bench."""
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _synth_docs(documents: DataFrame) -> DataFrame:
    """(doc_id=base_url, spans=[html span]) built from the documents table.

    Per source doc: one skipped javascript link, one relative PDF link,
    one youtu.be link, one plain link carrying the first 20 chars of the
    doc text, and one iframe.ly iframe — exercising T1-T7, F1-F2 and
    the full golden classifier path.
    """
    d = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/d"),
        d,
        F.lit(".html"),
    )
    t20 = F.trim(F.substring(F.col("text"), 1, 20))
    html = F.concat(
        F.lit('<html><body><a href="javascript:void(0)">skip</a>'),
        F.lit('<a href="/files/doc'), d, F.lit('.pdf">Report '), d, F.lit("</a>"),
        F.lit('<a href="https://youtu.be/v'), d, F.lit('">Clip '), d, F.lit("</a>"),
        F.lit('<a href="https://pages.example.com/p'), d, F.lit('">'), t20,
        F.lit("</a>"),
        F.lit('<iframe src="https://cdn.iframe.ly/f'), d, F.lit('"></iframe>'),
        F.lit("</body></html>"),
    )
    return documents.select(
        base.alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


_SYNTH_ORACLE_CTE = """
WITH d AS (
  SELECT doc_id,
         'https://host' || (doc_id % 7) || '.example.org/d' || doc_id || '.html' AS base,
         trim(substr(text, 1, 20)) AS t20
  FROM documents
), links AS (
  SELECT base, 0 AS pos, 'pdf' AS kind, 'Report ' || doc_id AS text,
         'https://host' || (doc_id % 7) || '.example.org/files/doc' || doc_id || '.pdf' AS media_ref
  FROM d
  UNION ALL
  SELECT base, 1, 'youtube', 'Clip ' || doc_id, 'https://youtu.be/v' || doc_id FROM d
  UNION ALL
  SELECT base, 2,
         CASE WHEN lower(t20) LIKE '%watch%' THEN 'youtube' ELSE 'other' END,
         t20, 'https://pages.example.com/p' || doc_id
  FROM d
  UNION ALL
  SELECT base, 3, 'youtube', 'Embedded Video Content',
         'https://cdn.iframe.ly/f' || doc_id
  FROM d
)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over sf0.001-derived docs."""
    docs = _synth_docs(_read(spark, "/root/testdata/sf0.001", "documents"))
    return explode_spans(extract(docs))


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    return explode_spans(extract(docs)).select(
        "doc_id", "kind", "text", "media_ref", F.col("offset").cast("int").alias("offset")
    )


def q_rebalance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-balanced extraction is output-identical to plain
    extraction BY CONTRACT (operators/rebalance.py moves the physical
    layout, never rows): same span table as extract_spans, produced
    through the weighted-sample boundary job + bucket-interleave +
    range exchange.  Shares extract_spans' DuckDB oracle, so the
    layout operator is driver-certified end to end through the
    flagship path."""
    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    return explode_spans(
        extract(docs, balance="bytes", partitions=32)
    ).select(
        "doc_id", "kind", "text", "media_ref",
        F.col("offset").cast("int").alias("offset"),
    )


def q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    ex = extract(docs, with_stats=True)
    return ex.select(
        "doc_id",
        F.size("spans").cast("bigint").alias("total_links"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("pdf")))
        .cast("bigint")
        .alias("pdf_count"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("youtube")))
        .cast("bigint")
        .alias("youtube_count"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("other")))
        .cast("bigint")
        .alias("other_count"),
        F.col("parse_failures").cast("bigint").alias("parse_failures"),
    )


def q_classifier_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden classifier as a pure Column battery over synthesized URLs."""
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.trim(F.substring("text", 1, 12)).alias("txt")
    )
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("https://e.com/f"), sid, F.lit(".pdf")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("https://e.com/f"), sid, F.lit(".PDF?dl=1")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("https://youtube.com/watch?v="), sid))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("https://iframe.ly/api?url=https%3A%2F%2Fyoutu.be%2F"), sid))
        .otherwise(F.concat(F.lit("https://pages.e.com/p"), sid))
    )
    text = F.when(F.col("doc_id") % 7 == 0, F.lit("watch this")).otherwise(F.col("txt"))
    return d.select(
        "doc_id",
        url.alias("url"),
        text.alias("text"),
        classify_kind(url, text, "context").alias("kind"),
    )


def q_url_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4-F8 projections via parse_url over synthesized URLs."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://www.h"), (F.col("doc_id") % 5).cast("string"),
                     F.lit(".example.com/files/a"), sid, F.lit(".pdf")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("http://h"), (F.col("doc_id") % 5).cast("string"),
                     F.lit(".example.org/p"), sid),
        )
        .otherwise(
            F.concat(F.lit("https://media.example.net/x/y/z"), sid, F.lit(".tar.gz"))
        )
    )
    host = F.try_parse_url(url, F.lit("HOST"))
    path = F.try_parse_url(url, F.lit("PATH"))
    trimmed = F.regexp_replace(path, r"^/+|/+$", "")
    return d.select(
        "doc_id",
        url.alias("url"),
        F.regexp_replace(host, r"^www\.", "").alias("domain"),
        F.nullif(F.regexp_extract(F.lower(path), r"\.([^./]+)$", 1), F.lit("")).alias(
            "file_ext"
        ),
        F.when(F.length(trimmed) == 0, 0)
        .otherwise(F.size(F.split(trimmed, "/")))
        .cast("int")
        .alias("url_depth"),
        url.startswith("https://").alias("is_secure"),
    )


def q_crawl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl a synthesized 4-page chain (rows-only check: iterative op)."""
    d = _read(spark, sf_dir, "documents").where("doc_id < 4").select("doc_id")
    sid = F.col("doc_id").cast("string")
    nxt = (F.col("doc_id") + 1).cast("string")
    html = F.concat(
        F.lit('<a href="/doc'), nxt, F.lit('.html">lesson next</a>'),
        F.lit('<a href="/file'), sid, F.lit('.pdf">PDF</a>'),
    )
    docs = d.select(
        F.concat(F.lit("https://chain.example.org/doc"), sid, F.lit(".html")).alias(
            "doc_id"
        ),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    res = crawl(
        spark,
        docs,
        "https://chain.example.org/doc0.html",
        max_pages=3,
        cache_corpus=True,  # testdata-scale corpus: probe the cache per round
    )
    return res.select(
        "source_url", "total_links", "pdf_count", "youtube_count", "other_count"
    )


def q_youtube_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9/D7: sorted unique YouTube URLs from the real extraction path."""
    from web_content_extractor_spark.sinks.formatters import youtube_manifest

    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    return youtube_manifest(extract(docs))


def q_pdf_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8-prep/D6: first-wins unique PDF manifest from extraction."""
    from web_content_extractor_spark.sinks.formatters import pdf_manifest

    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    return pdf_manifest(extract(docs))


def _synth_error_docs(documents: DataFrame) -> DataFrame:
    """Docs with two deterministic failure modes per source row:
    an invalid resolved URL (bare ``http://``) and an empty link text
    (whitespace-only download attr), plus one good link."""
    d = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/d"),
        d,
        F.lit(".html"),
    )
    html = F.concat(
        F.lit('<html><body><a href="http://">Broken</a>'),
        F.lit('<a href="https://ok.example.com/x'), d,
        F.lit('" download=" ">D</a>'),
        F.lit('<a href="https://ok.example.com/g'), d, F.lit('">Good '), d,
        F.lit("</a></body></html>"),
    )
    return documents.select(
        base.alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def q_extract_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc errors table: (stage, reason, target) per dropped
    candidate, with deterministic correlation ids (exceptions.py:46-67
    analog, drop-not-fail preserved)."""
    from web_content_extractor_spark.operators.errors import doc_errors
    from web_content_extractor_spark.plans.pipeline import tokenize

    docs = _synth_error_docs(_read(spark, sf_dir, "documents"))
    return doc_errors(tokenize(docs), run_id="r2errors").select(
        "doc_id", "stage", "reason", "target", "err_idx", "correlation_id"
    )


def q_url_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 blob-trigger parity: JSON URL list (mixed string / {url:…}
    forms) -> broadcast semi-join work list -> per-URL counts (the
    blob output's result_data fields)."""
    import json

    from web_content_extractor_spark.sources.urls import parse_url_items, url_batch

    # deterministic cap: the work list is driver-side by contract, but
    # its size must not scale with the corpus — take the 500 smallest
    # eligible doc_ids (TakeOrdered, no full collect)
    ids = sorted(
        r.doc_id
        for r in _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 3 == 0)
        .orderBy("doc_id")
        .limit(500)
        .collect()
    )
    # the URL list is a trigger INPUT (driver-side by contract —
    # the reference reads the whole blob into memory); the corpus
    # side below is never collected
    items: list = []
    for i, did in enumerate(ids):
        u = f"https://host{did % 7}.example.org/d{did}.html"
        items.append(u if i % 2 == 0 else {"url": u})
    urls = parse_url_items(json.dumps(items))
    wl = spark.createDataFrame([(u,) for u in urls], "doc_id string")
    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    ex = explode_spans(extract(url_batch(docs, wl)))
    return ex.groupBy("doc_id").agg(
        F.count("*").alias("total_links"),
        F.count(F.when(F.col("kind") == "pdf", 1)).alias("pdf_count"),
        F.count(F.when(F.col("kind") == "youtube", 1)).alias("youtube_count"),
        F.count(F.when(F.col("kind") == "other", 1)).alias("other_count"),
    )


def q_group_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-domain rollup of extracted links (www-stripped host)."""
    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    ex = explode_spans(extract(docs))
    domain = F.regexp_replace(
        F.try_parse_url("media_ref", F.lit("HOST")), r"^www\.", ""
    )
    return ex.groupBy(domain.alias("domain")).agg(
        F.count("*").alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def q_video_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: 11-char YouTube id extraction over synthesized URL variants."""
    from web_content_extractor_spark.functions.video import video_id

    d = _read(spark, sf_dir, "documents").select("doc_id")
    sid = F.lpad(F.col("doc_id").cast("string"), 11, "A")
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("https://www.youtube.com/watch?v="), sid))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("https://youtube.com/embed/"), sid))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("https://youtu.be/"), sid))
        .otherwise(F.concat(F.lit("https://example.com/page.x"),
                            F.col("doc_id").cast("string")))
    )
    # the negative arm carries a "." in its path segment so no 11-char
    # [0-9A-Za-z_-] run after a "/" can ever form, at ANY doc_id width
    return d.select("doc_id", url.alias("url"), video_id(url).alias("vid"))


def q_doc_link_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4/A5: per-doc distribution pct, content-rich, quality score."""
    from web_content_extractor_spark.operators.metrics import doc_metrics

    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    m = doc_metrics(extract(docs, with_stats=True))
    return m.select(
        "doc_id",
        F.col("total_links").cast("bigint").alias("total_links"),
        F.col("pdf_count").cast("bigint").alias("pdf_count"),
        "pdf_pct",
        "youtube_pct",
        "other_pct",
        "is_content_rich",
        "quality_score",
    )


def q_classifier_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-parity Regex classifier variant (link_classifier.py:15-72).

    Differential vs the golden ContextAware rules: no iframe.ly
    unwrap, broader PDF text heuristics.  Deterministic synthesized
    texts so the oracle CASE mirrors the regex battery exactly.
    """
    d = _read(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("https://e.com/f"), sid, F.lit(".pdf")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("https://e.com/f"), sid, F.lit(".PDF?dl=1")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("https://youtube.com/watch?v="), sid))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("https://iframe.ly/api?url=https%3A%2F%2Fyoutu.be%2F"), sid))
        .otherwise(F.concat(F.lit("https://pages.e.com/p"), sid))
    )
    text = F.when(F.col("doc_id") % 7 == 0, F.lit("watch this")).otherwise(
        F.concat(F.lit("t"), sid)
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        text.alias("text"),
        classify_kind(url, text, "regex").alias("kind"),
    )


def q_nav_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/D3: same-host navigation discovery, downloads excluded."""
    from web_content_extractor_spark.operators.crawl import navigation_links
    from web_content_extractor_spark.plans.pipeline import tokenize

    d = _read(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<a href="/page'), sid, F.lit('.html">next</a>'),
        F.lit('<a href="/files/f'), sid, F.lit('.pdf">dl</a>'),
        F.lit('<a href="https://other.example.net/x'), sid, F.lit('">ext</a>'),
        F.lit('<a href="/about">about</a>'),
    )
    docs = d.select(
        F.concat(F.lit("https://nav"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example.org/idx"), sid, F.lit(".html")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return navigation_links(tokenize(docs)).select(
        "doc_id", "nav_url", F.col("pos").cast("int").alias("pos")
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, hash-certified end-to-end
    (graduated from rows-only in round 5): the LSH candidate set is
    approximate, but its closed-form oracle twin recomputes the same
    bucket keys and cosines, so the rows hash-compare exactly.

    The synthetic embeddings are near-orthogonal (max pairwise cosine
    ~0.51), so near-dups are planted: vec_id < 20 get a slightly
    perturbed twin at vec_id + 100000 (cosine ~1).  The LSH self-join
    must surface those pairs.
    """
    emb = _read(spark, sf_dir, "embeddings")
    twins = emb.where("vec_id < 20").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * 1.001 + (i % 3) * F.lit(1e-4)
        ).alias("embedding"),
    )
    pairs = similarity.embedding_near_duplicates(
        emb.select("vec_id", "embedding").unionByName(twins), min_cos=0.95
    )
    return pairs.select("id_a", "id_b", "cos_sim")


def _synth_content_docs(documents: DataFrame) -> DataFrame:
    """Docs with prose + boilerplate blocks for content extraction."""
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), d, F.lit("</title></head><body>"),
        F.lit("<h1>Title "), d, F.lit("</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<ul><li><a href="/f0.pdf">download one</a></li>'),
        F.lit('<li><a href="/f1.pdf">download two</a></li></ul>'),
        F.lit("<h2>More</h2><p>short text</p>"),
        F.lit("</body></html>"),
    )
    return documents.select(
        F.concat(F.lit("https://content.example.org/d"), d).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def q_content_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: boilerpipe-style heading/paragraph extraction."""
    from web_content_extractor_spark.operators.content import extract_content

    docs = _synth_content_docs(_read(spark, sf_dir, "documents"))
    return extract_content(docs).select("doc_id", F.inline("spans")).select(
        "doc_id", "kind", "text", F.col("offset").cast("int").alias("offset")
    )


def q_per_host_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/north-rule: salted two-phase per-host rollup of extracted links."""
    from web_content_extractor_spark.operators.skew import per_host_link_stats

    docs = _synth_docs(_read(spark, sf_dir, "documents"))
    return per_host_link_stats(explode_spans(extract(docs)))


def q_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star PDF/layout branch: media spans -> layout blocks."""
    from web_content_extractor_spark.operators.multimodal import parse_pdf_layout

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("pdf").alias("media_type"),
        F.lit("application/pdf").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.length("text").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )
    return parse_pdf_layout(media).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "page", "block_idx", "kind", "text",
    )


def q_content_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star metrics: blocks kept/dropped per document."""
    from web_content_extractor_spark.operators.content import content_stats

    docs = _synth_content_docs(_read(spark, sf_dir, "documents"))
    return content_stats(docs)


# --- relational battery (SURVEY §2.5-§2.7) --------------------------------


def q_agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
    )


def q_link_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # single scan: denominator via an unpartitioned window over the
    # (tiny) aggregated frame — no separate count() job, orders read once
    o = _read(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return per.select(
        "o_orderpriority",
        "n",
        F.round(F.col("n") * 100.0 / total, 1).alias("pct"),
    )


def q_quality_score_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 analog over orders: capped linear score per customer."""
    o = _read(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
    )
    return per.select(
        "o_custkey",
        F.least(
            F.lit(100.0),
            F.least(F.col("n_orders") * 5, F.lit(50)).cast("double")
            + F.col("n_prio") * 5.0
            + F.col("n_urgent") * 10.0,
        ).alias("quality_score"),
    )


def q_group_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim star join: revenue per nation."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    return rev


def q_priority_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 analog: keyword rows first, stable by doc_id; top 50."""
    d = _read(spark, sf_dir, "documents")
    pri = F.when(F.col("text").rlike("(?i)(spark|stream)"), 0).otherwise(1)
    return (
        d.select("doc_id", pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(50)
    )


def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 analog: earliest event per user (first-wins dedup)."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id", "event_type")
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-ordering window analog: first 3 events per user."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
        .select("user_id", "event_id", F.col("rn").cast("int").alias("rn"))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user (lag + cumsum)."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = e.withColumn("new_sess", F.coalesce(gap, F.lit(0))).withColumn(
        "session_id", F.sum("new_sess").over(w)
    )
    return sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --- dedup / text / similarity over documents + embeddings -----------------


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 event-time tumbling window agg (streaming module plan,
    exercised in batch mode over the events table)."""
    from web_content_extractor_spark.streaming.incremental import (
        windowed_span_counts,
    )

    e = _read(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type").alias("kind"),
    )
    return windowed_span_counts(e).select(
        "window_start", "kind", "n_spans"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_docs.exact_duplicates(_read(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_docs.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), min_jaccard=0.8
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tq.token_count(F.col("text")).cast("int").alias("n_tokens"),
        tq.subword_count(F.col("text")).cast("int").alias("n_subwords"),
        tq.fingerprint(F.col("text")).alias("fp"),
    )


def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", tq.detect_lang(F.col("text")).alias("lang_guess"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", tq.quality_score(F.col("text")).alias("q"))


def q_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation (RefinedWeb-style): per-domain quality
    rollup + keep verdict, joined back onto every document so both
    verdict arms are oracle-checked.  Domains are synthesized
    deterministically (doc_id % 37) — the operator itself takes any
    domain column (e.g. the registered domain of a crawl URL).

    Plan: one domain-keyed shuffle with partial aggs for the 37-row
    stats table, then a broadcast join back onto the corpus — the
    dropped set is never corpus-sized (operators/domains.py scale
    notes)."""
    from web_content_extractor_spark.operators.domains import domain_stats

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("host"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.org"),
        ).alias("domain"),
        tq.quality_score(F.col("text")).alias("q"),
    )
    stats = domain_stats(d, min_docs=10, min_mean_quality=33.5)
    return d.join(F.broadcast(stats), "domain").select(
        "doc_id", "domain", "q", "n_docs", "mean_q", "low_frac",
        "keep_domain",
    )


def q_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style filter battery: per-doc signals + keep/drop
    verdict (pure Column algebra, no UDF)."""
    d = _read(spark, sf_dir, "documents")
    s = tq.quality_signals(F.col("text"))
    return d.select(
        "doc_id",
        s["n_words"].cast("int").alias("n_words"),
        F.round(s["mean_word_len"], 6).alias("mean_word_len"),
        F.round(s["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        s["has_lorem"].alias("has_lorem"),
        s["has_brace"].alias("has_brace"),
        tq.quality_filter(F.col("text")).alias("keep"),
    )


def q_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: per-type hourly event counts on a dense
    zero-filled grid (analytic spine, one shuffle on (key, bin))."""
    from web_content_extractor_spark.operators.timeseries import (
        resample_counts,
    )

    return resample_counts(_read(spark, sf_dir, "events"))


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing moving average over the gap-filled hourly series (4-bin
    ROWS frame per key) — the rate/trend layer on top of resample;
    zero-filled gaps make the frame arithmetic well-defined."""
    from web_content_extractor_spark.operators.timeseries import (
        resample_counts,
    )

    from pyspark.sql import Window

    series = resample_counts(_read(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin_ts")
        .rowsBetween(-3, Window.currentRow)
    )
    return series.select(
        "event_type",
        "bin_ts",
        "n",
        F.round(F.avg("n").over(w), 6).alias("ma4"),
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events.props JSON column
    (from_json with an explicit schema — Catalyst prunes the parse to
    the referenced field) and aggregate the extracted property."""
    ev = _read(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP pivot: documents per (source, lang) with langs as columns
    (explicit value list keeps the output schema deterministic)."""
    d = _read(spark, sf_dir, "documents")
    langs = ["en", "es", "de", "fr"]
    return (
        d.groupBy("source")
        .pivot("lang", langs)
        .count()
        .select(
            "source",
            *[F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}") for c in langs],
        )
    )


def q_unpivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-lang pivot back to long form —
    the standard wide->long reshape for downstream modeling."""
    wide = q_pivot_counts(spark, sf_dir)
    return wide.unpivot(
        "source",
        ["n_en", "n_es", "n_de", "n_fr"],
        "lang_col",
        "n_docs",
    ).select(
        "source",
        F.regexp_replace("lang_col", "^n_", "").alias("lang"),
        "n_docs",
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (linear interpolation) — the
    verification metric for the approx_percentile sketch path
    (tests/test_quality_enrich.py pins the sketch within rel. error).
    Exact percentile buffers each group's values; at corpus scale the
    sketch (t-digest style, mergeable partial aggs) is the plan."""
    ev = _read(spark, sf_dir, "events")
    p = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit([0.25, 0.5, 0.75])).alias("p")
    )
    return p.select(
        "event_type",
        F.round(F.col("p")[0], 6).alias("p25"),
        F.round(F.col("p")[1], 6).alias("p50"),
        F.round(F.col("p")[2], 6).alias("p75"),
    )


def q_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality filter AND not-exact-duplicate
    AND not-benchmark-contaminated -> per-doc selection manifest.  The
    composition every training-data pipeline ships; each leg is the
    already-oracled operator, composed as plain DataFrame joins (the
    contaminated set is a broadcast-sized left join)."""
    from web_content_extractor_spark.plans.curation import curation_manifest

    return curation_manifest(_read(spark, sf_dir, "documents"))


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-word fraction (per-row
    Column algebra) + top-bigram occupancy (explode -> two-level agg
    with map-side partials — one balanced shuffle on (doc_id, gram))."""
    d = _read(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id", F.round(tq.dup_word_fraction(F.col("text")), 6).alias("dup_word_frac")
    )
    grams = d.select(
        "doc_id", F.explode(tq.word_ngrams_all(F.col("text"), 2)).alias("g")
    )
    top = (
        grams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
                "top_bigram_frac"
            ),
        )
    )
    return per_doc.join(top, "doc_id", "left").select(
        "doc_id",
        "dup_word_frac",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style boilerplate-line removal: lines whose normalized
    form appears in >= 5 distinct docs (shared headers/footers) are
    stripped corpus-wide, per-doc line order preserved.  Multi-line text
    is synthesized from the documents table (same construction in the
    oracle): a per-source cookie banner, two content lines, a per-lang
    copyright footer."""
    from web_content_extractor_spark.operators.lines import dedup_lines

    d = _read(spark, sf_dir, "documents")
    multi = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("COOKIE NOTICE "), F.col("source")),
            F.substring("text", 1, 60),
            F.substring("text", 61, 60),
            F.concat(F.lit("copyright "), F.col("lang")),
        ).alias("text"),
    )
    return dedup_lines(multi, min_df=5)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget chunking with overlap (chunk 32, overlap 8):
    the standard pretraining-corpus windowing step.  Pure Column
    algebra — sequence/explode/slice, narrow plan, no shuffle."""
    from web_content_extractor_spark.operators.lines import chunk_documents

    d = _read(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=32, overlap=8)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: mask emails/phones/IPv4s with <KIND> tokens and count
    matches per kind (chained native regexp_replace — codegen, no
    Python).  PII is synthesized deterministically from doc_id (same
    construction in the oracle)."""
    d = _read(spark, sf_dir, "documents")
    wired = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1415555"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    counts = tq.pii_counts(F.col("text"))
    return wired.select(
        "doc_id",
        tq.redact_pii(F.col("text")).alias("redacted"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
    )


def q_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard shuffle: uniform shard assignment +
    reproducible within-shard order from a portable two-round int64
    hash (exact same math in the SQL oracle)."""
    from web_content_extractor_spark.operators.corpus import shard_corpus

    d = _read(spark, sf_dir, "documents")
    return shard_corpus(d, n_shards=8, seed=42)


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: stable hash-percentile
    buckets (content-independent — docs never migrate across splits
    between pipeline versions).  Zero shuffle: a free codegen column
    on the curation scan."""
    from web_content_extractor_spark.operators.corpus import (
        train_val_test_split,
    )

    d = _read(spark, sf_dir, "documents")
    return train_val_test_split(d, val_pct=2, test_pct=3, seed=7)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli mixture re-weighting: per-source keep
    rates (src{i} -> ((i % 4) + 1) / 4) broadcast onto the corpus; the
    keep decision is a pure function of (doc_id, seed)."""
    from web_content_extractor_spark.operators.corpus import mixture_sample

    d = _read(spark, sf_dir, "documents")
    rates = (
        d.select("source")
        .distinct()
        .withColumn(
            "rate",
            (
                (
                    F.regexp_extract("source", r"(\d+)$", 1).cast("bigint")
                    % 4
                )
                + 1
            )
            / F.lit(4.0),
        )
    )
    return mixture_sample(d, rates, seed=1).select("doc_id", "source")


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream packing of overlapping chunks into 64-token training
    packs, per shard in shard order — the chunk -> shard -> pack
    composition of the corpus-assembly tail."""
    from web_content_extractor_spark.operators.corpus import (
        pack_token_stream,
        shard_corpus,
    )
    from web_content_extractor_spark.operators.lines import chunk_documents

    d = _read(spark, sf_dir, "documents")
    chunks = chunk_documents(d, chunk_size=32, overlap=8).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    shards = shard_corpus(d, n_shards=8, seed=7)
    packed = pack_token_stream(
        chunks.join(shards, "doc_id"),
        budget=64,
        order_cols=("shard_pos", "chunk_id"),
    )
    return packed.select(
        "doc_id", "chunk_id", "shard", "pack_id", "pack_offset"
    )


def q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved multimodal sequence packing: documents become
    ordered text+media span streams (closed-form synthesis: a 100-char
    head text span, a media span for every 3rd doc, a tail text span
    when text runs past 100 chars), media spans cost a fixed 64
    patch-token budget, text spans their whitespace token count, and
    the stream is cut into 256-token training sequences per shard.
    The oracle replays the same synthesis + cost model + cumulative
    cut in SQL, so the kind-aware accounting and the straddle
    semantics are both gate-checked."""
    from web_content_extractor_spark.operators.corpus import (
        pack_interleaved,
    )

    d = _read(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    head = d.select(
        "doc_id",
        F.lit(0).alias("span_idx"),
        F.lit("text").alias("kind"),
        F.substring(t, 1, 100).alias("text"),
    )
    media = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.lit(1).alias("span_idx"),
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
    )
    tail = d.where(F.length(t) > 100).select(
        "doc_id",
        F.lit(2).alias("span_idx"),
        F.lit("text").alias("kind"),
        F.substring(t, 101, 1000000).alias("text"),
    )
    spans = (
        head.unionByName(media)
        .unionByName(tail)
        .withColumn("shard", (F.col("doc_id") % 8).cast("int"))
    )
    return pack_interleaved(spans, budget=256).select(
        "doc_id", "span_idx", "kind", "shard",
        "n_tokens", "pack_id", "pack_offset",
    )


# constant 44-byte RIFF/WAVE header: PCM16 mono 8 kHz, 64 data bytes
# (32 samples) — so payloads are buildable in pure Column algebra and
# the oracle can recompute the samples from md5 hex math.
_WAV_HDR_HEX = (
    "524946466400000057415645666d7420100000000100"
    "0100401f0000803e0000020010006461746140000000"
)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio branch with a REAL decode path oracle-checked end to end:
    payloads are genuine PCM16 WAV files (constant header + md5-derived
    sample bytes built natively), parsed by the chunk-walking stdlib
    decoder in operators/multimodal.py; the oracle recomputes rms/zcr
    from the same md5 bytes in closed form."""
    from web_content_extractor_spark.operators.multimodal import (
        extract_audio_features,
    )

    d = _read(spark, sf_dir, "documents")
    m = F.md5(F.encode("text", "UTF-8"))
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("audio").alias("media_type"),
        F.lit("audio/wav").alias("mime"),
        F.concat(
            F.unhex(F.lit(_WAV_HDR_HEX)), F.unhex(F.concat(m, m, m, m))
        ).alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(4).alias("duration_ms"),
            F.lit(108).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )
    out = extract_audio_features(media)
    return out.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "decoded",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_ms",
        F.round("rms", 6).alias("rms"),
        "zcr",
    )


def q_dup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans (Lee et al. ACL 2022 style):
    maximal per-doc token spans whose every 8-token gram occurs >= 2
    times corpus-wide.  One uniform gram-key shuffle (window count, no
    join-back); string keys here so DuckDB can express the same thing
    — the hash_keys=True scale path is equivalence-pinned in tests."""
    from web_content_extractor_spark.operators.substrings import (
        duplicate_spans,
    )

    d = _read(spark, sf_dir, "documents")
    return duplicate_spans(d, k=8, hash_keys=False)


def q_dup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token coverage from the maximal spans —
    the curation signal form (every doc reported, zero-span docs at
    0.0).  Runs the hash-keyed scale path; the oracle recomputes from
    exact gram strings, so the hash/string equivalence is itself
    oracle-checked here."""
    from web_content_extractor_spark.operators.substrings import (
        substring_dup_stats,
    )

    d = _read(spark, sf_dir, "documents")
    s = substring_dup_stats(d)
    return s.select(
        "doc_id", "n_tokens", "dup_tokens",
        F.round("dup_fraction", 6).alias("dup_fraction"),
    )


def q_dup_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring REMOVAL (the Lee et al. transform, not
    just the detector): cut every maximal duplicated span out of each
    document, emit the cleaned text plus removal accounting for every
    doc.  Runs the hash-keyed scale path; the oracle recomputes the
    spans from exact gram strings and rebuilds the cleaned text with a
    positional anti-join, so both the hash/string equivalence and the
    cut itself are oracle-checked."""
    from web_content_extractor_spark.operators.substrings import (
        remove_duplicate_spans,
    )

    d = _read(spark, sf_dir, "documents")
    return remove_duplicate_spans(d, k=8)


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native dynamic-gap sessionization (F.session_window, the
    streaming-capable operator) checked against the first-principles
    lag/cumsum islands construction in the oracle — complements
    q_sessionize, which builds the same sessions by hand."""
    e = _read(spark, sf_dir, "events")
    return (
        e.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 with cumulative token coverage (the
    tokenizer-prep curve); global TakeOrdered cut, grand-total window
    instead of a second scan."""
    from web_content_extractor_spark.operators.keywords import vocab_topk

    d = _read(spark, sf_dir, "documents")
    return vocab_topk(d, v=100)


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step: corpus-weighted adjacent char-pair counts.
    Pairs enumerate over the distinct word vocabulary (weighted by word
    frequency) — the corpus-sized shuffle is the word groupBy only."""
    from web_content_extractor_spark.operators.keywords import bpe_pair_counts

    d = _read(spark, sf_dir, "documents")
    return bpe_pair_counts(d, top=200)


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over (l_partkey, l_suppkey) — the clustering key
    the z-ordered writer lays files out by.  Pure shift/mask/or Column
    algebra (codegen); the DuckDB oracle runs the literal same
    bit-spreading sequence."""
    from web_content_extractor_spark.sinks.zorder import interleave_bits

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 65536).alias("x"),
        (F.col("l_suppkey") % 65536).alias("y"),
    )
    return li.withColumn("zval", interleave_bits(F.col("x"), F.col("y")))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tokenizer cycle: train 40 BPE merges on the corpus (the
    distributed word-freq table feeds a driver-side Sennrich merge
    loop — iterative, hence rows-only by design), then encode every
    document distributed (merge ranks broadcast, per-batch word cache).
    The first learned merge is anchored to the DuckDB-oracled
    `bpe_pairs` query in tests/test_bpe.py."""
    from web_content_extractor_spark.operators.bpe import (
        encode_with_merges,
        train_bpe,
    )

    d = _read(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=40)
    return encode_with_merges(d, merges)


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality proxy: per-doc mean negative
    log-prob under the corpus' own unigram distribution (low = fluent-
    common tokens, high = rare-token soup)."""
    from web_content_extractor_spark.operators.keywords import (
        unigram_logprob_scores,
    )

    d = _read(spark, sf_dir, "documents")
    return unigram_logprob_scores(d)


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality proxy: per-doc mean negative conditional
    log-prob under the corpus' own bigram statistics (one order up
    from q_unigram_nll — the sharper CCNet-style fluency signal)."""
    from web_content_extractor_spark.operators.keywords import (
        bigram_logprob_scores,
    )

    d = _read(spark, sf_dir, "documents")
    return bigram_logprob_scores(d)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: tercile-bucket every doc by its unigram
    NLL (q_unigram_nll's score) — the classic perplexity-based corpus
    split.  ntile(3) over (rounded nll, doc_id) is exact and
    deterministic here; at corpus scale you swap the global sort for
    approx_percentile cutoffs broadcast as two literals (the sketch's
    accuracy contract is pinned in tests/test_contract.py)."""
    from pyspark.sql import Window

    from web_content_extractor_spark.operators.keywords import (
        unigram_logprob_scores,
    )

    d = _read(spark, sf_dir, "documents")
    s = unigram_logprob_scores(d).where(F.col("nll").isNotNull())
    w = Window.orderBy("nll", "doc_id")
    t = F.ntile(3).over(w)
    return s.select(
        "doc_id",
        "nll",
        F.when(t == 1, "head").when(t == 2, "middle").otherwise("tail")
        .alias("bucket"),
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling (quota form of the mixture:
    "X tokens of source A") in reproducible portable-hash order —
    boundary doc included, so budgets overshoot by at most one doc.
    Budgets synthesized per source from its trailing digits."""
    from web_content_extractor_spark.operators.corpus import (
        token_budget_sample,
    )

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", tq.token_count(F.col("text")).alias("n_tokens")
    )
    budgets = d.select("source").distinct().select(
        "source",
        (
            (
                (F.regexp_extract("source", r"(\d+)$", 1).cast("bigint") % 3)
                + 1
            )
            * 200
        ).alias("token_budget"),
    )
    return token_budget_sample(d, budgets).select(
        "doc_id", "source", "n_tokens"
    )


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source round-trip: build spec-shaped WARC blobs natively
    from the docs table (16 bounded archive files' worth, records in
    doc order), parse them back with the Arrow-batched record walker,
    and return (doc_id, text) — the oracle is the documents table
    itself, so header framing, Content-Length octet math, and the
    record walk are all hash-checked."""
    from web_content_extractor_spark.sources.warc import (
        parse_warc_records,
        warc_blob_per_group,
    )

    d = _read(spark, sf_dir, "documents")
    uri = F.concat(
        F.lit("https://example.com/doc/"), F.col("doc_id").cast("string")
    )
    blobs = warc_blob_per_group(
        d, uri, F.col("text"), (F.col("doc_id") % 16)
    )
    parsed = parse_warc_records(blobs)
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.decode("payload", "UTF-8").alias("text"),
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source semantics, hash-checked end to end: serialize the
    documents table to JSON lines natively (to_json — string escaping
    included), TEAR every 97th line mid-string (simulating truncated
    shard tails), parse back with the corrupt-column drop-not-fail
    path (sources/jsonl.py parse_jsonl_lines), and return the
    surviving (doc_id, text).  The oracle is the documents table minus
    the torn ids, so JSON string escaping (quotes, backslashes,
    newlines, unicode) must round-trip exactly and torn lines must
    drop, never fail or ghost through as null rows."""
    from web_content_extractor_spark.sources.jsonl import (
        parse_jsonl_lines,
    )

    d = _read(spark, sf_dir, "documents")
    line = F.to_json(F.struct(F.col("doc_id"), F.col("text")))
    torn = F.when(
        F.col("doc_id") % 97 == 0,
        F.substring(line, 1, 12),  # cut inside the JSON string
    ).otherwise(line)
    lines = d.select(torn.alias("line"))
    return parse_jsonl_lines(lines, "line", "doc_id long, text string")


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing into (host, path_prefix) disallow rules for
    ua='*' — spec group semantics (consecutive User-agent lines = one
    group, any-match) computed with native lag/cumsum/max windows.
    Bodies are synthesized per host to exercise: a non-matching
    googlebot group, a '*' group extended by a second agent line
    (hid%3==0), an alternating extra Disallow vs Allow line, an empty
    Disallow (allow-all, dropped), and a Crawl-delay line."""
    from web_content_extractor_spark.operators.crawl import robots_rules

    d = _read(spark, sf_dir, "documents")
    hid = d.select((F.col("doc_id") % 50).alias("hid")).distinct()
    nl = F.lit("\n")
    body = F.concat(
        F.lit("# synthetic robots\n"),
        F.lit("User-agent: googlebot\nDisallow: /private"),
        F.col("hid").cast("string"), nl, nl,
        F.lit("User-agent: *\n"),
        F.when(F.col("hid") % 3 == 0, F.lit("User-agent: extra\n"))
        .otherwise(F.lit("")),
        F.lit("Disallow: /tmp"), F.col("hid").cast("string"), nl,
        F.when(F.col("hid") % 2 == 0, F.lit("Disallow: /cgi\n"))
        .otherwise(F.lit("Allow: /pub\n")),
        F.lit("Disallow:\nCrawl-delay: 5"),
    )
    robots = hid.select(
        F.concat(
            F.lit("h"), F.col("hid").cast("string"), F.lit(".example.com")
        ).alias("host"),
        body.alias("robots"),
    )
    return robots_rules(robots, user_agent="*")


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch scheduling: robots Crawl-delay parsing
    (same group semantics as robots_rules) composed with the per-host
    slot scheduler.  Bodies are synthesized per host: a googlebot
    group whose Crawl-delay: 60 must NOT apply, and a '*' group whose
    delay is hid%7+1 seconds — except every 5th host omits the line
    and must fall back to the 1.0 s default.  The oracle recomputes
    the whole schedule in closed form from the hid arithmetic
    (independent of the robots parse), so group selection, try_cast,
    the max-collapse, slot numbering, AND the fetch-time arithmetic
    are all checked end to end."""
    from web_content_extractor_spark.operators.crawl import (
        crawl_delays,
        politeness_schedule,
    )

    d = _read(spark, sf_dir, "documents")
    hid = (F.col("doc_id") % 50).cast("string")
    host = F.concat(F.lit("h"), hid, F.lit(".example.com"))
    frontier = d.select(
        host.alias("host"),
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 10).cast("int").alias("priority"),
    )
    hosts = d.select((F.col("doc_id") % 50).alias("hid")).distinct()
    body = F.concat(
        F.lit("User-agent: googlebot\nCrawl-delay: 60\nDisallow: /g\n\n"),
        F.lit("User-agent: *\nDisallow: /tmp\n"),
        F.when(F.col("hid") % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("Crawl-delay: "),
                (F.col("hid") % 7 + 1).cast("string"),
                F.lit("\n"),
            )
        ),
    )
    robots = hosts.select(
        F.concat(
            F.lit("h"), F.col("hid").cast("string"), F.lit(".example.com")
        ).alias("host"),
        body.alias("robots"),
    )
    return politeness_schedule(
        frontier,
        crawl_delays(robots, user_agent="*"),
        default_delay_s=1.0,
        priority_col="priority",
        # crawl_delays output is canonical: skip the defensive
        # re-aggregation exchange
        delays_canonical=True,
    )


def q_robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full REP allow/disallow with longest-match-wins (Allow re-opens
    a sub-path inside a disallowed prefix; RFC 9309 evaluation order)
    — the semantics the Disallow-only robots_rules list can't express.
    Bodies: a googlebot Disallow-everything group that must NOT apply,
    and a '*' group with Disallow /a, Allow /a/b, Disallow /tmp, plus
    Allow /tmp/pub on every 4th host.  URL paths cycle through the
    five decision shapes.  The oracle states the EXPECTED decision per
    (doc_id%5, hid%4) in closed form — independent of the parse and
    the longest-match evaluation under test."""
    from web_content_extractor_spark.operators.crawl import (
        robots_decisions,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    hid = (i % 30).cast("string")
    host = F.concat(F.lit("h"), hid, F.lit(".example.com"))
    hosts = d.select((i % 30).alias("hid")).distinct()
    body = F.concat(
        F.lit("User-agent: googlebot\nDisallow: /\n\n"),
        F.lit("User-agent: *\nDisallow: /a\nAllow: /a/b\nDisallow: /tmp\n"),
        F.when(F.col("hid") % 4 == 0, F.lit("Allow: /tmp/pub\n"))
        .otherwise(F.lit("")),
    )
    robots = hosts.select(
        F.concat(
            F.lit("h"), F.col("hid").cast("string"), F.lit(".example.com")
        ).alias("host"),
        body.alias("robots"),
    )
    path = (
        F.when(i % 5 == 0, F.concat(F.lit("/a/x"), i.cast("string")))
        .when(i % 5 == 1, F.concat(F.lit("/a/b/"), i.cast("string")))
        .when(i % 5 == 2, F.concat(F.lit("/tmp/"), i.cast("string")))
        .when(i % 5 == 3, F.concat(F.lit("/tmp/pub/"), i.cast("string")))
        .otherwise(F.concat(F.lit("/free/"), i.cast("string")))
    )
    urls = d.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url"),
    )
    return robots_decisions(robots, urls).select(
        "doc_id", "url", "allowed", "matched_prefix"
    )


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemap.xml URL-inventory extraction (the crawl seed source):
    per-host urlset bodies synthesized natively — 3 <loc> entries with
    whitespace padding plus a <lastmod> distractor; every 5th host is
    a sitemapindex whose locs are child sitemap URLs (is_index)."""
    from web_content_extractor_spark.operators.crawl import sitemap_urls

    d = _read(spark, sf_dir, "documents")
    hid = d.select((F.col("doc_id") % 40).alias("hid")).distinct()
    h = F.col("hid").cast("string")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>https://s'), h,
        F.lit(".example.com/a</loc><lastmod>2026-01-01</lastmod></url>"),
        F.lit("<url><loc>  https://s"), h,
        F.lit(".example.com/b  </loc></url><url><loc>https://s"), h,
        F.lit(".example.com/c</loc></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://s"), h,
        F.lit(".example.com/sitemap1.xml</loc></sitemap>"),
        F.lit("<sitemap><loc>https://s"), h,
        F.lit(".example.com/sitemap2.xml</loc></sitemap></sitemapindex>"),
    )
    maps = hid.select(
        F.concat(F.lit("s"), h, F.lit(".example.com")).alias("host"),
        F.when(F.col("hid") % 5 == 0, index).otherwise(urlset)
        .alias("sitemap"),
    )
    return sitemap_urls(maps)


def q_crawl_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl-curation front end in one plan: sitemap
    <loc> seeds (urlsets only) filtered through per-host robots.txt
    disallow rules via the broadcast blocklist anti-join — what a
    production crawl runs before url_batch seeds the frontier.
    Robots for host s{hid} disallow /a when hid%2==0 and /c when
    hid%3==0, so survival depends on both parsers agreeing."""
    from web_content_extractor_spark.operators.crawl import (
        blocklist_filter,
        robots_rules,
        sitemap_urls,
    )

    d = _read(spark, sf_dir, "documents")
    hid = d.select((F.col("doc_id") % 40).alias("hid")).distinct()
    h = F.col("hid").cast("string")
    urlset = F.concat(
        F.lit("<urlset><url><loc>https://s"), h,
        F.lit(".example.com/a/1</loc></url><url><loc>https://s"), h,
        F.lit(".example.com/b/1</loc></url><url><loc>https://s"), h,
        F.lit(".example.com/c/1</loc></url></urlset>"),
    )
    maps = hid.select(
        F.concat(F.lit("s"), h, F.lit(".example.com")).alias("host"),
        urlset.alias("sitemap"),
    )
    seeds = sitemap_urls(maps).where(~F.col("is_index")).select(
        "host", "url"
    )
    robots_body = F.concat(
        F.lit("User-agent: *\n"),
        F.when(F.col("hid") % 2 == 0, F.lit("Disallow: /a\n"))
        .otherwise(F.lit("")),
        F.when(F.col("hid") % 3 == 0, F.lit("Disallow: /c\n"))
        .otherwise(F.lit("")),
        F.lit("Crawl-delay: 2"),
    )
    robots = hid.select(
        F.concat(F.lit("s"), h, F.lit(".example.com")).alias("host"),
        robots_body.alias("robots"),
    )
    rules = robots_rules(robots, user_agent="*")
    return blocklist_filter(seeds.drop("host"), rules)


def q_warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style random-access index over built WARC blobs: SURT
    urlkeys + byte offsets/extents.  The oracle recomputes every
    offset in closed form from the record framing (74 fixed bytes +
    uri octets + content-length digits + body octets) with a
    per-blob cumulative window — so the walker's offset bookkeeping
    is hash-checked byte-for-byte."""
    from web_content_extractor_spark.sources.warc import (
        parse_warc_records,
        warc_blob_per_group,
        warc_cdx,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    uri = F.concat(
        F.lit("https://w"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
    )
    blobs = warc_blob_per_group(
        d, uri, F.col("text"), (F.col("doc_id") % 8)
    )
    return warc_cdx(parse_warc_records(blobs)).select(
        "urlkey", "blob_id", "rec_offset", "rec_bytes", "target_uri"
    )


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style (host, path_prefix) blocklist filter over synthesized
    URLs (same shapes as url_projections): broadcast LEFT ANTI hash
    join keyed on the www-stripped host with the path-prefix test as
    residual condition — the corpus never shuffles."""
    from web_content_extractor_spark.operators.crawl import blocklist_filter

    d = _read(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://www.h"), (F.col("doc_id") % 5).cast("string"),
                     F.lit(".example.com/files/a"), sid, F.lit(".pdf")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("http://h"), (F.col("doc_id") % 5).cast("string"),
                     F.lit(".example.org/p"), sid),
        )
        .otherwise(
            F.concat(F.lit("https://media.example.net/x/y/z"), sid, F.lit(".tar.gz"))
        )
    )
    links = d.select("doc_id", url.alias("url"))
    bl = spark.createDataFrame(
        [
            ("h0.example.com", "/files"),
            ("h2.example.org", ""),
            ("media.example.net", "/x/y"),
        ],
        "host string, path_prefix string",
    )
    return blocklist_filter(links, bl)


def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report (operators/corpus.py::corpus_health,
    exact mode — the oracle-checkable configuration; approx=True flips
    every cardinality to HLL approx_count_distinct for the 100 TB read,
    pinned by tests/test_corpus_health.py)."""
    from web_content_extractor_spark.operators.corpus import corpus_health

    return corpus_health(_read(spark, sf_dir, "documents"), approx=False)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup of a synthetic crawl batch against the
    existing corpus: corpus = doc_id % 3 != 0; the batch carries fresh
    docs (% 3 == 0), re-keyed copies of corpus docs (% 3 == 1, corpus
    dups -> dropped by the fingerprint anti-join) and re-keyed copies
    of batch docs (% 9 == 0, in-batch dups -> dropped by first-wins).
    Content-keyed, so a re-crawled page at a NEW url is still a dup."""
    from web_content_extractor_spark.operators.dedup_docs import (
        dedup_against_corpus,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 3 != 0)
    batch = (
        d.where(F.col("doc_id") % 3 == 0)
        .unionByName(
            d.where(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return dedup_against_corpus(batch, corpus).select("doc_id", "fp")


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: distributed full-batch logistic
    regression over the DSIR feature map (fastText/GPT-3-style
    "looks like the target domain" classifier), scoring every doc.
    Iterative float training — rows-only by design; the numpy
    differential and separation behavior are pinned in
    tests/test_selection.py."""
    from web_content_extractor_spark.operators.selection import (
        train_quality_classifier,
    )

    d = _read(spark, sf_dir, "documents")
    tgt = (
        F.regexp_extract("source", r"(\d+)$", 1).cast("bigint") % 4
    ) == 0
    model = train_quality_classifier(
        d, tgt, n_buckets=64, iters=6, learning_rate=2.0
    )
    return model["scores"].select(
        "doc_id",
        F.round("p_target", 6).alias("p_target"),
        "is_target",
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style alpha-sampling: temperature-flattened source mixture
    (q_s ∝ p_s^0.3, 300-doc budget) realized as per-source keep rates
    feeding the deterministic Bernoulli mixture_sample.  Rates math
    runs on the source-cardinality table; one corpus count shuffle."""
    from web_content_extractor_spark.operators.corpus import (
        mixture_sample,
        temperature_mixture_rates,
    )

    d = _read(spark, sf_dir, "documents")
    rates = temperature_mixture_rates(d, alpha=0.3, total=300)
    return mixture_sample(d, rates, seed=5).select("doc_id", "source")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis–Spirakis
    exponential race): 100 docs drawn proportional to token count,
    deterministically from (doc_id, seed).  Plan is a codegen key
    projection + TakeOrderedAndProject — per-partition top-k heap,
    no shuffle, no global sort."""
    from web_content_extractor_spark.operators.selection import (
        weighted_sample,
    )

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", tq.token_count(F.col("text")).alias("weight")
    )
    return weighted_sample(d, k=100, seed=11).select(
        "doc_id", "weight", "es_key"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fixed-count sample: exactly min(20, |source|) docs
    per source in reproducible portable-hash order — the COUNT form of
    selection next to mixture_sample (rate) and token_budget (quota).
    ONE shuffle keyed by source."""
    from web_content_extractor_spark.operators.selection import (
        stratified_sample,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(d, k=20).select(
        "doc_id", "source", "draw"
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): hashed-bigram
    target-vs-raw bucket log-ratios, target slice = sources whose
    trailing digits % 4 == 0 (a stand-in for 'Wikipedia-like').
    Bucket ids mix portable vocab ids, so the DuckDB oracle computes
    the identical integers; the K-row log-ratio table broadcasts back
    onto per-doc features."""
    from web_content_extractor_spark.operators.selection import dsir_weights

    d = _read(spark, sf_dir, "documents")
    tgt = (
        F.regexp_extract("source", r"(\d+)$", 1).cast("bigint") % 4
    ) == 0
    return dsir_weights(d, tgt, n_buckets=64)


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization: Unicode NFC (vectorized pandas
    Series.str.normalize — no JVM builtin), control-char strip,
    whitespace collapse.  Dirt is planted deterministically (combining
    accents, a BEL byte, tabs, double spaces); the DuckDB oracle runs
    nfc_normalize + the identical regex chain."""
    from web_content_extractor_spark.functions.text_quality import (
        clean_text,
    )

    d = _read(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("  Café\t "),
        F.col("text"),
        F.lit("  åb"),
        F.lit("\x07"),
        F.lit("c  "),
    )
    return d.select("doc_id", clean_text(dirty).alias("cleaned"))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-granular snapshot diff (incremental-reprocessing primitive):
    old = documents; new deterministically removes doc_id%10==0, edits
    doc_id%7==0, and adds shifted copies of doc_id%13==0.  Only
    (id, md5) fingerprints cross the full-outer-join shuffle."""
    from web_content_extractor_spark.operators.diff import snapshot_diff

    old = _read(spark, sf_dir, "documents").select("doc_id", "text")
    base = old.where(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = old.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return snapshot_diff(old, base.unionByName(added))


def q_anchor_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text index (the classic target-describing search
    signal): per-target in-degree, referring-doc count, and top-3
    anchor texts by (count desc, text asc).  Links are synthesized
    deterministically: each doc points at one of 50 shared targets
    plus one corpus-wide hot target (the skew case the top-k cap
    guards)."""
    from web_content_extractor_spark.operators.graph import (
        anchor_text_index,
    )

    d = _read(spark, sf_dir, "documents")
    shared = d.select(
        "doc_id",
        F.concat(
            F.lit("https://t.example.com/p"),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("media_ref"),
        F.trim(F.substring("text", 1, 12)).alias("text"),
    )
    hot = d.select(
        "doc_id",
        F.lit("https://hot.example.com/").alias("media_ref"),
        F.trim(F.substring("text", 13, 8)).alias("text"),
    )
    idx = anchor_text_index(shared.unionByName(hot), k=3)
    # the library API returns top_texts as array<string>; the driver's
    # canonicalizer can only sort/hash scalar columns, so the QUERY
    # flattens it with a unit-separator join (oracle twin mirrors with
    # array_to_string) — operator API unchanged for library users
    return idx.withColumn(
        "top_texts", F.concat_ws(chr(31), F.col("top_texts"))
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection feeding the salting decision: count-min-sketch
    screen + deterministic hash-sampled candidates + exact broadcast
    recount (operators/skew.py::heavy_hitters) — no corpus-wide per-key
    shuffle.  Skew is synthesized deterministically and SF-robustly
    (user_id % 50 < 10 folds ~20% of rows into three hot hosts at any
    user-count), mirrored in the oracle; output counts are exact, so
    the sketch path is fully oracle-checked."""
    from web_content_extractor_spark.operators.skew import heavy_hitters

    e = _read(spark, sf_dir, "events")
    keyed = e.select(
        "event_id",
        F.when(
            F.col("user_id") % 50 < 10,
            F.concat(F.lit("hot"), (F.col("user_id") % 3).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold"), F.col("user_id").cast("string")))
        .alias("host"),
    )
    return heavy_hitters(keyed, "host", min_frac=0.03, row_id="event_id")


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-authority PageRank (5 synchronous iterations, d=0.85) over
    a deterministic synthetic host graph derived from doc_id — the
    iterative-fixpoint operator class.  The oracle unrolls the same
    recurrence as five chained CTEs; ranks rounded to 6 dp (far above
    the float-summation noise floor)."""
    from web_content_extractor_spark.operators.graph import host_pagerank

    # no _read fan-out: per-row work is one multiply, and the host
    # keyspace (50) is tiny — wide map stages would be pure scheduling
    # overhead across the 5 iterations' shuffles.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    src = F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string"))
    e1 = d.select(
        src.alias("src"),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    e2 = d.select(
        src.alias("src"),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 13 + 11) % 50).cast("string")
        ).alias("dst"),
    )
    ranks = host_pagerank(
        e1.union(e2), iters=5, broadcast_ranks=True
    )
    return ranks.select("host", F.round("rank", 6).alias("rank"))


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup (batch vs corpus) — the
    oracle-checked verification metric for the LSH near-dup path."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _read_pushdown(spark, sf_dir, "embeddings").where("vec_id < 200")
    return similarity.exact_near_duplicates(emb, q, min_cos=0.4)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, Schleimer et
    al.): k-gram polynomial hash, deterministic window-min selection."""
    d = _read(spark, sf_dir, "documents")
    return tq.winnow_fingerprints(d).select(
        "doc_id",
        F.col("fp_pos").cast("bigint").alias("fp_pos"),
        F.col("fp_hash").cast("bigint").alias("fp_hash"),
    )


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents containing any
    benchmark snippet (normalized substring).  Native broadcast
    contains-join: one corpus scan, no shuffle."""
    d = _read(spark, sf_dir, "documents")
    return decontam.contaminated_pairs(d, decontam.benchmark_snippets(d))


def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative contamination (GPT-3 appx. C shape): per-document
    fraction of distinct word 8-grams colliding with the benchmark
    gram set; dirty verdict on the rounded fraction.  Benchmark grams
    broadcast; hit counts broadcast back — no corpus-sized shuffle."""
    d = _read(spark, sf_dir, "documents")
    return decontam.contamination_scores(
        d, decontam.benchmark_snippets(d), n=8, tau=0.01
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed tf-idf (broadcast df join,
    no second shuffle of the tf table)."""
    return keywords.tfidf_topk(_read(spark, sf_dir, "documents"), k=3)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent prior
    view (union + single-shuffle window; DuckDB native ASOF JOIN is
    the oracle)."""
    ev = _read(spark, sf_dir, "events")
    out = asof.asof_join(
        ev.where("event_type = 'click'").select(
            "event_id", "ts", "user_id", "value"
        ),
        ev.where("event_type = 'view'"),
    )
    return out.select(
        "event_id", "user_id", "matched_event_id",
        "matched_value", "lag_us",
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters over the exact n-gram-Jaccard pair
    graph (min-label propagation; recursive-CTE closure is the oracle)."""
    d = _read(spark, sf_dir, "documents")
    return dedup_docs.duplicate_clusters(d, min_jaccard=0.8)


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection per duplicate cluster: keep the longest
    member (n_chars desc, min-id tie-break) — the RefinedWeb/CCNet
    "which dup survives" resolution step after transitive clustering."""
    d = _read(spark, sf_dir, "documents")
    clusters = dedup_docs.duplicate_clusters(d, min_jaccard=0.8)
    return dedup_docs.resolve_clusters(d, clusters).select(
        "doc_id", "cluster_id", "cluster_size", "is_canonical"
    )


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup: doc counts + char volume by (source, lang) with
    subtotal and grand-total grouping sets."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            # label rolled-up levels explicitly: null-free output sorts
            # deterministically in any row comparator
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "n_docs",
            "total_chars",
        )
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    q = _read_pushdown(spark, sf_dir, "embeddings").where("vec_id < 5")
    return similarity.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs, hash-certified end-to-end
    (graduated from rows-only in round 5): the kernel's token hash is
    md5-first-8-bytes (big-endian, folded mod 2^31-1) precisely so
    DuckDB can recompute the full pipeline — tokenize, token hash,
    polynomial 3-gram shingles, seed-42 permute-min signatures, 16x4
    banding, matching-fraction jaccard estimate — in closed form."""
    return dedup_docs.minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), min_jaccard=0.8
    ).select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup, hash-certified end-to-end: the Arrow kernel's
    token hash is md5-first-8-bytes (big-endian) precisely so DuckDB
    can recompute the full pipeline — tokenize, per-token 64-bit
    hash, per-bit majority vote, two's-complement pack, Hamming-0
    canonical grouping — in closed form (graduated from rows-only in
    round 5 per the r4 verdict)."""
    return dedup_docs.simhash_duplicates(_read(spark, sf_dir, "documents"))


def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-Column URL canonicalization for corpus-scale URL dedup:
    scheme/host lowercase, default-port strip (non-default kept),
    empty path -> '/', fragment drop, tracking-param strip, param
    sort.  URLs are synthesized in closed form to exercise every rule
    (mixed-case scheme/host, default vs :8080 ports, empty paths,
    tracking-only / unsorted / empty queries, fragments); the oracle
    recomputes the EXPECTED canonical directly from the synthesis
    parts — fully independent of the parse+rebuild under test."""
    from web_content_extractor_spark.functions.urlnorm import (
        canonical_url,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    scheme = F.when(i % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP"))
    host = F.concat(
        F.lit("H"), (i % 20).cast("string"), F.lit(".Example.COM")
    )
    port = (
        F.when(
            i % 3 == 0,
            F.when(i % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        )
        .when(i % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.when(i % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/A/"), i.cast("string"))
    )
    qraw = (
        F.when(i % 4 == 0, F.lit("b=2&utm_source=x&a=1"))
        .when(i % 4 == 1, F.lit("utm_campaign=y"))
        .when(i % 4 == 2, F.lit("z=9"))
        .otherwise(F.lit(""))
    )
    frag = F.when(i % 2 == 1, F.lit("#frag")).otherwise(F.lit(""))
    url = F.concat(
        scheme, F.lit("://"), host, port, path,
        F.when(qraw == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qraw)
        ),
        frag,
    )
    return d.select(
        "doc_id", url.alias("url"), canonical_url(url).alias("canon")
    )


def q_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup pairs via the Manku et al. (WWW 2007)
    pigeonhole band join, on a 26-bit fingerprint both engines can
    compute in closed form (bit i = parity of the count of letter
    chr(97+i) in the text).  The oracle recomputes the same
    fingerprint and finds pairs by brute-force popcount, so the
    banding's soundness AND completeness are driver-checked; the
    Spark side never compares all pairs."""
    from web_content_extractor_spark.operators.dedup_docs import (
        hamming_near_duplicates,
    )

    d = _read(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    fp = None
    for i in range(26):
        parity = (
            F.length(t) - F.length(F.replace(t, F.lit(chr(97 + i))))
        ) % 2
        term = parity.cast("bigint") * F.lit(1 << i)
        fp = term if fp is None else fp + term
    fps = d.select("doc_id", fp.alias("fp"))
    return (
        hamming_near_duplicates(
            fps, hash_col="fp", max_distance=3, bits=26
        )
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup, hash-certified end-to-end (graduated from
    rows-only in round 5 per the r4 verdict): deterministic BMP
    payloads synthesized per doc (consecutive doc_ids share a base
    image, the odd twin has two flipped pixels), real BMP encode ->
    real decode -> 64-bit average hash -> the same pigeonhole band
    join as text SimHash.  The payloads use the closed-form
    ``synth_bmp_affine`` pixel pattern so the DuckDB oracle can
    recompute the decoded grayscale grid, the block-mean aHash, and
    the brute-force Hamming pairs in pure integer SQL — certifying
    both the banding's soundness AND completeness (it must equal
    brute force for distance <= 6).  The blake2b-patterned
    ``synth_bmp`` variant and the raw kernel stay pinned in
    tests/test_hamming.py."""
    from web_content_extractor_spark.operators.dedup_docs import (
        hamming_near_duplicates,
    )
    from web_content_extractor_spark.operators.multimodal import (
        average_hash,
        synth_bmp_affine,
    )

    def _synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pdf.assign(
                media_id=[str(i) for i in ids],
                doc_id=[str(i) for i in ids],
                payload=[
                    synth_bmp_affine(i // 2, flip_pixels=2 * (i % 2))
                    for i in ids
                ],
            )[["media_id", "doc_id", "payload"]]

    d = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 200)  # deterministic sf-independent slice
    )
    media = d.mapInPandas(
        _synth, schema="media_id string, doc_id string, payload binary"
    )
    return (
        hamming_near_duplicates(
            average_hash(media),
            id_col="media_id",
            hash_col="phash",
            max_distance=6,
        )
        .select(
            # the join ordered ids lexicographically (media_id is a
            # string); re-order numerically after the cast
            F.least(
                F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint")
            ).alias("doc_id_a"),
            F.greatest(
                F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint")
            ).alias("doc_id_b"),
            "hamming",
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (bucketed), hash-certified end-to-end
    (graduated from rows-only in round 5): the closed-form oracle twin
    inlines the same hyperplanes, bucket keys and cosine ranking."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _read_pushdown(spark, sf_dir, "embeddings").where("vec_id < 5")
    return similarity.lsh_topk(emb, q, k=5)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: spherical-kmeans coarse quantizer, nprobe inverted-list
    probes (approximate by design -> rows-only; recall pinned in
    tests/test_dedup_similarity.py)."""
    emb = _read(spark, sf_dir, "embeddings")
    # one Lloyd round here (fewer index-build jobs in the driver run);
    # recall at the default iters=2 is pinned in tests
    q = _read_pushdown(spark, sf_dir, "embeddings").where("vec_id < 5")
    return similarity.ivf_topk(
        emb, q, k=5, n_centroids=16, nprobe=4, iters=1
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: ADC scan over byte codes + exact
    re-rank of refine*k candidates (approximate by design -> rows-only;
    recall + refine-all==brute-force anchors pinned in
    tests/test_dedup_similarity.py)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _read_pushdown(spark, sf_dir, "embeddings").where("vec_id < 5")
    return similarity.pq_topk(
        emb, q, k=5, m=16, n_codes=32, refine=8
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed ANN: cell-routed probes + byte-code ADC scan +
    exact re-rank (approximate by design -> rows-only; recall and the
    nprobe=all/refine=all ≡ brute-force anchor are pinned in
    tests/test_dedup_similarity.py)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = _read_pushdown(spark, sf_dir, "embeddings").where("vec_id < 5")
    return similarity.ivfpq_topk(
        emb, q, k=5, n_centroids=16, nprobe=4,
        iters=1, m=16, n_codes=32, refine=8,
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bin equi-join (operators/asof.py::interval_join):
    events counted into every user's first-30-minute window — a genuine
    cross-key containment join (any user's events can fall in any
    window), planned as a hash join on time bins instead of the
    cartesian theta-join DuckDB's BETWEEN replays as the oracle."""
    from web_content_extractor_spark.operators.asof import interval_join

    e = _read(spark, sf_dir, "events")
    iv = (
        e.groupBy(F.col("user_id").alias("iv_user"))
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 30 MINUTES"))
    )
    j = interval_join(e, iv, bin_seconds=1800)
    return j.groupBy("iv_user").agg(F.count("*").alias("n_in_window"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): spherical-kmeans clusters, greedy
    id-ordered within-cluster cosine pruning.  Iterative quantizer ->
    rows-only by design; keep/drop soundness, completeness, and
    layout-determinism are pinned in tests/test_semdedup.py.  The base
    embeddings are near-orthogonal (max pairwise cos ~0.51), so twins
    are planted exactly as in q_embedding_neardup: every planted twin
    must be dropped with dup_of = its base vector."""
    emb = _read(spark, sf_dir, "embeddings")
    twins = emb.where("vec_id < 20").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * 1.001 + (i % 3) * F.lit(1e-4)
        ).alias("embedding"),
    )
    out = similarity.semantic_duplicates(
        emb.select("vec_id", "embedding").unionByName(twins),
        threshold=0.95,
        n_centroids=16,
        iters=1,
    )
    return out.select(
        "id", "cid", "kept", "dup_of", F.round("max_kept_sim", 4).alias("max_kept_sim")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads synthesized from documents."""
    from web_content_extractor_spark.operators.multimodal import (
        extract_image_features,
    )

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image").alias("media_type"),
        F.lit("image/png").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.length("text").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )
    return extract_image_features(media).select(
        F.col("media_id").cast("bigint").alias("doc_id"), "n_bytes", "content_hash"
    )


# Queries whose IMPLEMENTATION changed in the current round (operator
# code, query body, or oracle twin).  The rotation rule is: a changed
# query's previous driver row is stale regardless of age, so every
# entry listed here MUST sit in the front-50 — scripts/check_rotation.py
# enforces it.  Reset this set at the start of each round; add to it
# whenever a change touches a query's output path.
CHANGED_QUERIES = {
    # r5: simhash kernel token hash blake2b -> md5-8 big-endian (the
    # cross-engine hash that enables its closed-form oracle twin)
    "simhash",
    # r5: synthetic payloads switched to the closed-form
    # synth_bmp_affine pattern + new brute-force Hamming oracle
    "image_neardup",
    # r5: minhash kernel token hash crc32 -> md5-8 (same cross-engine
    # motive) + new closed-form signature/banding/jaccard oracle
    "minhash_pairs",
    # r5: new closed-form oracle (inlined hyperplanes, bucket + cosine
    # recompute) — code unchanged, oracle status changed
    "lsh_topk",
    # r5: same — closed-form oracle over the r=6 x L=6 plane set with
    # the twin construction replayed in SQL
    "embedding_neardup",
}

# The round this committed registry's front-50 is the plan for: the
# rotation-aging check evaluates the plan against the artifacts that
# existed when it was written, so a LATER driver artifact landing in
# the tree does not retroactively redden the committed state (the r4
# failure mode — see tests/test_check_rotation.py).
PLANNED_ROUND = 5


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver's correctness gate checks the FIRST 50
    # registry entries per round.  Round-5 front-50 (final round), per
    # VERDICT_r4 tasks #1/#4 — every slot is an ORACLED entry (the r4
    # rotation spent 12 slots on no_oracle rows; this one spends zero):
    #   1. the five queries whose code/oracle changed this round
    #      (CHANGED_QUERIES): simhash, image_neardup, minhash_pairs,
    #      lsh_topk and embedding_neardup, all graduated from rows-only
    #      to hash-certified closed-form oracles;
    #   2. the 17 entries whose last green row is r2-aged (the exact
    #      list scripts/check_rotation.py flagged once CORRECTNESS_r04
    #      landed);
    #   3. the 28 oldest r3-certified entries.
    # Everything r4-certified rotates to the back, followed by the
    # seven rows-only-by-design entries (their r4 driver rows recorded the
    # observed row counts; their stronger differential/recall oracles
    # live in pytest).  scripts/check_rotation.py --as-of 5 must exit 0
    # on the committed tree — run it after every registry edit.
    return {
        # --- code-changed this round (CHANGED_QUERIES): graduated from
        # rows-only to hash-certified closed-form oracles ---
        "simhash": q_simhash,
        "image_neardup": q_image_neardup,
        "minhash_pairs": q_minhash_pairs,
        "lsh_topk": q_lsh_topk,
        "embedding_neardup": q_embedding_neardup,
        # --- r2-aged front-fill: the 17 entries named by the r4
        # verdict, code unchanged since their r2 certification ---
        "priority_order": q_priority_order,
        "agg_counts": q_agg_counts,
        "dedup_first_wins": q_dedup_first_wins,
        "window_rank": q_window_rank,
        "sessionize": q_sessionize,
        "group_by_source": q_group_by_source,
        "value_percentiles": q_value_percentiles,
        "json_props": q_json_props,
        "pivot_counts": q_pivot_counts,
        "unpivot_counts": q_unpivot_counts,
        "resample_counts": q_resample_counts,
        "moving_average": q_moving_average,
        "repetition_scores": q_repetition_scores,
        "line_dedup": q_line_dedup,
        "chunk_docs": q_chunk_docs,
        "pii_redact": q_pii_redact,
        "shard_corpus": q_shard_corpus,
        # --- oldest r3-certified back-fill (28 entries) ---
        "mixture_sample": q_mixture_sample,
        "pack_chunks": q_pack_chunks,
        "pack_interleaved": q_pack_interleaved,
        "host_pagerank": q_host_pagerank,
        "audio_features": q_audio_features,
        "dup_substrings": q_dup_substrings,
        "heavy_hitters": q_heavy_hitters,
        "clean_text": q_clean_text,
        "token_budget": q_token_budget,
        "vocab_topk": q_vocab_topk,
        "bpe_pairs": q_bpe_pairs,
        "zorder_keys": q_zorder_keys,
        "corpus_split": q_corpus_split,
        "bigram_nll": q_bigram_nll,
        "warc_roundtrip": q_warc_roundtrip,
        "warc_cdx": q_warc_cdx,
        "robots_rules": q_robots_rules,
        "sitemap_urls": q_sitemap_urls,
        "crawl_seeds": q_crawl_seeds,
        "dedup_incremental": q_dedup_incremental,
        "temperature_mixture": q_temperature_mixture,
        "weighted_sample": q_weighted_sample,
        "stratified_sample": q_stratified_sample,
        "dsir_weights": q_dsir_weights,
        "session_windows": q_session_windows,
        "ccnet_buckets": q_ccnet_buckets,
        "unigram_nll": q_unigram_nll,
        "snapshot_diff": q_snapshot_diff,
        # --- position 51+: r3-certified remainder (their age is 2 at
        # the planned round, inside MAX_AGE) ---
        "dup_substring_stats": q_dup_substring_stats,
        "dup_remove": q_dup_remove,
        "winnow_fingerprints": q_winnow_fingerprints,
        "decontam": q_decontam,
        "tfidf_topk": q_tfidf_topk,
        "asof_join": q_asof_join,
        "dedup_clusters": q_dedup_clusters,
        "dedup_resolve": q_dedup_resolve,
        "rollup_counts": q_rollup_counts,
        "contamination_score": q_contamination_score,
        "canonical_urls": q_canonical_urls,
        "domain_curation": q_domain_curation,
        "media_features": q_media_features,
        "interval_join": q_interval_join,
        "hamming_neardup": q_hamming_neardup,
        # --- r4-certified (green rows in CORRECTNESS_r04) ---
        "anchor_index": q_anchor_index,
        "crawl_schedule": q_crawl_schedule,
        "robots_decisions": q_robots_decisions,
        "url_blocklist": q_url_blocklist,
        "corpus_health": q_corpus_health,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "similarity_topk": q_similarity_topk,
        "rebalance_roundtrip": q_rebalance_roundtrip,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "extract_spans": q_extract_spans,
        "extract_metrics": q_extract_metrics,
        "classifier_context": q_classifier_context,
        "url_projections": q_url_projections,
        "classifier_regex": q_classifier_regex,
        "content_blocks": q_content_blocks,
        "content_stats": q_content_stats,
        "pdf_layout": q_pdf_layout,
        "per_host_salted": q_per_host_salted,
        "nav_links": q_nav_links,
        "youtube_manifest": q_youtube_manifest,
        "pdf_manifest": q_pdf_manifest,
        "group_by_domain": q_group_by_domain,
        "extract_errors": q_extract_errors,
        "url_batch": q_url_batch,
        "video_ids": q_video_ids,
        "doc_link_stats": q_doc_link_stats,
        "link_distribution": q_link_distribution,
        "quality_score_rel": q_quality_score_rel,
        "anti_join": q_anti_join,
        "join_agg": q_join_agg,
        "windowed_counts": q_windowed_counts,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "token_stats": q_token_stats,
        "lang_detect": q_lang_detect,
        "quality_scores": q_quality_scores,
        "quality_filters": q_quality_filters,
        "curation_manifest": q_curation_manifest,
        # --- rows-only by design (r4 driver rows record observed row
        # counts; hash-seeded / approximate / iterative semantics keep
        # their oracles in pytest differential/recall tests) ---
        "semantic_dedup": q_semantic_dedup,
        "bpe_encode": q_bpe_encode,
        "quality_classifier": q_quality_classifier,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "crawl_merge": q_crawl_merge,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_STOPWORD_SQL = {
    "en": "('the','and','of','to','in','is','it','that','for','on')",
    "es": "('el','la','de','que','y','en','un','es','se','no')",
    "de": "('der','die','und','das','ist','von','zu','mit','den','nicht')",
    "fr": "('le','la','de','et','les','des','est','un','une','dans')",
}

_TOKS_CTE = (
    "SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '), "
    "x -> x <> '') AS w, text FROM documents"
)

# C4/Gopher quality-signal CTE fragment (embedded in WITH clauses);
# mirrors functions/text_quality.py::quality_signals/quality_filter
_QUALITY_CTE = """
        qs AS (
          SELECT doc_id,
                 coalesce(text, '') AS t,
                 len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                 x -> x <> '')) AS n_words,
                 length(regexp_replace(coalesce(text, ''), '\\s+', '', 'g'))
                   AS nonws,
                 length(coalesce(text, '')) -
                 length(regexp_replace(coalesce(text, ''),
                                       '[#{}\\[\\]<>\\\\]', '', 'g')) AS n_sym
          FROM documents
        ),
        quality AS (
          SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
                 has_lorem, has_brace,
                 (n_words >= 50 AND n_words <= 100000
                  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                  AND symbol_word_ratio <= 0.1
                  AND NOT has_lorem AND NOT has_brace) AS keep
          FROM (
            SELECT doc_id, n_words,
                   CASE WHEN n_words > 0 THEN nonws::DOUBLE / n_words
                        ELSE 0.0 END AS mean_word_len,
                   CASE WHEN n_words > 0 THEN n_sym::DOUBLE / n_words
                        ELSE 0.0 END AS symbol_word_ratio,
                   contains(lower(t), 'lorem ipsum') AS has_lorem,
                   contains(t, '{') AS has_brace
            FROM qs
          )
        )"""


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """Unroll the PageRank recurrence as chained CTEs (DuckDB oracle).

    Mirrors operators/graph.py exactly: distinct edges minus self-loops,
    self-loop patch for dangling hosts, uniform start, then
    r' = (1-d)/n + d * sum_in(r/out_deg) repeated ``iters`` times.
    """
    ctes = [
        """e0 AS (
          SELECT 'h' || (doc_id % 50) AS src,
                 'h' || ((doc_id * 7 + 3) % 50) AS dst
          FROM documents
          UNION ALL
          SELECT 'h' || (doc_id % 50),
                 'h' || ((doc_id * 13 + 11) % 50)
          FROM documents
        )""",
        "ed AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)",
        "nodes AS (SELECT src AS host FROM ed UNION SELECT dst FROM ed)",
        "dang AS (SELECT host FROM nodes "
        "EXCEPT SELECT DISTINCT src FROM ed)",
        "edges AS (SELECT src, dst FROM ed "
        "UNION ALL SELECT host, host FROM dang)",
        "deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "r0 AS (SELECT host, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
          SELECT nodes.host,
                 (1 - {damping}) / nn.n
                   + {damping} * coalesce(c.s, 0) AS rank
          FROM nodes CROSS JOIN nn
          LEFT JOIN (
            SELECT e.dst AS host, sum(r{i-1}.rank / deg.out_deg) AS s
            FROM edges e
            JOIN deg ON e.src = deg.src
            JOIN r{i-1} ON r{i-1}.host = e.src
            GROUP BY e.dst
          ) c ON nodes.host = c.host
        )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT host, round(rank, 6) AS rank FROM r{iters}"
    )


def _sql_spread(e: str) -> str:
    """The Morton bit-spreading rounds as SQL text — the literal same
    (shift, mask) sequence as sinks/zorder.py::_part1by1."""
    for sh, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        e = f"(({e} | ({e} << {sh})) & {m})"
    return e


def oracle_sql() -> dict[str, str]:
    # 26-bit letter-count-parity fingerprint — the same closed form the
    # Spark side of hamming_neardup computes (bit i = parity of the
    # count of chr(97+i) in the raw text)
    parity_fp = " + ".join(
        "(((length(coalesce(text,'')) - length(replace(coalesce(text,'')"
        f", chr({97 + i}), ''))) % 2) << {i})"
        for i in range(26)
    )
    hits = {
        lang: f"len(list_filter(w, x -> x IN {sw}))"
        for lang, sw in _STOPWORD_SQL.items()
    }
    lang_case = f"""
      CASE
        WHEN {hits['en']} > 0 AND {hits['en']} >= greatest({hits['es']}, {hits['de']}, {hits['fr']}) THEN 'en'
        WHEN {hits['es']} > 0 AND {hits['es']} >= greatest({hits['de']}, {hits['fr']}) THEN 'es'
        WHEN {hits['de']} > 0 AND {hits['de']} >= greatest({hits['fr']}) THEN 'de'
        WHEN {hits['fr']} > 0 THEN 'fr'
        ELSE 'und'
      END
    """
    quality_expr = """
      round(
        greatest(0.0,
          (50.0 * least(len(w) / 100.0, 1.0)
           + 50.0 * least(CASE WHEN len(w) > 0
                 THEN len(list_filter(w, x -> x IN ('the','and','of','to','in','is','it','that','for','on'))) * 1.0 / len(w)
                 ELSE 0.0 END * 4.0, 1.0))
          * (1.0 - least(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                 ELSE 0.0 END * 2.0, 1.0))
        ), 2)
    """
    sql = {
        "extract_spans": _SYNTH_ORACLE_CTE
        + """
        SELECT base AS doc_id, kind, text, media_ref,
               CAST(row_number() OVER (
                 PARTITION BY base
                 ORDER BY CASE kind WHEN 'pdf' THEN 0 WHEN 'youtube' THEN 1 ELSE 2 END, pos
               ) - 1 AS INTEGER) AS offset
        FROM links
        """,
        "extract_metrics": _SYNTH_ORACLE_CTE
        + """
        SELECT base AS doc_id, count(*) AS total_links,
               CAST(sum(CASE WHEN kind='pdf' THEN 1 ELSE 0 END) AS BIGINT) AS pdf_count,
               CAST(sum(CASE WHEN kind='youtube' THEN 1 ELSE 0 END) AS BIGINT) AS youtube_count,
               CAST(sum(CASE WHEN kind='other' THEN 1 ELSE 0 END) AS BIGINT) AS other_count,
               CAST(0 AS BIGINT) AS parse_failures
        FROM links GROUP BY base
        """,
        "content_blocks": """
        WITH d AS (
          SELECT 'https://content.example.org/d' || doc_id AS doc_id,
                 regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm,
                 doc_id AS id
          FROM documents
        ), w AS (
          SELECT *, len(string_split(norm, ' ')) AS n_words FROM d
        )
        SELECT doc_id, 'heading' AS kind, 'Title ' || id AS text,
               CAST(0 AS INTEGER) AS offset FROM w
        UNION ALL
        SELECT doc_id, 'paragraph', norm, CAST(1 AS INTEGER)
        FROM w WHERE n_words >= 10
        UNION ALL
        SELECT doc_id, 'heading', 'More',
               CAST(CASE WHEN n_words >= 10 THEN 2 ELSE 1 END AS INTEGER)
        FROM w
        """,
        "per_host_salted": _SYNTH_ORACLE_CTE
        + """
        SELECT regexp_replace(regexp_extract(media_ref, '^https?://([^/]+)', 1),
                              '^www\\.', '') AS domain,
               count(*) AS n_links,
               CAST(sum(CASE WHEN kind = 'pdf' THEN 1 ELSE 0 END) AS BIGINT) AS n_pdf,
               CAST(sum(CASE WHEN kind = 'youtube' THEN 1 ELSE 0 END) AS BIGINT) AS n_youtube
        FROM links GROUP BY 1
        """,
        "pdf_layout": """
        SELECT doc_id,
               CAST(0 AS INTEGER) AS page,
               CAST(0 AS INTEGER) AS block_idx,
               'heading' AS kind,
               substr(sha256(text), 1, 16) AS text
        FROM documents
        UNION ALL
        SELECT doc_id, CAST(0 AS INTEGER), CAST(1 AS INTEGER), 'paragraph',
               substr(sha256(text || 'p'), 1, 32)
        FROM documents
        """,
        "content_stats": """
        SELECT 'https://content.example.org/d' || doc_id AS doc_id,
               CAST(6 AS INTEGER) AS blocks_total,
               CAST(2 + CASE WHEN len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) >= 10
                             THEN 1 ELSE 0 END AS INTEGER) AS blocks_kept,
               CAST(4 - CASE WHEN len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) >= 10
                             THEN 1 ELSE 0 END AS INTEGER) AS blocks_dropped
        FROM documents
        """,
        "classifier_regex": """
        SELECT doc_id,
          CASE doc_id % 5
            WHEN 0 THEN 'https://e.com/f' || doc_id || '.pdf'
            WHEN 1 THEN 'https://e.com/f' || doc_id || '.PDF?dl=1'
            WHEN 2 THEN 'https://youtube.com/watch?v=' || doc_id
            WHEN 3 THEN 'https://iframe.ly/api?url=https%3A%2F%2Fyoutu.be%2F' || doc_id
            ELSE 'https://pages.e.com/p' || doc_id
          END AS url,
          CASE WHEN doc_id % 7 = 0 THEN 'watch this' ELSE 't' || doc_id END AS text,
          CASE
            WHEN doc_id % 5 IN (0, 1) THEN 'pdf'       -- .pdf$ / .pdf[?#] (PDF checked first)
            WHEN doc_id % 5 = 2 THEN 'youtube'         -- watch URL
            WHEN doc_id % 7 = 0 THEN 'youtube'         -- 'watch' in text
            ELSE 'other'                               -- NB %5=3: no iframe.ly unwrap in Regex variant
          END AS kind
        FROM documents
        """,
        "nav_links": """
        WITH b AS (
          SELECT doc_id,
                 'https://nav' || (doc_id % 5) || '.example.org' AS host,
                 'https://nav' || (doc_id % 5) || '.example.org/idx' || doc_id || '.html' AS base
          FROM documents
        )
        SELECT base AS doc_id, host || '/page' || doc_id || '.html' AS nav_url,
               CAST(0 AS INTEGER) AS pos
        FROM b
        UNION ALL
        SELECT base, host || '/about', CAST(3 AS INTEGER) FROM b
        """,
        "youtube_manifest": _SYNTH_ORACLE_CTE
        + """
        SELECT DISTINCT media_ref AS url FROM links
        WHERE kind = 'youtube' ORDER BY url
        """,
        "pdf_manifest": _SYNTH_ORACLE_CTE
        + """
        SELECT media_ref AS url, text FROM links WHERE kind = 'pdf'
        QUALIFY row_number() OVER (PARTITION BY media_ref ORDER BY base, pos) = 1
        """,
        "group_by_domain": _SYNTH_ORACLE_CTE
        + """
        SELECT regexp_replace(regexp_extract(media_ref, '^https?://([^/]+)', 1),
                              '^www\\.', '') AS domain,
               count(*) AS n_links,
               count(DISTINCT base) AS n_docs
        FROM links GROUP BY 1
        """,
        "extract_errors": """
        WITH d AS (
          SELECT doc_id,
                 'https://host' || (doc_id % 7) || '.example.org/d' || doc_id || '.html' AS base
          FROM documents
        )
        SELECT base AS doc_id, 'url_validation' AS stage,
               'invalid_url' AS reason, 'http://' AS target,
               CAST(0 AS INTEGER) AS err_idx,
               substr(md5('r2errors|' || base), 1, 12) AS correlation_id
        FROM d
        UNION ALL
        SELECT base, 'text_selection', 'empty_text',
               'https://ok.example.com/x' || doc_id, CAST(1 AS INTEGER),
               substr(md5('r2errors|' || base), 1, 12)
        FROM d
        """,
        "url_batch": _SYNTH_ORACLE_CTE
        + """
        SELECT base AS doc_id, count(*) AS total_links,
               count(*) FILTER (WHERE kind = 'pdf') AS pdf_count,
               count(*) FILTER (WHERE kind = 'youtube') AS youtube_count,
               count(*) FILTER (WHERE kind = 'other') AS other_count
        FROM links
        WHERE base IN (SELECT base FROM d WHERE doc_id % 3 = 0
                       ORDER BY doc_id LIMIT 500)
        GROUP BY base
        """,
        "video_ids": """
        WITH u AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'https://www.youtube.com/watch?v=' || lpad(doc_id::VARCHAR, 11, 'A')
              WHEN 1 THEN 'https://youtube.com/embed/' || lpad(doc_id::VARCHAR, 11, 'A')
              WHEN 2 THEN 'https://youtu.be/' || lpad(doc_id::VARCHAR, 11, 'A')
              ELSE 'https://example.com/page.x' || doc_id
            END AS url
          FROM documents
        )
        SELECT doc_id, url,
               CASE WHEN doc_id % 4 IN (0, 1, 2)
                    THEN lpad(doc_id::VARCHAR, 11, 'A') ELSE NULL END AS vid
        FROM u
        """,
        "doc_link_stats": _SYNTH_ORACLE_CTE
        + """
        SELECT base AS doc_id,
               count(*) AS total_links,
               CAST(sum(CASE WHEN kind = 'pdf' THEN 1 ELSE 0 END) AS BIGINT) AS pdf_count,
               round(100.0 * sum(CASE WHEN kind = 'pdf' THEN 1 ELSE 0 END) / count(*), 1) AS pdf_pct,
               round(100.0 * sum(CASE WHEN kind = 'youtube' THEN 1 ELSE 0 END) / count(*), 1) AS youtube_pct,
               round(100.0 * sum(CASE WHEN kind = 'other' THEN 1 ELSE 0 END) / count(*), 1) AS other_pct,
               count(*) >= 10 AS is_content_rich,
               least(100.0,
                     least(count(*) * 5, 50)
                     + count(DISTINCT regexp_replace(
                         regexp_extract(media_ref, '^https?://([^/]+)', 1),
                         '^www\\.', '')) * 5.0
                     + sum(CASE WHEN kind = 'pdf' THEN 1 ELSE 0 END) * 10.0
               ) AS quality_score
        FROM links GROUP BY base
        """,
        "classifier_context": """
        WITH c AS (
          SELECT doc_id, trim(substr(text, 1, 12)) AS txt,
            CASE doc_id % 5
              WHEN 0 THEN 'https://e.com/f' || doc_id || '.pdf'
              WHEN 1 THEN 'https://e.com/f' || doc_id || '.PDF?dl=1'
              WHEN 2 THEN 'https://youtube.com/watch?v=' || doc_id
              WHEN 3 THEN 'https://iframe.ly/api?url=https%3A%2F%2Fyoutu.be%2F' || doc_id
              ELSE 'https://pages.e.com/p' || doc_id
            END AS url,
            CASE WHEN doc_id % 7 = 0 THEN 'watch this'
                 ELSE trim(substr(text, 1, 12)) END AS text
          FROM documents
        )
        SELECT doc_id, url, text,
          CASE
            WHEN doc_id % 5 IN (0, 1) THEN 'pdf'          -- .pdf$/.pdf[?#]
            WHEN doc_id % 5 = 2 THEN 'youtube'            -- watch URL
            WHEN doc_id % 5 = 3 THEN 'youtube'            -- iframe.ly url= unwrap
            WHEN doc_id % 7 = 0 THEN 'youtube'            -- 'watch' in text
            ELSE 'other'
          END AS kind
        FROM c
        """,
        "url_projections": """
        WITH u AS (
          SELECT doc_id,
            CASE doc_id % 3
              WHEN 0 THEN 'https://www.h' || (doc_id % 5) || '.example.com/files/a' || doc_id || '.pdf'
              WHEN 1 THEN 'http://h' || (doc_id % 5) || '.example.org/p' || doc_id
              ELSE 'https://media.example.net/x/y/z' || doc_id || '.tar.gz'
            END AS url
          FROM documents
        )
        SELECT doc_id, url,
          regexp_replace(regexp_extract(url, '^https?://([^/]+)', 1), '^www\\.', '') AS domain,
          nullif(regexp_extract(lower(regexp_replace(url, '^https?://[^/]+', '')), '\\.([^./]+)$', 1), '') AS file_ext,
          CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 3 END AS INTEGER) AS url_depth,
          (url LIKE 'https://%') AS is_secure
        FROM u
        """,
        "agg_counts": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 6) AS avg_disc
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "link_distribution": """
        SELECT o_orderpriority, count(*) AS n,
               round(count(*) * 100.0 / (SELECT count(*) FROM orders), 1) AS pct
        FROM orders GROUP BY o_orderpriority
        """,
        "quality_score_rel": """
        WITH per AS (
          SELECT o_custkey, count(*) AS n_orders,
                 count(DISTINCT o_orderpriority) AS n_prio,
                 sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n_urgent
          FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey,
               least(100.0, least(n_orders * 5, 50) + n_prio * 5.0 + n_urgent * 10.0) AS quality_score
        FROM per
        """,
        "group_by_source": """
        SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
               count(DISTINCT lang) AS n_langs
        FROM documents GROUP BY source
        """,
        "anti_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "join_agg": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        "priority_order": """
        SELECT doc_id,
               CASE WHEN regexp_matches(text, '(?i)(spark|stream)') THEN 0 ELSE 1 END AS priority
        FROM documents
        ORDER BY priority, doc_id LIMIT 50
        """,
        "dedup_first_wins": """
        SELECT user_id, event_id, event_type FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ) WHERE rn = 1
        """,
        "window_rank": """
        SELECT user_id, event_id, CAST(rn AS INTEGER) AS rn FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ) WHERE rn <= 3
        """,
        "sessionize": """
        WITH x AS (
          SELECT user_id, event_id,
                 CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
        ), s AS (
          SELECT user_id,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id) AS session_id
          FROM x
        )
        SELECT user_id, CAST(max(session_id) + 1 AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM s GROUP BY user_id
        """,
        "windowed_counts": """
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               event_type AS kind,
               count(*) AS n_spans
        FROM events GROUP BY 1, 2
        """,
        "dedup_exact": """
        WITH fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
          FROM documents
        ), canon AS (SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f)
        SELECT fp.doc_id, canon.canonical_id,
               fp.doc_id <> canon.canonical_id AS is_duplicate
        FROM fp JOIN canon ON fp.f = canon.f
        """,
        "ngram_jaccard": f"""
        WITH t AS ({_TOKS_CTE}),
        g AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
          FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
          WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        """,
        "token_stats": f"""
        WITH t AS ({_TOKS_CTE})
        SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_subwords,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM t
        """,
        "lang_detect": f"""
        WITH t AS ({_TOKS_CTE})
        SELECT doc_id, {lang_case} AS lang_guess FROM t
        """,
        "quality_scores": f"""
        WITH t AS ({_TOKS_CTE})
        SELECT doc_id, {quality_expr} AS q FROM t
        """,
        "domain_curation": f"""
        WITH t AS ({_TOKS_CTE}),
        d AS (
          SELECT doc_id,
                 'host' || (doc_id % 37) || '.example.org' AS domain,
                 {quality_expr} AS q
          FROM t
        ),
        g AS (
          SELECT domain, count(*) AS n_docs,
                 round(avg(q), 6) AS mean_q,
                 round(avg(CASE WHEN q < 25.0 THEN 1.0 ELSE 0.0 END), 6)
                   AS low_frac
          FROM d GROUP BY domain
        )
        SELECT d.doc_id, d.domain, d.q, g.n_docs, g.mean_q, g.low_frac,
               (g.n_docs < 10 OR g.mean_q >= 33.5) AS keep_domain
        FROM d JOIN g USING (domain)
        """,
        "quality_filters": f"""
        WITH {_QUALITY_CTE}
        SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
               round(mean_word_len, 6) AS mean_word_len,
               round(symbol_word_ratio, 6) AS symbol_word_ratio,
               has_lorem, has_brace, keep
        FROM quality
        """,
        "moving_average": """
        WITH b AS (
          SELECT event_type, date_trunc('hour', ts) AS bin_ts FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ),
        c AS (
          SELECT event_type, bin_ts, count(*) AS n FROM b GROUP BY 1, 2
        ),
        r AS (SELECT min(bin_ts) AS lo, max(bin_ts) AS hi FROM b),
        grid AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bin_ts
          FROM r
        ),
        spine AS (
          SELECT k.event_type, g.bin_ts
          FROM (SELECT DISTINCT event_type FROM events) k CROSS JOIN grid g
        ),
        s AS (
          SELECT s.event_type, s.bin_ts, coalesce(c.n, 0) AS n
          FROM spine s LEFT JOIN c USING (event_type, bin_ts)
        )
        SELECT event_type, bin_ts, n,
               round(avg(n) OVER (PARTITION BY event_type ORDER BY bin_ts
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                     6) AS ma4
        FROM s
        """,
        "unpivot_counts": """
        WITH w AS (
          SELECT source,
                 count(*) FILTER (lang = 'en') AS n_en,
                 count(*) FILTER (lang = 'es') AS n_es,
                 count(*) FILTER (lang = 'de') AS n_de,
                 count(*) FILTER (lang = 'fr') AS n_fr
          FROM documents GROUP BY source
        )
        SELECT source, lang, n_docs FROM (
          SELECT source, 'en' AS lang, n_en AS n_docs FROM w
          UNION ALL SELECT source, 'es', n_es FROM w
          UNION ALL SELECT source, 'de', n_de FROM w
          UNION ALL SELECT source, 'fr', n_fr FROM w
        )
        """,
        "resample_counts": """
        WITH b AS (
          SELECT event_type, date_trunc('hour', ts) AS bin_ts FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ),
        c AS (
          SELECT event_type, bin_ts, count(*) AS n FROM b GROUP BY 1, 2
        ),
        r AS (SELECT min(bin_ts) AS lo, max(bin_ts) AS hi FROM b),
        grid AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bin_ts
          FROM r
        ),
        spine AS (
          SELECT k.event_type, g.bin_ts
          FROM (SELECT DISTINCT event_type FROM events) k CROSS JOIN grid g
        )
        SELECT s.event_type, s.bin_ts, coalesce(c.n, 0) AS n
        FROM spine s LEFT JOIN c USING (event_type, bin_ts)
        """,
        "json_props": """
        SELECT event_type,
               count(k) AS n,
               min(k) AS min_k,
               max(k) AS max_k,
               round(avg(k), 6) AS avg_k
        FROM (
          SELECT event_type,
                 CAST(json_extract(props, '$.k') AS INTEGER) AS k
          FROM events
        ) GROUP BY event_type
        """,
        "pivot_counts": """
        SELECT source,
               count(*) FILTER (lang = 'en') AS n_en,
               count(*) FILTER (lang = 'es') AS n_es,
               count(*) FILTER (lang = 'de') AS n_de,
               count(*) FILTER (lang = 'fr') AS n_fr
        FROM documents GROUP BY source
        """,
        "value_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS p25,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.75), 6) AS p75
        FROM events GROUP BY event_type
        """,
        "curation_manifest": f"""
        WITH {_QUALITY_CTE},
        fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents
        ),
        canon AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY fp),
        dup AS (
          SELECT f.doc_id, f.doc_id <> c.canonical_id AS is_duplicate
          FROM fp f JOIN canon c USING (fp)
        ),
        nrm AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
          FROM documents
        ),
        tok AS (
          SELECT doc_id, t,
                 list_filter(string_split(t, ' '), x -> x <> '') AS w
          FROM nrm
        ),
        b AS (
          SELECT doc_id AS snippet_id,
                 array_to_string(w[5:12], ' ') AS snippet
          FROM tok
          WHERE doc_id % 97 = 3 AND len(w) >= 12
        ),
        cont AS (
          SELECT DISTINCT nrm.doc_id
          FROM nrm JOIN b ON contains(nrm.t, b.snippet)
        )
        SELECT q.doc_id, q.keep AS keep_quality,
               coalesce(d.is_duplicate, false) AS is_duplicate,
               (cont.doc_id IS NOT NULL) AS is_contaminated,
               (q.keep AND NOT coalesce(d.is_duplicate, false)
                AND cont.doc_id IS NULL) AS selected
        FROM quality q
        LEFT JOIN dup d USING (doc_id)
        LEFT JOIN cont USING (doc_id)
        """,
        "repetition_scores": f"""
        WITH t AS ({_TOKS_CTE}),
        per AS (
          SELECT doc_id,
                 round(CASE WHEN len(w) > 0
                       THEN 1.0 - len(list_distinct(w))::DOUBLE / len(w)
                       ELSE 0.0 END, 6) AS dup_word_frac
          FROM t
        ),
        g AS (
          SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
          FROM t, UNNEST(range(1, len(w))) AS u(i)
        ),
        c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        top AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                 round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac
          FROM c GROUP BY 1
        )
        SELECT per.doc_id, per.dup_word_frac,
               coalesce(top.n_bigrams, 0) AS n_bigrams,
               coalesce(top.top_bigram_frac, 0.0) AS top_bigram_frac
        FROM per LEFT JOIN top USING (doc_id)
        """,
        "line_dedup": """
        WITH m AS (
          SELECT doc_id,
                 'COOKIE NOTICE ' || source || chr(10) ||
                 substr(text, 1, 60) || chr(10) ||
                 substr(text, 61, 60) || chr(10) ||
                 'copyright ' || lang AS text
          FROM documents
        ),
        s AS (SELECT doc_id, string_split(text, chr(10)) AS ln FROM m),
        l AS (
          SELECT doc_id, i - 1 AS pos, ln[i] AS line,
                 lower(trim(ln[i])) AS key
          FROM s, UNNEST(range(1, len(ln) + 1)) AS u(i)
        ),
        b AS (
          SELECT key FROM l WHERE key <> ''
          GROUP BY key HAVING count(DISTINCT doc_id) >= 5
        )
        SELECT l.doc_id,
               coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                        FILTER (WHERE b.key IS NULL), '') AS text,
               count(*) FILTER (WHERE b.key IS NULL) AS n_lines_kept,
               count(*) FILTER (WHERE b.key IS NOT NULL) AS n_lines_dropped
        FROM l LEFT JOIN b ON l.key = b.key
        GROUP BY l.doc_id
        """,
        "chunk_docs": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> '') AS w
          FROM documents
        ),
        p AS (
          SELECT doc_id, w,
                 1 + greatest(0, (len(w) - 32 + 23) // 24) AS n_chunks
          FROM t
        )
        SELECT doc_id, i AS chunk_id,
               len(w[i*24 + 1 : i*24 + 32]) AS n_tokens,
               array_to_string(w[i*24 + 1 : i*24 + 32], ' ') AS chunk_text
        FROM p, UNNEST(range(0, n_chunks)) AS u(i)
        """,
        "pii_redact": """
        WITH wired AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id ||
                 '@example.com or +1415555' ||
                 lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
                 ' from 10.0.' || (doc_id % 256) || '.7' AS text
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '\\+[0-9]{7,15}', '<PHONE>', 'g'),
                 '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                 '<IPV4>', 'g') AS redacted,
               len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(text, '\\+[0-9]{7,15}')) AS n_phone,
               len(regexp_extract_all(text,
                 '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ipv4
        FROM wired
        """,
        # portable two-round hash shared with operators/corpus.py:
        # h = (((doc_id + seed) * 2654435761) % 2147483647 * 48271)
        #     % 2147483647  — exact int64 on both engines.
        "shard_corpus": """
        WITH h AS (
          SELECT doc_id,
                 (((doc_id + 42) * 2654435761) % 2147483647 * 48271)
                   % 2147483647 AS h
          FROM documents
        )
        SELECT doc_id, h % 8 AS shard,
               row_number() OVER (PARTITION BY h % 8
                                  ORDER BY h, doc_id) - 1 AS shard_pos
        FROM h
        """,
        "corpus_split": """
        WITH h AS (
          SELECT doc_id,
                 ((((doc_id + 7) * 2654435761) % 2147483647 * 48271)
                   % 2147483647) % 100 AS bucket
          FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 2 THEN 'val'
                    WHEN bucket < 5 THEN 'test'
                    ELSE 'train' END AS split
        FROM h
        """,
        "mixture_sample": """
        WITH rates AS (
          SELECT source,
                 ((regexp_extract(source, '(\\d+)$', 1)::BIGINT % 4) + 1)
                   / 4.0 AS rate
          FROM (SELECT DISTINCT source FROM documents)
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE (((d.doc_id + 1) * 2654435761) % 2147483647 * 48271)
                % 2147483647 % 1000000
              < (r.rate * 1000000)::BIGINT
        """,
        # Interleaved multimodal packing: replay the span synthesis,
        # the kind-aware cost model (media = 64 patch tokens, text =
        # whitespace token count) and the per-shard cumulative cut.
        "pack_interleaved": """
        WITH base AS (
          SELECT doc_id, coalesce(text, '') AS t FROM documents
        ),
        spans AS (
          SELECT doc_id, 0 AS span_idx, 'text' AS kind,
                 substr(t, 1, 100) AS text
          FROM base
          UNION ALL
          SELECT doc_id, 1, 'media', NULL FROM base WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, 2, 'text', substr(t, 101, 1000000)
          FROM base WHERE length(t) > 100
        ),
        cost AS (
          SELECT doc_id, span_idx, kind,
                 CAST(doc_id % 8 AS INT) AS shard,
                 CAST(CASE
                   WHEN kind = 'media' THEN 64
                   WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END AS BIGINT) AS n_tokens
          FROM spans
        ),
        packed AS (
          SELECT *,
                 sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id, span_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - n_tokens AS bef
          FROM cost
        )
        SELECT doc_id, span_idx, kind, shard, n_tokens,
               CAST(floor(bef / 256.0) AS BIGINT) AS pack_id,
               CAST(bef % 256 AS BIGINT) AS pack_offset
        FROM packed
        """,
        "pack_chunks": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> '') AS w
          FROM documents
        ),
        p AS (
          SELECT doc_id, w,
                 1 + greatest(0, (len(w) - 32 + 23) // 24) AS n_chunks
          FROM t
        ),
        c AS (
          SELECT doc_id, i AS chunk_id,
                 len(w[i*24 + 1 : i*24 + 32]) AS n_tokens
          FROM p, UNNEST(range(0, n_chunks)) AS u(i)
        ),
        sh AS (
          SELECT doc_id, h % 8 AS shard,
                 row_number() OVER (PARTITION BY h % 8
                                    ORDER BY h, doc_id) - 1 AS shard_pos
          FROM (SELECT doc_id,
                       (((doc_id + 7) * 2654435761) % 2147483647 * 48271)
                         % 2147483647 AS h
                FROM documents)
        ),
        j AS (
          SELECT c.doc_id, c.chunk_id, c.n_tokens, sh.shard, sh.shard_pos,
                 (sum(c.n_tokens) OVER (
                   PARTITION BY sh.shard
                   ORDER BY sh.shard_pos, c.chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ))::BIGINT - c.n_tokens AS before
          FROM c JOIN sh ON c.doc_id = sh.doc_id
        )
        SELECT doc_id, chunk_id, shard,
               before // 64 AS pack_id,
               before % 64 AS pack_offset
        FROM j
        """,
        "host_pagerank": _pagerank_oracle(iters=5, damping=0.85),
        # payload data bytes = md5(text) digest repeated 4x; sample i
        # is the little-endian int16 at data bytes (2i, 2i+1), i.e.
        # digest bytes ((2i)%16, (2i+1)%16) — recomputed here from the
        # hex string (strpos hex-digit math), no blob access needed.
        "audio_features": """
        WITH m AS (SELECT doc_id, md5(text) AS hx FROM documents),
        s AS (
          SELECT doc_id, i,
                 16*(strpos('0123456789abcdef',
                            substr(hx, ((2*i)%16)*2+1, 1))-1)
                   + (strpos('0123456789abcdef',
                              substr(hx, ((2*i)%16)*2+2, 1))-1) AS lo,
                 16*(strpos('0123456789abcdef',
                            substr(hx, ((2*i+1)%16)*2+1, 1))-1)
                   + (strpos('0123456789abcdef',
                              substr(hx, ((2*i+1)%16)*2+2, 1))-1) AS hi
          FROM m, UNNEST(range(0, 32)) AS u(i)
        ),
        v AS (
          SELECT doc_id, i,
                 lo + 256*hi - CASE WHEN hi >= 128 THEN 65536 ELSE 0 END
                   AS smp
          FROM s
        ),
        w AS (
          SELECT doc_id, smp,
                 CASE WHEN (smp < 0) <>
                           (lag(smp) OVER (PARTITION BY doc_id
                                           ORDER BY i) < 0)
                      THEN 1 ELSE 0 END AS flip
          FROM v
        )
        SELECT doc_id, TRUE AS decoded, 8000 AS sample_rate,
               1 AS n_channels, 32::BIGINT AS n_samples,
               4.0 AS duration_ms,
               round(sqrt(sum(smp*smp) / 32.0), 6) AS rms,
               coalesce(sum(flip), 0)::BIGINT AS zcr
        FROM w GROUP BY doc_id
        """,
        "ccnet_buckets": """
        WITH t AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(trim(text), ' '),
                                    x -> x <> '')) AS tok
          FROM documents
        ),
        c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
        tot AS (SELECT sum(cnt) AS total FROM c),
        s AS (
          SELECT doc_id,
                 round(ln((SELECT total FROM tot)) - avg(ln(cnt)), 6)
                   AS nll
          FROM t JOIN c USING (tok) GROUP BY doc_id
        ),
        b AS (
          SELECT doc_id, nll,
                 ntile(3) OVER (ORDER BY nll, doc_id) AS tle
          FROM s WHERE nll IS NOT NULL
        )
        SELECT doc_id, nll,
               CASE tle WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
        FROM b
        """,
        "session_windows": """
        WITH e AS (SELECT user_id, ts FROM events),
        m AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        i AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM m
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM i GROUP BY user_id, sid
        """,
        "vocab_topk": """
        WITH t AS (
          SELECT unnest(list_filter(string_split(trim(text), ' '),
                                    x -> x <> '')) AS tok
          FROM documents
        ),
        c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
        tot AS (SELECT sum(cnt) AS total FROM c),
        r AS (
          SELECT tok, cnt,
                 row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
                 sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
          FROM c
        )
        SELECT CAST(rank AS INTEGER) AS rank, tok, cnt,
               round(cum::DOUBLE / total, 6) AS coverage
        FROM r, tot WHERE rank <= 100
        """,
        "zorder_keys": f"""
        WITH b AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(l_partkey % 65536 AS BIGINT) AS x,
                 CAST(l_suppkey % 65536 AS BIGINT) AS y
          FROM lineitem
        )
        SELECT l_orderkey, l_linenumber, x, y,
               ({_sql_spread('x')} | ({_sql_spread('y')} << 1)) AS zval
        FROM b
        """,
        "bpe_pairs": """
        WITH t AS (
          SELECT unnest(list_filter(string_split(trim(text), ' '),
                                    x -> x <> '')) AS w
          FROM documents
        ),
        wc AS (
          SELECT w, count(*) AS cnt FROM t
          WHERE regexp_matches(w, '^[a-z0-9]+$') AND len(w) >= 2
          GROUP BY w
        ),
        p AS (
          SELECT unnest(list_transform(range(1, len(w)),
                                       i -> substring(w, i::INT, 2))) AS pair,
                 cnt
          FROM wc
        ),
        a AS (SELECT pair, sum(cnt) AS cnt FROM p GROUP BY pair),
        r AS (SELECT pair, cnt,
                     row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank
              FROM a)
        SELECT CAST(rank AS INTEGER) AS rank, pair,
               substring(pair, 1, 1) AS left_sym,
               substring(pair, 2, 1) AS right_sym,
               CAST(cnt AS BIGINT) AS cnt
        FROM r WHERE rank <= 200
        """,
        "warc_roundtrip": """
        SELECT doc_id, text FROM documents
        """,
        "warc_cdx": """
        WITH d AS (
          SELECT doc_id,
                 'https://w' || (doc_id % 7) || '.example.com/doc/'
                   || doc_id AS uri,
                 octet_length(encode(text)) AS n,
                 doc_id % 8 AS blob_id
          FROM documents
        ),
        r AS (
          SELECT *,
                 74 + octet_length(encode(uri))
                    + length(CAST(n AS VARCHAR)) + n AS rec_bytes
          FROM d
        ),
        o AS (
          SELECT *,
                 CAST(coalesce(sum(rec_bytes) OVER (
                   PARTITION BY blob_id ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS rec_offset
          FROM r
        )
        SELECT 'com,example,w' || (doc_id % 7) || ')/doc/' || doc_id
                 AS urlkey,
               blob_id, rec_offset,
               CAST(rec_bytes AS BIGINT) AS rec_bytes,
               uri AS target_uri
        FROM o
        """,
        "url_blocklist": """
        WITH u AS (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 3 = 0 THEN
                     'https://www.h' || (doc_id % 5) ||
                     '.example.com/files/a' || doc_id || '.pdf'
                   WHEN doc_id % 3 = 1 THEN
                     'http://h' || (doc_id % 5) ||
                     '.example.org/p' || doc_id
                   ELSE
                     'https://media.example.net/x/y/z' || doc_id ||
                     '.tar.gz'
                 END AS url
          FROM documents
        ),
        p AS (
          SELECT doc_id, url,
                 regexp_replace(
                   lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)),
                   '^(www\\.)+', '') AS host,
                 coalesce(regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1),
                          '') AS path
          FROM u
        ),
        b(bhost, bprefix) AS (
          VALUES ('h0.example.com', '/files'),
                 ('h2.example.org', ''),
                 ('media.example.net', '/x/y')
        )
        SELECT doc_id, url FROM p
        WHERE NOT EXISTS (
          SELECT 1 FROM b
          WHERE b.bhost = p.host AND starts_with(p.path, b.bprefix)
        )
        """,
        "robots_rules": """
        WITH hid AS (SELECT DISTINCT doc_id % 50 AS hid FROM documents),
        r AS (
          SELECT 'h' || hid || '.example.com' AS host,
                 '# synthetic robots' || chr(10) ||
                 'User-agent: googlebot' || chr(10) ||
                 'Disallow: /private' || hid || chr(10) || chr(10) ||
                 'User-agent: *' || chr(10) ||
                 CASE WHEN hid % 3 = 0
                      THEN 'User-agent: extra' || chr(10) ELSE '' END ||
                 'Disallow: /tmp' || hid || chr(10) ||
                 CASE WHEN hid % 2 = 0
                      THEN 'Disallow: /cgi' || chr(10)
                      ELSE 'Allow: /pub' || chr(10) END ||
                 'Disallow:' || chr(10) || 'Crawl-delay: 5' AS robots
          FROM hid
        ),
        ls AS (SELECT host, string_split(robots, chr(10)) AS l FROM r),
        lines AS (
          SELECT host, i AS line_no,
                 trim(regexp_replace(l[i], '#.*$', '')) AS line
          FROM ls, UNNEST(range(1, len(l) + 1)) AS u(i)
        ),
        tagged AS (
          SELECT host, line_no,
                 lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
                   AS field,
                 trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$', 1))
                   AS value
          FROM lines
          WHERE regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1) <> ''
        ),
        g AS (
          SELECT *, CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END
                      AS is_agent
          FROM tagged
        ),
        g2 AS (
          SELECT *, CASE WHEN is_agent = 1 AND coalesce(
                           lag(is_agent) OVER (PARTITION BY host
                                               ORDER BY line_no), 0) = 0
                         THEN 1 ELSE 0 END AS gs
          FROM g
        ),
        g3 AS (
          SELECT *, sum(gs) OVER (PARTITION BY host ORDER BY line_no)
                      AS group_id
          FROM g2
        ),
        grp AS (
          SELECT host, group_id,
                 max(CASE WHEN lower(value) = '*' THEN 1 ELSE 0 END) AS m
          FROM g3 WHERE is_agent = 1 GROUP BY host, group_id
        )
        SELECT DISTINCT g3.host AS host, g3.value AS path_prefix
        FROM g3 JOIN grp USING (host, group_id)
        WHERE g3.field = 'disallow' AND length(g3.value) > 0
          AND grp.m = 1
        """,
        "sitemap_urls": """
        WITH hid AS (SELECT DISTINCT doc_id % 40 AS hid FROM documents),
        m AS (
          SELECT 's' || hid || '.example.com' AS host,
                 CASE WHEN hid % 5 = 0 THEN
                   '<sitemapindex><sitemap><loc>https://s' || hid ||
                   '.example.com/sitemap1.xml</loc></sitemap>' ||
                   '<sitemap><loc>https://s' || hid ||
                   '.example.com/sitemap2.xml</loc></sitemap>' ||
                   '</sitemapindex>'
                 ELSE
                   '<?xml version="1.0"?><urlset><url><loc>https://s'
                   || hid ||
                   '.example.com/a</loc><lastmod>2026-01-01</lastmod>'
                   || '</url><url><loc>  https://s' || hid ||
                   '.example.com/b  </loc></url><url><loc>https://s'
                   || hid || '.example.com/c</loc></url></urlset>'
                 END AS sitemap
          FROM hid
        ),
        u AS (
          SELECT host,
                 unnest(regexp_extract_all(
                   sitemap, '<loc>\\s*(.*?)\\s*</loc>', 1)) AS url,
                 contains(sitemap, '<sitemapindex') AS is_index
          FROM m
        )
        SELECT DISTINCT host, url, is_index FROM u WHERE length(url) > 0
        """,
        # Closed-form politeness schedule: delay from hid arithmetic
        # (every 5th host falls back to the 1.0 s default), slots from
        # a priority-desc/url-asc window — fully independent of the
        # Spark side's robots parse + scheduler composition.
        "crawl_schedule": """
        WITH f AS (
          SELECT doc_id % 50 AS hid,
                 'h' || (doc_id % 50) || '.example.com' AS host,
                 'https://h' || (doc_id % 50) || '.example.com/p/'
                   || doc_id AS url,
                 doc_id % 10 AS priority
          FROM documents
        ),
        s AS (
          SELECT host, url,
                 row_number() OVER (
                   PARTITION BY host ORDER BY priority DESC, url ASC
                 ) - 1 AS slot,
                 CASE WHEN hid % 5 = 0 THEN 1.0
                      ELSE CAST(hid % 7 + 1 AS DOUBLE) END AS delay_s
          FROM f
        )
        SELECT host, url, CAST(slot AS INT) AS slot, delay_s,
               round(slot * delay_s, 6) AS fetch_at_s
        FROM s
        """,
        # Closed-form REP decisions: expected allow/disallow and the
        # winning prefix stated directly from the (doc_id%5, hid%4)
        # synthesis arithmetic — independent of the robots parse and
        # the longest-match evaluation.
        "robots_decisions": """
        WITH u AS (
          SELECT doc_id, doc_id % 30 AS hid,
                 'h' || (doc_id % 30) || '.example.com' AS host,
                 CASE doc_id % 5
                   WHEN 0 THEN '/a/x' || doc_id
                   WHEN 1 THEN '/a/b/' || doc_id
                   WHEN 2 THEN '/tmp/' || doc_id
                   WHEN 3 THEN '/tmp/pub/' || doc_id
                   ELSE '/free/' || doc_id END AS path
          FROM documents
        )
        SELECT doc_id, 'https://' || host || path AS url,
               CASE doc_id % 5
                 WHEN 0 THEN FALSE
                 WHEN 1 THEN TRUE
                 WHEN 2 THEN FALSE
                 WHEN 3 THEN (hid % 4 = 0)
                 ELSE TRUE END AS allowed,
               CASE doc_id % 5
                 WHEN 0 THEN '/a'
                 WHEN 1 THEN '/a/b'
                 WHEN 2 THEN '/tmp'
                 WHEN 3 THEN CASE WHEN hid % 4 = 0 THEN '/tmp/pub'
                                  ELSE '/tmp' END
                 ELSE NULL END AS matched_prefix
        FROM u
        """,
        "crawl_seeds": """
        WITH hid AS (SELECT DISTINCT doc_id % 40 AS hid FROM documents),
        u AS (
          SELECT hid,
                 'https://s' || hid || '.example.com' AS base, p.path
          FROM hid, (VALUES ('/a/1'), ('/b/1'), ('/c/1')) AS p(path)
        )
        SELECT base || path AS url FROM u
        WHERE NOT (path LIKE '/a%' AND hid % 2 = 0)
          AND NOT (path LIKE '/c%' AND hid % 3 = 0)
        """,
        "corpus_health": """
        SELECT count(*) AS n_docs,
               CAST(sum(len(list_filter(string_split(trim(text), ' '),
                                        x -> x <> ''))) AS BIGINT)
                 AS total_tokens,
               count(DISTINCT md5(regexp_replace(lower(trim(text)),
                                                 '\\s+', ' ', 'g')))
                 AS n_unique,
               count(*) - count(DISTINCT
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                 AS n_exact_dups,
               round(avg(n_chars), 6) AS mean_chars,
               count(DISTINCT source) AS n_sources,
               count(DISTINCT lang) AS n_langs
        FROM documents
        """,
        "dedup_incremental": """
        WITH batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
          WHERE doc_id % 3 = 1
          UNION ALL
          SELECT doc_id + 2000000, text FROM documents
          WHERE doc_id % 9 = 0
        ),
        b AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp
          FROM batch
        ),
        first AS (
          SELECT doc_id, fp FROM b
          QUALIFY row_number() OVER (PARTITION BY fp
                                     ORDER BY doc_id) = 1
        ),
        seen AS (
          SELECT DISTINCT
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp
          FROM documents WHERE doc_id % 3 <> 0
        )
        SELECT f.doc_id, f.fp
        FROM first f
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = f.fp)
        """,
        "temperature_mixture": """
        WITH c AS (
          SELECT source, count(*) AS n FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(n) AS n_total FROM c),
        w AS (
          SELECT source, n, pow(n * 1.0 / n_total, 0.3) AS w
          FROM c, tot
        ),
        z AS (SELECT sum(w) AS Z FROM w),
        r AS (
          SELECT source, least(1.0, w / Z * 300.0 / n) AS rate
          FROM w, z
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN r ON d.source = r.source
        WHERE (((d.doc_id + 5) * 2654435761) % 2147483647 * 48271)
                % 2147483647 % 1000000
              < (r.rate * 1000000)::BIGINT
        """,
        "weighted_sample": """
        WITH d AS (
          SELECT doc_id,
                 len(list_filter(string_split(trim(text), ' '),
                                 x -> x <> '')) AS weight
          FROM documents
        ),
        k AS (
          SELECT doc_id, weight,
                 round(
                   -ln(((((doc_id + 11) * 2654435761) % 2147483647
                         * 48271) % 2147483647 + 1) / 2147483647.0)
                   / greatest(weight::DOUBLE, 1e-12), 6) AS es_key
          FROM d
        )
        SELECT doc_id, weight, es_key
        FROM k ORDER BY es_key, doc_id LIMIT 100
        """,
        "stratified_sample": """
        WITH h AS (
          SELECT doc_id, source,
                 (((doc_id + 13) * 2654435761) % 2147483647 * 48271)
                   % 2147483647 AS h
          FROM documents
        ),
        r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY h, doc_id) AS draw
          FROM h
        )
        SELECT doc_id, source, draw FROM r WHERE draw <= 20
        """,
        "dsir_weights": """
        WITH t AS (
          SELECT doc_id,
                 (regexp_extract(source, '(\\d+)$', 1)::BIGINT % 4) = 0
                   AS tgt,
                 list_filter(string_split(trim(lower(text)), ' '),
                             x -> x <> '') AS toks
          FROM documents
        ),
        uni AS (SELECT DISTINCT unnest(toks) AS tok FROM t),
        vocab AS (
          SELECT tok, row_number() OVER (ORDER BY tok) AS tid FROM uni
        ),
        b AS (
          SELECT doc_id, tgt,
                 unnest(list_transform(range(1, len(toks)),
                        i -> toks[i::INT] || ' ' || toks[(i+1)::INT]))
                   AS bg
          FROM t WHERE len(toks) >= 2
        ),
        f AS (
          SELECT b.doc_id, b.tgt,
                 ((v1.tid * 2654435761 + v2.tid * 48271 + 17)
                   % 2147483647) % 64 AS bucket
          FROM b
          JOIN vocab v1 ON split_part(b.bg, ' ', 1) = v1.tok
          JOIN vocab v2 ON split_part(b.bg, ' ', 2) = v2.tok
        ),
        c AS (
          SELECT bucket,
                 sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt,
                 count(*) AS c_raw
          FROM f GROUP BY bucket
        ),
        tot AS (SELECT sum(c_tgt) AS tt, sum(c_raw) AS tr FROM c),
        lr AS (
          SELECT bucket,
                 ln((c_tgt + 1) / (tt + 64))
                   - ln((c_raw + 1) / (tr + 64)) AS lr
          FROM c, tot
        ),
        s AS (
          SELECT f.doc_id, count(*) AS n_feats,
                 round(sum(lr.lr), 6) AS dsir_logw
          FROM f JOIN lr USING (bucket) GROUP BY f.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
               s.dsir_logw
        FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "bigram_nll": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(trim(lower(text)), ' '),
                             x -> x <> '') AS toks
          FROM documents
        ),
        b AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> toks[i::INT] || ' ' || toks[(i+1)::INT])) AS bg
          FROM t WHERE len(toks) >= 2
        ),
        c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
               FROM c2 GROUP BY 1),
        s AS (
          SELECT b.doc_id, count(*) AS n_bigrams,
                 round(avg(ln(c1.c1) - ln(c2.c2)), 6) AS nll
          FROM b
          JOIN c2 USING (bg)
          JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
          GROUP BY b.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               s.nll
        FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "unigram_nll": """
        WITH t AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(trim(text), ' '),
                                    x -> x <> '')) AS tok
          FROM documents
        ),
        c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
        tot AS (SELECT sum(cnt) AS total FROM c),
        s AS (
          SELECT doc_id, count(*) AS n_tokens,
                 round(ln((SELECT total FROM tot)) - avg(ln(cnt)), 6)
                   AS nll
          FROM t JOIN c USING (tok) GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens, s.nll
        FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "token_budget": """
        WITH d AS (
          SELECT doc_id, source,
                 len(list_filter(string_split(trim(text), ' '),
                                 x -> x <> '')) AS n_tokens
          FROM documents
        ),
        b AS (
          SELECT source,
                 ((regexp_extract(source, '(\\d+)$', 1)::BIGINT % 3) + 1)
                   * 200 AS token_budget
          FROM (SELECT DISTINCT source FROM documents)
        ),
        h AS (
          SELECT d.*, b.token_budget,
                 (((doc_id + 2) * 2654435761) % 2147483647 * 48271)
                   % 2147483647 AS hh
          FROM d JOIN b USING (source)
        ),
        c AS (
          SELECT *, coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY hh, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS before
          FROM h
        )
        SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens
        FROM c WHERE before < token_budget
        """,
        "clean_text": """
        SELECT doc_id,
               trim(regexp_replace(
                 regexp_replace(
                   nfc_normalize('  Cafe' || chr(769) || chr(9) || ' '
                                 || text || '  a' || chr(778) || 'b'
                                 || chr(7) || 'c  '),
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                 '\\s+', ' ', 'g')) AS cleaned
        FROM documents
        """,
        "snapshot_diff": """
        WITH old AS (SELECT doc_id, text FROM documents),
        new AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 10 <> 0
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
          WHERE doc_id % 13 = 0
        ),
        j AS (
          SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
                 old.doc_id IS NOT NULL AS has_old,
                 new.doc_id IS NOT NULL AS has_new,
                 old.text AS t_old, new.text AS t_new
          FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        )
        SELECT doc_id,
               CASE WHEN NOT has_old THEN 'added'
                    WHEN NOT has_new THEN 'removed'
                    WHEN coalesce(t_old, '') <> coalesce(t_new, '')
                      THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM j
        """,
        "anchor_index": """
        WITH l AS (
          SELECT doc_id,
                 'https://t.example.com/p' || (doc_id % 50) AS target,
                 trim(substr(text, 1, 12)) AS text
          FROM documents
          UNION ALL
          SELECT doc_id, 'https://hot.example.com/' AS target,
                 trim(substr(text, 13, 8)) AS text
          FROM documents
        ),
        p AS (SELECT target, text, count(*) AS cnt FROM l GROUP BY 1, 2),
        r AS (
          SELECT target, text,
                 row_number() OVER (PARTITION BY target
                                    ORDER BY cnt DESC, text ASC) AS rank
          FROM p
        ),
        topk AS (
          SELECT target,
                 array_to_string(list(text ORDER BY rank), chr(31))
                   AS top_texts
          FROM r WHERE rank <= 3 GROUP BY target
        ),
        tot AS (
          SELECT target, count(*) AS n_refs,
                 count(DISTINCT doc_id) AS n_docs
          FROM l GROUP BY 1
        )
        SELECT tot.target, n_refs, n_docs, top_texts
        FROM tot JOIN topk USING (target)
        """,
        "heavy_hitters": """
        WITH k AS (
          SELECT CASE WHEN user_id % 50 < 10 THEN 'hot' || (user_id % 3)
                      ELSE 'cold' || user_id END AS host
          FROM events
        ),
        t AS (SELECT count(*) AS total FROM k),
        g AS (SELECT host, count(*) AS n FROM k GROUP BY 1)
        SELECT host, n, round(n::DOUBLE / total, 6) AS frac
        FROM g, t WHERE n >= ceil(0.03 * total)
        """,
        # Duplicate-substring spans: a position is duplicated when its
        # 8-token gram occurs >= 2 times corpus-wide (within-doc repeats
        # count); overlapping/adjacent duplicated windows merge into
        # maximal spans (break when start > prev_start + 8 — window
        # lengths are all k, so prev_start + k IS the running max end).
        "dup_substrings": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ),
        g AS (
          SELECT doc_id, i AS start,
                 array_to_string(w[i+1:i+8], ' ') AS gram
          FROM t, UNNEST(range(0, greatest(len(w) - 7, 0))) AS u(i)
        ),
        c AS (
          SELECT doc_id, start,
                 count(*) OVER (PARTITION BY gram) AS cnt
          FROM g
        ),
        d AS (SELECT doc_id, start FROM c WHERE cnt >= 2),
        m AS (
          SELECT doc_id, start,
                 CASE WHEN lag(start) OVER win IS NULL
                        OR start > lag(start) OVER win + 8
                      THEN 1 ELSE 0 END AS brk
          FROM d WINDOW win AS (PARTITION BY doc_id ORDER BY start)
        ),
        i AS (
          SELECT doc_id, start,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY start)
                   AS island
          FROM m
        )
        SELECT doc_id, min(start) AS span_start,
               max(start) + 8 AS span_end,
               max(start) + 8 - min(start) AS span_tokens
        FROM i GROUP BY doc_id, island
        """,
        # Coverage form over the same spans; the Spark side runs the
        # xxhash64-keyed shuffle, the oracle exact strings — so the
        # hash/string equivalence is oracle-checked, not just pytest'd.
        "dup_substring_stats": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ),
        g AS (
          SELECT doc_id, i AS start,
                 array_to_string(w[i+1:i+8], ' ') AS gram
          FROM t, UNNEST(range(0, greatest(len(w) - 7, 0))) AS u(i)
        ),
        c AS (
          SELECT doc_id, start,
                 count(*) OVER (PARTITION BY gram) AS cnt
          FROM g
        ),
        d AS (SELECT doc_id, start FROM c WHERE cnt >= 2),
        m AS (
          SELECT doc_id, start,
                 CASE WHEN lag(start) OVER win IS NULL
                        OR start > lag(start) OVER win + 8
                      THEN 1 ELSE 0 END AS brk
          FROM d WINDOW win AS (PARTITION BY doc_id ORDER BY start)
        ),
        i AS (
          SELECT doc_id, start,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY start)
                   AS island
          FROM m
        ),
        sp AS (
          SELECT doc_id, max(start) + 8 - min(start) AS span_tokens
          FROM i GROUP BY doc_id, island
        ),
        per AS (
          SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
          FROM sp GROUP BY doc_id
        )
        SELECT t.doc_id, len(t.w) AS n_tokens,
               coalesce(per.dup_tokens, 0) AS dup_tokens,
               round(CASE WHEN len(t.w) > 0
                          THEN coalesce(per.dup_tokens, 0)::DOUBLE / len(t.w)
                          ELSE 0.0 END, 6) AS dup_fraction
        FROM t LEFT JOIN per USING (doc_id)
        """,
        # Removal transform over the same spans: rebuild the cleaned
        # text by anti-joining token positions against the span ranges
        # and re-joining in position order.  A doc whose every token is
        # removed aggregates to no row -> coalesce to '' (Spark's
        # array_join of an empty array).
        "dup_remove": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ),
        g AS (
          SELECT doc_id, i AS start,
                 array_to_string(w[i+1:i+8], ' ') AS gram
          FROM t, UNNEST(range(0, greatest(len(w) - 7, 0))) AS u(i)
        ),
        c AS (
          SELECT doc_id, start,
                 count(*) OVER (PARTITION BY gram) AS cnt
          FROM g
        ),
        d AS (SELECT doc_id, start FROM c WHERE cnt >= 2),
        m AS (
          SELECT doc_id, start,
                 CASE WHEN lag(start) OVER win IS NULL
                        OR start > lag(start) OVER win + 8
                      THEN 1 ELSE 0 END AS brk
          FROM d WINDOW win AS (PARTITION BY doc_id ORDER BY start)
        ),
        i AS (
          SELECT doc_id, start,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY start)
                   AS island
          FROM m
        ),
        sp AS (
          SELECT doc_id, min(start) AS span_start,
                 max(start) + 8 AS span_end,
                 max(start) + 8 - min(start) AS span_tokens
          FROM i GROUP BY doc_id, island
        ),
        tok AS (
          SELECT doc_id, w[pos+1] AS tok, pos
          FROM t, UNNEST(range(0, len(w))) AS u(pos)
        ),
        kept AS (
          SELECT tok.doc_id, tok.tok, tok.pos
          FROM tok
          WHERE NOT EXISTS (
            SELECT 1 FROM sp
            WHERE sp.doc_id = tok.doc_id
              AND sp.span_start <= tok.pos AND tok.pos < sp.span_end
          )
        ),
        agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
          FROM kept GROUP BY doc_id
        ),
        rem AS (
          SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS removed_tokens
          FROM sp GROUP BY doc_id
        )
        SELECT t.doc_id, len(t.w) AS n_tokens,
               coalesce(rem.removed_tokens, 0) AS removed_tokens,
               coalesce(agg.clean_text, '') AS clean_text
        FROM t
        LEFT JOIN agg USING (doc_id)
        LEFT JOIN rem USING (doc_id)
        """,
        # Independent closed form: the expected canonical is rebuilt
        # directly from the synthesis parts, never by parsing the URL.
        "canonical_urls": """
        WITH p AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END
                   AS scheme_raw,
                 CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
                   AS scheme,
                 'H' || (doc_id % 20) || '.Example.COM' AS host_raw,
                 'h' || (doc_id % 20) || '.example.com' AS host,
                 CASE WHEN doc_id % 3 = 0 THEN
                        CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
                      WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
                   AS port_raw,
                 CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
                   AS port_canon,
                 CASE WHEN doc_id % 5 = 0 THEN ''
                      ELSE '/A/' || doc_id END AS path_raw,
                 CASE WHEN doc_id % 5 = 0 THEN '/'
                      ELSE '/A/' || doc_id END AS path_canon,
                 CASE doc_id % 4 WHEN 0 THEN 'b=2&utm_source=x&a=1'
                                 WHEN 1 THEN 'utm_campaign=y'
                                 WHEN 2 THEN 'z=9' ELSE '' END AS q_raw,
                 CASE doc_id % 4 WHEN 0 THEN '?a=1&b=2'
                                 WHEN 2 THEN '?z=9' ELSE '' END AS q_canon,
                 CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END AS frag
          FROM documents
        )
        SELECT doc_id,
               scheme_raw || '://' || host_raw || port_raw || path_raw
                 || CASE WHEN q_raw = '' THEN '' ELSE '?' || q_raw END
                 || frag AS url,
               scheme || '://' || host || port_canon || path_canon
                 || q_canon AS canon
        FROM p
        """,
        # Brute-force all-pairs popcount over the same parity
        # fingerprint — the completeness check for the Spark side's
        # pigeonhole banding (which never compares all pairs).
        "hamming_neardup": f"""
        WITH fp AS (
          SELECT doc_id, CAST({parity_fp} AS BIGINT) AS fp
          FROM documents
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
        """,
        "decontam": """
        WITH n AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
          FROM documents
        ),
        tok AS (
          SELECT doc_id, t,
                 list_filter(string_split(t, ' '), x -> x <> '') AS w
          FROM n
        ),
        b AS (
          SELECT doc_id AS snippet_id,
                 array_to_string(w[5:12], ' ') AS snippet
          FROM tok
          WHERE doc_id % 97 = 3 AND len(w) >= 12
        )
        SELECT DISTINCT n.doc_id, b.snippet_id
        FROM n JOIN b ON contains(n.t, b.snippet)
        """,
        "contamination_score": f"""
        WITH t AS ({_TOKS_CTE}),
        g AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
          FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
          WHERE len(w) >= 8
        ),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        bench AS (
          SELECT DISTINCT array_to_string(w[5:12], ' ') AS gram
          FROM t WHERE doc_id % 97 = 3 AND len(w) >= 12
        ),
        hits AS (
          SELECT doc_id, count(*) AS n_hit
          FROM g JOIN bench USING (gram) GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(s.n_grams, 0) AS n_grams,
               coalesce(h.n_hit, 0) AS n_hit,
               round(CASE WHEN coalesce(s.n_grams, 0) > 0
                     THEN coalesce(h.n_hit, 0) * 1.0 / s.n_grams
                     ELSE 0.0 END, 6) AS frac,
               round(CASE WHEN coalesce(s.n_grams, 0) > 0
                     THEN coalesce(h.n_hit, 0) * 1.0 / s.n_grams
                     ELSE 0.0 END, 6) >= 0.01 AS dirty
        FROM t
        LEFT JOIN sizes s USING (doc_id)
        LEFT JOIN hits h USING (doc_id)
        """,
        "tfidf_topk": f"""
        WITH t AS ({_TOKS_CTE}),
        terms AS (SELECT doc_id, unnest(w) AS term FROM t),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 tf.tf * (ln((n.n_docs + 1)::DOUBLE / (df.df + 1)) + 1.0)
                   AS score
          FROM tf JOIN df USING (term) CROSS JOIN n
        ),
        ranked AS (
          SELECT doc_id, term, tf, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rank
          FROM scored
        )
        SELECT doc_id, term, tf, round(score, 6) AS tfidf,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 3
        """,
        "asof_join": """
        WITH l AS (
          SELECT event_id, ts, user_id, value FROM events
          WHERE event_type = 'click'
        ),
        r AS (
          SELECT user_id, ts,
                 arg_min(event_id, event_id) AS r_eid,
                 arg_min(value, event_id) AS r_val
          FROM events WHERE event_type = 'view' GROUP BY 1, 2
        )
        SELECT l.event_id, l.user_id,
               r.r_eid AS matched_event_id,
               r.r_val AS matched_value,
               epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "interval_join": """
        WITH iv AS (
          SELECT user_id AS iv_user, min(ts) AS w_start,
                 min(ts) + INTERVAL 30 MINUTE AS w_end
          FROM events GROUP BY user_id
        )
        SELECT iv.iv_user, count(*) AS n_in_window
        FROM iv JOIN events e
          ON e.ts >= iv.w_start AND e.ts <= iv.w_end
        GROUP BY iv.iv_user
        """,
        "dedup_clusters": f"""
        WITH RECURSIVE t AS ({_TOKS_CTE}),
        g AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
          FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
          WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        p AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        ),
        e AS (
          SELECT doc_a AS a, doc_b AS b FROM p
          UNION ALL SELECT doc_b, doc_a FROM p
        ),
        reach(a, b) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
        )
        SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
        """,
        "dedup_resolve": f"""
        WITH RECURSIVE t AS ({_TOKS_CTE}),
        g AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
          FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
          WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        p AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        ),
        e AS (
          SELECT doc_a AS a, doc_b AS b FROM p
          UNION ALL SELECT doc_b, doc_a FROM p
        ),
        reach(a, b) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
        ),
        c AS (
          SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
        )
        SELECT c.doc_id, c.cluster_id,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) = 1
                 AS is_canonical
        FROM c JOIN documents d USING (doc_id)
        """,
        "rollup_counts": """
        SELECT coalesce(source, '(all)') AS source,
               coalesce(lang, '(all)') AS lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY ROLLUP (source, lang)
        """,
        "embedding_neardup_exact": """
        WITH b AS (
          SELECT vec_id AS batch_id, embedding AS bv FROM embeddings
          WHERE vec_id < 200
        ),
        scored AS (
          SELECT b.batch_id, e.vec_id AS corpus_id,
                 round(list_cosine_similarity(b.bv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
          FROM embeddings e CROSS JOIN b
          WHERE e.vec_id <> b.batch_id
        )
        SELECT batch_id, corpus_id, cos_sim FROM scored WHERE cos_sim >= 0.4
        """,
        "winnow_fingerprints": """
        WITH d AS (
          SELECT doc_id, text, len(text) - 4 AS np FROM documents
          WHERE len(text) - 4 >= 4
        ),
        p AS (
          SELECT doc_id, text, np, unnest(range(1, np + 1)) AS pos FROM d
        ),
        h AS (
          SELECT doc_id, pos, np,
                 ((ord(substr(text, CAST(pos AS INTEGER), 1)) * CAST(4362470401 AS BIGINT)
                 + ord(substr(text, CAST(pos + 1 AS INTEGER), 1)) * 16974593
                 + ord(substr(text, CAST(pos + 2 AS INTEGER), 1)) * 66049
                 + ord(substr(text, CAST(pos + 3 AS INTEGER), 1)) * 257
                 + ord(substr(text, CAST(pos + 4 AS INTEGER), 1)))
                  % 2147483647) * 1048576 + pos AS hp
          FROM p
        ),
        s AS (
          SELECT doc_id, pos, np,
                 min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          FROM h
        )
        SELECT DISTINCT doc_id,
               CAST(sel % 1048576 AS BIGINT) AS fp_pos,
               CAST(sel // 1048576 AS BIGINT) AS fp_hash
        FROM s WHERE pos <= np - 3
        """,
        "similarity_topk": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
          ) AS rank
          FROM scored
        ) WHERE rank <= 5
        """,
        "media_features": """
        SELECT doc_id, CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
               sha256(text) AS content_hash
        FROM documents
        """,
        # SimHash recomputed in closed form: same ASCII-whitespace
        # tokenizer, same md5-8 big-endian token hash (the kernel uses
        # md5 for exactly this cross-engine parity), same >=-majority
        # per-bit vote, LSB-first pack, two's-complement view, then
        # Hamming-0 canonical grouping.  Empty / whitespace-only /
        # NULL text => simhash 0, like the kernel's zero-fill.
        "simhash": r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(text), '[ \t\n\r\f\v]+'),
                   t -> t <> '')) AS tok
          FROM documents
        ), th AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
          FROM toks
        ), bits AS (
          SELECT doc_id, b,
                 sum(((h >> b) & 1)::BIGINT) AS s, count(*) AS n
          FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
          GROUP BY doc_id, b
        ), packs AS (
          SELECT doc_id,
                 sum(CASE WHEN 2 * s >= n
                     THEN (1::UBIGINT << b)::HUGEINT
                     ELSE 0::HUGEINT END) AS packed
          FROM bits GROUP BY doc_id
        ), sh AS (
          SELECT d.doc_id,
                 CAST(CASE WHEN p.packed IS NULL THEN 0
                      WHEN p.packed >= 9223372036854775808::HUGEINT
                      THEN p.packed - 18446744073709551616::HUGEINT
                      ELSE p.packed END AS BIGINT) AS simhash
          FROM documents d LEFT JOIN packs p USING (doc_id)
        )
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY simhash) AS canonical_id,
               doc_id <> min(doc_id) OVER (PARTITION BY simhash)
                 AS is_duplicate
        FROM sh
        """,
        # Image near-dup recomputed in closed form from the
        # synth_bmp_affine construction: gray pixel p of doc i is
        # ((2*(i//2)+1)*(p+17)*40503 + 97*(i//2)) % 256, XOR 0xFF on
        # the first two pixels of odd docs.  aHash bit (p//32)*8 +
        # (p%16)//2 is set iff 64*block_sum > image_sum (the exact
        # integer form of the kernel's strict grid > grid.mean() on
        # dyadic-rational floats); pairs are brute-force popcount —
        # the banded join must equal brute force for distance <= 6.
        "image_neardup": """
        WITH px AS (
          SELECT d.doc_id, p.p,
                 CASE WHEN d.doc_id % 2 = 1 AND p.p < 2
                      THEN 255 - ((2*(d.doc_id//2)+1)*(p.p+17)*40503
                                  + 97*(d.doc_id//2)) % 256
                      ELSE ((2*(d.doc_id//2)+1)*(p.p+17)*40503
                            + 97*(d.doc_id//2)) % 256
                 END AS g
          FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS p) p
        ), blocks AS (
          SELECT doc_id, (p//32)*8 + (p%16)//2 AS bit, sum(g) AS bsum
          FROM px GROUP BY doc_id, (p//32)*8 + (p%16)//2
        ), tot AS (
          SELECT doc_id, sum(g) AS t FROM px GROUP BY doc_id
        ), packs AS (
          SELECT b.doc_id,
                 sum(CASE WHEN 64 * b.bsum > t.t
                     THEN (1::UBIGINT << b.bit)::HUGEINT
                     ELSE 0::HUGEINT END) AS packed
          FROM blocks b JOIN tot t USING (doc_id)
          GROUP BY b.doc_id
        ), h AS (
          SELECT doc_id,
                 CAST(CASE WHEN packed >= 9223372036854775808::HUGEINT
                      THEN packed - 18446744073709551616::HUGEINT
                      ELSE packed END AS BIGINT) AS phash
          FROM packs
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
        """,
        # minhash_pairs / lsh_topk / crawl_merge: intentionally
        # no oracle (hash-seeded / approximate / iterative) -> rows-only.
    }
    # byte-balanced extraction is output-identical to plain extraction
    # by contract — the layout op certifies against the same oracle
    sql["rebalance_roundtrip"] = sql["extract_spans"]
    # JSONL roundtrip: every 97th line is torn mid-string and must
    # drop; everything else round-trips through to_json/from_json
    sql["jsonl_roundtrip"] = """
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    """
    # MinHash+LSH recomputed in closed form (graduated from rows-only
    # in round 5): same ASCII-whitespace tokenizer and md5-8 token
    # hash as the kernel (folded mod 2^31-1 — the kernel switched
    # from crc32 to md5-8 precisely for this cross-engine parity),
    # same polynomial 3-gram hash (coefficients 1, 1000003,
    # 1000003^2 mod p), the seed-42 permutation constants inlined
    # below (deterministic algorithm parameters, exactly like the
    # 1000003 coefficient), the 16x4 banding replicated on signature
    # slices for candidate generation, and est_jaccard as the
    # matching-position fraction over 64 perms filtered at 0.8.
    # Soundness AND completeness of the Spark band join are thereby
    # driver-checked (pigeonhole: est >= 0.8 means <= 12 mismatched
    # positions, which cannot spoil all 16 bands — banding loses no
    # qualifying pair, and the oracle's own banding mirrors it).
    from web_content_extractor_spark.operators.dedup_docs import (
        _perm_params,
    )

    perm_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_perm_params(64))
    )
    sql["minhash_pairs"] = f"""
        WITH tl AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(text), '[ \t\n\r\f\v]+'),
                   t -> t <> '') AS toks
          FROM documents
        ), th AS (
          SELECT doc_id,
                 list_transform(toks, t ->
                   (('0x' || substr(md5(t), 1, 16))::UBIGINT
                    % 2147483647)::BIGINT) AS h
          FROM tl WHERE len(toks) >= 3
        ), grams AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, len(h) - 2),
                     j -> (h[j] + 1000003 * h[j+1]
                           + 1426104154 * h[j+2]) % 2147483647)) AS g
            FROM th
          )
        ), perms(i, a, b) AS (VALUES {perm_rows}
        ), sigrow AS (
          SELECT g.doc_id, p.i,
                 min((p.a * g.g + p.b) % 2147483647) AS s
          FROM grams g CROSS JOIN perms p
          GROUP BY g.doc_id, p.i
        ), sig AS (
          SELECT doc_id, list(s ORDER BY i) AS sig
          FROM sigrow GROUP BY doc_id
        ), bands AS (
          SELECT doc_id,
                 b.b || ':' || array_to_string(
                   list_slice(sig, b.b * 4 + 1, b.b * 4 + 4), ',') AS bk
          FROM sig
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b
        ), cand AS (
          SELECT DISTINCT l.doc_id AS da, r.doc_id AS db
          FROM bands l JOIN bands r
            ON l.bk = r.bk AND l.doc_id < r.doc_id
        ), scored AS (
          SELECT c.da, c.db,
                 sum(CASE WHEN x.s = y.s THEN 1 ELSE 0 END) / 64.0
                   AS est
          FROM cand c
          JOIN sigrow x ON x.doc_id = c.da
          JOIN sigrow y ON y.doc_id = c.db AND y.i = x.i
          GROUP BY c.da, c.db
        )
        SELECT da AS doc_a, db AS doc_b,
               round(est, 6) AS est_jaccard
        FROM scored WHERE est >= 0.8
    """
    # Hyperplane LSH recomputed in closed form (graduated from
    # rows-only in round 5): the 32 seed-42 hyperplanes are inlined
    # as full-precision double literals (repr round-trips exactly —
    # deterministic algorithm parameters, like the minhash perms),
    # buckets are the same raw-dot sign rule + MSB-first 4-bit pack
    # per table, candidates the same any-table collision with
    # self-match excluded, and scoring the same round-6 cosine with
    # row_number over (cos desc, neighbor asc) — the rounding/ranking
    # parity already proven by three rounds of green similarity_topk
    # rows.  The query side reuses the corpus bucket table because
    # queries ARE corpus rows (vec_id < 5) and the Spark driver-side
    # query-bucket formula is identical by construction.
    from web_content_extractor_spark.operators.similarity import (
        hyperplanes,
    )

    _P = hyperplanes(64, 32)
    plane_rows = ", ".join(
        "({t}, {w}, [{vals}]::DOUBLE[])".format(
            t=j // 4,
            w=1 << (3 - j % 4),
            vals=", ".join(repr(x) for x in _P[j]),
        )
        for j in range(32)
    )
    sql["lsh_topk"] = f"""
        WITH planes(t, w, pvec) AS (VALUES {plane_rows}),
        cb AS (
          SELECT e.vec_id, p.t,
                 sum(CASE WHEN list_inner_product(
                       e.embedding::DOUBLE[], p.pvec) >= 0
                     THEN p.w ELSE 0 END) AS bucket
          FROM embeddings e CROSS JOIN planes p
          GROUP BY e.vec_id, p.t
        ), cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM cb q JOIN cb c ON q.t = c.t AND q.bucket = c.bucket
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
        ), scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_cosine_similarity(
                   qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 6)
                   AS cos_sim
          FROM cand
          JOIN embeddings qe ON qe.vec_id = cand.query_id
          JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 5
    """
    # Embedding near-dup recomputed in closed form (graduated from
    # rows-only in round 5): same inlined-hyperplane construction as
    # lsh_topk but with the r=6 x L=6 plane set (36 planes, MSB-first
    # 6-bit pack), the query's planted twins rebuilt with the exact
    # Spark float algebra (x widens FLOAT->DOUBLE, then
    # x * 1.001 + (i % 3) * 1e-4 in doubles — DuckDB's indexed
    # lambda is 1-based, hence (i-1); DOUBLE casts defeat its
    # decimal-literal arithmetic), any-table collision candidates,
    # and the >= 0.95 filter applied to the ROUND-6 cosine exactly as
    # the kernel does.  Planted twins sit at cos ~1 and the corpus
    # max pairwise cosine is ~0.51, so the threshold has no boundary
    # cases.
    _P6 = hyperplanes(64, 36)
    plane_rows6 = ", ".join(
        "({t}, {w}, [{vals}]::DOUBLE[])".format(
            t=j // 6,
            w=1 << (5 - j % 6),
            vals=", ".join(repr(x) for x in _P6[j]),
        )
        for j in range(36)
    )
    sql["embedding_neardup"] = f"""
        WITH uni AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding, (x, i) ->
                   x::DOUBLE * 1.001::DOUBLE
                   + ((i - 1) % 3) * 0.0001::DOUBLE) AS v
          FROM embeddings WHERE vec_id < 20
        ), planes(t, w, pvec) AS (VALUES {plane_rows6}),
        cb AS (
          SELECT u.vec_id, p.t,
                 sum(CASE WHEN list_inner_product(u.v, p.pvec) >= 0
                     THEN p.w ELSE 0 END) AS bucket
          FROM uni u CROSS JOIN planes p
          GROUP BY u.vec_id, p.t
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cb a JOIN cb b
            ON a.t = b.t AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
        ), scored AS (
          SELECT c.id_a, c.id_b,
                 round(list_cosine_similarity(ua.v, ub.v), 6) AS cos_sim
          FROM cand c
          JOIN uni ua ON ua.vec_id = c.id_a
          JOIN uni ub ON ub.vec_id = c.id_b
        )
        SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.95
    """
    return sql
