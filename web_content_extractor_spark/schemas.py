"""Table schemas for the extraction engine.

The input shape is fixed by the graft contract (BASELINE.json
``input_hint``): an Iceberg/parquet table of interleaved text + media
documents ``docs(doc_id string, spans array<struct<kind,text,media_ref,
offset>>)``.  The output table has the identical spans shape, which is
what makes span-sequence equality (kind, text, media_ref, order) the
per-row invariant (reference semantics: src/core/models.py:134-240 —
three typed link lists reassembled in type-rank order).
"""

from __future__ import annotations

from pyspark.sql import types as T

# One interleaved span of a document: kind='html' carries markup in
# `text`; kind='media' carries an opaque media URL in `media_ref`;
# kind='text' carries plain text.  Output spans reuse the same struct
# with kind in {pdf, youtube, other} (reference LinkType,
# src/core/models.py:14-19).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)

# Tokenizer output: one row per document.  The candidate-link IR mirrors
# the reference's list[tuple[url, text]] between parser and classifier
# (src/core/interfaces.py:24) as FLAT PARALLEL ARRAYS (document parse
# order = array index; reference order html_parser.py:56-62):
#   cand_urls  — absolute URLs after urljoin + HttpUrl-style
#                normalization; invalid URLs already dropped in the
#                tokenizer (drop semantics, link_classifier.py:50-53)
#   cand_texts — selected link text ('' for media spans)
#   cand_tags  — source element ('a'/'iframe'/'object'/'embed'/'media');
#                navigation discovery follows only anchors
#                (html_parser.py:193-213)
# ``spans`` is the same candidates classified by the golden rules and
# ordered into the output span array, folded in the Python kernel
# (functions/tokenizer.py::fold_spans).  ``extract`` asks the kernel for
# only the columns it returns.
TOKENIZED = T.StructType(
    [
        # nullable: a null doc_id becomes a null_doc_id error row
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_title", T.StringType()),
        T.StructField("cand_urls", T.ArrayType(T.StringType())),
        T.StructField("cand_texts", T.ArrayType(T.StringType())),
        T.StructField("cand_tags", T.ArrayType(T.StringType())),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("parse_failures", T.IntegerType()),
        # per-drop error records (flat parallel arrays): the queryable
        # analog of the reference's ContextualExtractionError context
        # (src/core/exceptions.py:46-67, service.py:126-140)
        T.StructField("err_stages", T.ArrayType(T.StringType())),
        T.StructField("err_reasons", T.ArrayType(T.StringType())),
        T.StructField("err_targets", T.ArrayType(T.StringType())),
        T.StructField("proc_us", T.LongType()),
    ]
)

# Per-partition lineage + metrics (reference ExtractionMetadata,
# src/core/models.py:93-131, lifted from per-document to per-partition
# granularity as the north rule requires).
METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("total_links", T.LongType()),
        T.StructField("pdf_count", T.LongType()),
        T.StructField("youtube_count", T.LongType()),
        T.StructField("other_count", T.LongType()),
        T.StructField("parse_failures", T.LongType()),
        T.StructField("blocks_kept", T.LongType()),
        T.StructField("blocks_dropped", T.LongType()),
        T.StructField("processing_ms", T.DoubleType()),
        T.StructField("correlation_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
