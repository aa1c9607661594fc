"""Output checks: fixture parity, planted links, order-independent digest.

- The 14 ``datagen.FIXTURES`` through ``extract`` must equal their
  ``expected_spans``.  Fixture doc_ids are not unique, so a row matches
  when its spans equal the expectation of any fixture with that doc_id.
- The planted links of a sample of clean generated docs must come back
  with the planted kinds, texts and URLs, in output order.
- The digest of an output is (rows, spans, sum of per-row xxhash64),
  computed by ``DataFrame.observe`` inside the measured action itself,
  so the check adds no job.  The sum makes it order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def digest_exprs(*cols: str, spans: str | None = "spans") -> list[Column]:
    out = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    ]
    if spans:
        out.append(F.sum(F.size(spans)).alias("spans"))
    return out


def digest_of(observed: dict) -> str:
    return "-".join(str(observed[k]) for k in ("rows", "spans", "hash") if k in observed)


def fixtures_check(spark: SparkSession) -> tuple[int, int]:
    from web_content_extractor_spark.datagen import (
        FIXTURES,
        expected_spans,
        fixture_docs,
    )
    from web_content_extractor_spark.plans.pipeline import extract

    rows = extract(fixture_docs(spark)).collect()
    ok = 0
    for r in rows:
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans or []]
        wants = [
            expected_spans(f["name"]) for f in FIXTURES if f["doc_id"] == r.doc_id
        ]
        ok += got in wants
    return ok, len(FIXTURES)


def planted_check(
    extract, docs: DataFrame, planted: dict[str, list[tuple[str, str, str]]]
) -> list[str]:
    """Mismatching doc_ids among the planted sample (empty = pass).
    Extraction is per doc, so only the sampled docs are extracted."""
    rows = extract(docs.where(F.col("doc_id").isin(list(planted)))).collect()
    seen = {r.doc_id for r in rows}
    bad = [d for d in planted if d not in seen]
    for r in rows:
        got = [(s.kind, s.text, s.media_ref) for s in r.spans or []]
        offsets = [s.offset for s in r.spans or []]
        if got != planted[r.doc_id] or offsets != list(range(len(got))):
            bad.append(r.doc_id)
    return bad
