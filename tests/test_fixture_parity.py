"""Span-sequence parity against the reference's golden fixtures.

The per-row invariant (BASELINE.json input_hint): for every fixture
document the extracted span sequence equals the reference semantics
exactly as (kind, text, media_ref, order).  Fixture provenance:
FIXTURES.md / reference tests cited in datagen.FIXTURES.
"""

from __future__ import annotations

import pytest

from web_content_extractor_spark import datagen
from web_content_extractor_spark.operators.assemble import explode_spans
from web_content_extractor_spark.plans.pipeline import extract


@pytest.fixture(scope="module")
def extracted_rows(spark):
    docs = datagen.fixture_docs(spark)
    rows = extract(docs, with_stats=True).collect()
    # several fixtures share a doc_id (https://example.com); disambiguate
    # by matching any fixture with that doc_id
    return rows


def _matches(row) -> bool:
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
    candidates = [
        datagen.expected_spans(f["name"])
        for f in datagen.FIXTURES
        if f["doc_id"] == row.doc_id
    ]
    return got in candidates


def test_every_fixture_span_equal(extracted_rows):
    bad = [r.doc_id for r in extracted_rows if not _matches(r)]
    assert bad == []


def test_row_count(extracted_rows):
    assert len(extracted_rows) == len(datagen.FIXTURES)


def test_invalid_url_counted_as_parse_failure(extracted_rows):
    by_id = {r.doc_id: r for r in extracted_rows}
    assert by_id["https://fixture10.example.org"].parse_failures == 1
    assert list(by_id["https://fixture10.example.org"].spans) == []


def test_page_title_captured(extracted_rows):
    by_id = {r.doc_id: r for r in extracted_rows}
    assert by_id["https://test-page.example.org/index.html"].page_title == "Test Page"


def test_exploded_view_matches_nested(spark):
    docs = datagen.fixture_docs(spark)
    nested = extract(docs)
    exploded = explode_spans(nested).collect()
    n_expected = sum(len(f["expected"]) for f in datagen.FIXTURES)
    assert len(exploded) == n_expected
    # offsets are dense per doc starting at 0
    f01 = sorted(
        [r for r in exploded if r.doc_id == "https://test-page.example.org/index.html"],
        key=lambda r: r.offset,
    )
    assert [r.offset for r in f01] == list(range(9))
    assert [r.kind for r in f01] == ["pdf"] * 3 + ["youtube"] * 3 + ["other"] * 3


def test_interleaved_media_passthrough(extracted_rows):
    by_id = {r.doc_id: r for r in extracted_rows}
    spans = by_id["https://fixture14.example.org"].spans
    assert [(s.kind, s.text, s.media_ref) for s in spans] == [
        ("pdf", "A PDF", "https://fixture14.example.org/a.pdf"),
        ("youtube", "clip", "https://youtu.be/abcdefghijk"),
        ("other", "s3://bucket/img1.png", "s3://bucket/img1.png"),
    ]


@pytest.mark.parametrize("name, regex_kind", [("F07", "pdf"), ("F08", "other")])
def test_regex_variant_diverges_only_in_kind(spark, name, regex_kind):
    # `jobs extract --variant regex` runs the RegexLinkClassifier rule
    # set, which parts from the golden one on exactly these two docs
    # (FIXTURES.md §2 and §F07).  Both share doc_id https://example.com,
    # so each is extracted on its own
    from web_content_extractor_spark.schemas import DOCS

    fx = next(f for f in datagen.FIXTURES if f["name"] == name)
    docs = spark.createDataFrame([(fx["doc_id"], fx["spans"])], schema=DOCS)
    (golden,) = extract(docs).collect()
    (regex,) = extract(docs, variant="regex").collect()
    assert [s.kind for s in regex.spans] == [regex_kind]
    assert [(s.text, s.media_ref) for s in regex.spans] == [
        (s.text, s.media_ref) for s in golden.spans
    ]
