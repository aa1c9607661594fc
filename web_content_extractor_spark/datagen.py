"""Deterministic fixture corpus and scale-test corpus generator.

Fixtures F01-F14 mirror FIXTURES.md: HTML bodies come from the
reference's own test suite (cited per fixture) and expected outputs
apply the test-pinned golden semantics.  The scale corpus replicates
the fixture bodies under Zipf-distributed hosts (seed 42) to exercise
skew handling, per FIXTURES.md §4.
"""

from __future__ import annotations

import random
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from web_content_extractor_spark.schemas import DOCS


def _html_span(html: str, offset: int = 0) -> dict[str, Any]:
    return {"kind": "html", "text": html, "media_ref": None, "offset": offset}


def _media_span(ref: str, offset: int) -> dict[str, Any]:
    return {"kind": "media", "text": None, "media_ref": ref, "offset": offset}


def _out(kind: str, text: str, media_ref: str, offset: int) -> dict[str, Any]:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


# --- fixture HTML bodies (reference test files, cited) -----------------

# F01: tests/conftest.py:33-69 (sample_html_content), verbatim semantics
F01_HTML = """
<html>
  <head><title>Test Page</title></head>
  <body>
    <h1>Welcome to Test Page</h1>
    <p>This is a test page with various links.</p>
    <h2>Documents</h2>
    <ul>
      <li><a href="https://example.com/document.pdf">Download PDF Document</a></li>
      <li><a href="https://docs.example.com/report.PDF">Annual Report</a></li>
      <li><a href="/files/manual.pdf">User Manual</a></li>
    </ul>
    <h2>Videos</h2>
    <ul>
      <li><a href="https://youtube.com/watch?v=abc123">Tutorial Video</a></li>
      <li><a href="https://youtu.be/xyz789">Quick Demo</a></li>
      <li><a href="https://youtube.com/embed/def456">Embedded Video</a></li>
    </ul>
    <h2>Other Links</h2>
    <ul>
      <li><a href="https://example.com">Home Page</a></li>
      <li><a href="https://github.com/user/repo">GitHub Repository</a></li>
      <li><a href="https://stackoverflow.com">Stack Overflow</a></li>
      <li><a href="javascript:void(0)">JavaScript Link</a></li>
      <li><a href="#section">Internal Link</a></li>
      <li><a href="mailto:test@example.com">Email Link</a></li>
    </ul>
  </body>
</html>
"""

# F06: tests/unit/test_enhanced_parsing.py:17-38
F06_HTML = """
<html><body>
  <a href="/regular-link">Regular Link</a>
  <a href="/download.pdf" download>Download PDF</a>
  <iframe src="https://www.youtube.com/embed/somevideo"></iframe>
  <img src="image.jpg">
</body></html>
"""

# F07: tests/unit/test_enhanced_extraction.py:5-19 (gitbook download attr)
F07_URL = (
    "https://1402095927-files.gitbook.io/~/files/v0/b/gitbook-x-prod.appspot.com"
    "/o/spaces%2FqphMrpYu5rzFU5LRkIrP%2Fuploads%2FfBn6B997"
)
F07_HTML = (
    '<a class="group/file flex" download="Full_Stack_AI_Engineer_Bootcamp_'
    f'Dev_Setup.pdf" href="{F07_URL}">\n'
    "  Full_Stack_AI_Engineer_Bootcamp_Dev_Setup.pdf\n</a>"
)

# F09: tests/unit/test_enhanced_parsing.py:56-95 (classifier battery)
F09_HTML = """
<html><body>
  <a href="https://example.com/document.pdf">Download PDF</a>
  <a href="https://files.gitbook.io/document.pdf">Read Document</a>
  <a href="https://www.youtube.com/watch?v=123">Watch Video</a>
  <a href="https://cdn.iframe.ly/video123">Embedded Video</a>
  <a href="https://example.com/page">Visit Page</a>
</body></html>
"""

FIXTURES: list[dict[str, Any]] = [
    {
        "name": "F01",
        "doc_id": "https://test-page.example.org/index.html",
        "spans": [_html_span(F01_HTML)],
        "expected": [
            _out("pdf", "Download PDF Document", "https://example.com/document.pdf", 0),
            _out("pdf", "Annual Report", "https://docs.example.com/report.PDF", 1),
            _out("pdf", "User Manual", "https://test-page.example.org/files/manual.pdf", 2),
            _out("youtube", "Tutorial Video", "https://youtube.com/watch?v=abc123", 3),
            _out("youtube", "Quick Demo", "https://youtu.be/xyz789", 4),
            _out("youtube", "Embedded Video", "https://youtube.com/embed/def456", 5),
            _out("other", "Home Page", "https://example.com/", 6),
            _out("other", "GitHub Repository", "https://github.com/user/repo", 7),
            _out("other", "Stack Overflow", "https://stackoverflow.com/", 8),
        ],
        "parse_failures": 0,
    },
    {
        # tests/unit/test_infrastructure.py:23-40 / integration golden
        "name": "F02",
        "doc_id": "https://base.com",
        "spans": [
            _html_span(
                '<html><body>'
                '<a href="https://example.com">Example</a>'
                '<a href="https://test.com/document.pdf">PDF Document</a>'
                '<a href="https://youtube.com/watch?v=123">Video</a>'
                "</body></html>"
            )
        ],
        "expected": [
            _out("pdf", "PDF Document", "https://test.com/document.pdf", 0),
            _out("youtube", "Video", "https://youtube.com/watch?v=123", 1),
            _out("other", "Example", "https://example.com/", 2),
        ],
        "parse_failures": 0,
    },
    {
        # tests/unit/test_infrastructure.py:42-50 (relative URL)
        "name": "F03",
        "doc_id": "https://example.com",
        "spans": [_html_span('<a href="/relative/path">Relative Link</a>')],
        "expected": [
            _out("other", "Relative Link", "https://example.com/relative/path", 0)
        ],
        "parse_failures": 0,
    },
    {
        # tests/unit/test_infrastructure.py:52-64 (scheme skipping)
        "name": "F04",
        "doc_id": "https://base.com",
        "spans": [
            _html_span(
                '<a href="javascript:void(0)">JS</a>'
                '<a href="#fragment">Frag</a>'
                '<a href="mailto:x@y.z">Mail</a>'
                '<a href="https://valid.com">Valid</a>'
            )
        ],
        "expected": [_out("other", "Valid", "https://valid.com/", 0)],
        "parse_failures": 0,
    },
    {
        # tests/unit/test_infrastructure.py:66-74 (empty text -> href)
        "name": "F05",
        "doc_id": "https://base.com",
        "spans": [_html_span('<a href="https://example.com"></a>')],
        "expected": [
            _out("other", "https://example.com", "https://example.com/", 0)
        ],
        "parse_failures": 0,
    },
    {
        "name": "F06",
        "doc_id": "https://example.com",
        "spans": [_html_span(F06_HTML)],
        "expected": [
            _out("pdf", "Download PDF", "https://example.com/download.pdf", 0),
            _out(
                "youtube",
                "Embedded Video Content",
                "https://www.youtube.com/embed/somevideo",
                1,
            ),
            _out("other", "Regular Link", "https://example.com/regular-link", 2),
        ],
        "parse_failures": 0,
    },
    {
        "name": "F07",
        "doc_id": "https://example.com",
        "spans": [_html_span(F07_HTML)],
        "expected": [
            _out(
                "other",
                "Full_Stack_AI_Engineer_Bootcamp_Dev_Setup.pdf",
                F07_URL,
                0,
            )
        ],
        "parse_failures": 0,
    },
    {
        # tests/unit/test_enhanced_extraction.py:21-33
        "name": "F08",
        "doc_id": "https://example.com",
        "spans": [
            _html_span(
                '<iframe src="https://cdn.iframe.ly/CXHbSqy" '
                'style="top: 0; left: 0;"></iframe>'
            )
        ],
        "expected": [
            _out(
                "youtube",
                "Embedded Video Content",
                "https://cdn.iframe.ly/CXHbSqy",
                0,
            )
        ],
        "parse_failures": 0,
    },
    {
        "name": "F09",
        "doc_id": "https://fixture09.example.org",
        "spans": [_html_span(F09_HTML)],
        "expected": [
            _out("pdf", "Download PDF", "https://example.com/document.pdf", 0),
            _out("pdf", "Read Document", "https://files.gitbook.io/document.pdf", 1),
            _out("youtube", "Watch Video", "https://www.youtube.com/watch?v=123", 2),
            _out("youtube", "Embedded Video", "https://cdn.iframe.ly/video123", 3),
            _out("other", "Visit Page", "https://example.com/page", 4),
        ],
        "parse_failures": 0,
    },
    {
        # tests/unit/test_enhanced_parsing.py:101-106 (invalid URL dropped)
        "name": "F10",
        "doc_id": "https://fixture10.example.org",
        "spans": [_html_span('<a href="http://">Invalid</a>')],
        "expected": [],
        "parse_failures": 1,
    },
    {
        # tests/unit/test_enhanced_parsing.py:40-44 (empty page)
        "name": "F11",
        "doc_id": "https://empty.example.org",
        "spans": [_html_span("<html><body>No links here.</body></html>")],
        "expected": [],
        "parse_failures": 0,
    },
    {
        # html_parser.py:103-123 (object/embed, engine-added coverage)
        "name": "F12",
        "doc_id": "https://fixture12.example.org",
        "spans": [
            _html_span(
                '<object data="/doc.pdf" title="Spec Sheet"></object>'
                '<embed src="/video.mp4">'
            )
        ],
        "expected": [
            _out("pdf", "Spec Sheet", "https://fixture12.example.org/doc.pdf", 0),
            _out(
                "other",
                "Embedded Content",
                "https://fixture12.example.org/video.mp4",
                1,
            ),
        ],
        "parse_failures": 0,
    },
    {
        # html_parser.py:146 — collapse a run of ".pdf" suffixes.
        # NB the reference comment says "file.pdfpdf" -> "file.pdf", but
        # its regex (\.pdf)+$ only collapses dotted repeats; we match the
        # code (the contract), so ".pdf.PDF" collapses, ".pdfpdf" doesn't.
        "name": "F13",
        "doc_id": "https://fixture13.example.org",
        "spans": [
            _html_span(
                '<a href="/files/report.pdf">report.pdf.PDF</a>'
                '<a href="/files/other.pdf">other.pdfpdf</a>'
            )
        ],
        "expected": [
            _out(
                "pdf",
                "report.pdf",
                "https://fixture13.example.org/files/report.pdf",
                0,
            ),
            _out(
                "pdf",
                "other.pdfpdf",
                "https://fixture13.example.org/files/other.pdf",
                1,
            ),
        ],
        "parse_failures": 0,
    },
    {
        # interleaved text+media spans (north-star input shape)
        "name": "F14",
        "doc_id": "https://fixture14.example.org",
        "spans": [
            _html_span("<a href='/a.pdf'>A PDF</a>", 0),
            _media_span("s3://bucket/img1.png", 1),
            _html_span("<a href='https://youtu.be/abcdefghijk'>clip</a>", 2),
        ],
        "expected": [
            _out("pdf", "A PDF", "https://fixture14.example.org/a.pdf", 0),
            _out("youtube", "clip", "https://youtu.be/abcdefghijk", 1),
            _out("other", "s3://bucket/img1.png", "s3://bucket/img1.png", 2),
        ],
        "parse_failures": 0,
    },
]


def fixture_docs(spark: SparkSession) -> DataFrame:
    rows = [(f["doc_id"], f["spans"]) for f in FIXTURES]
    return spark.createDataFrame(rows, schema=DOCS)


def expected_spans(name: str) -> list[tuple[str, str, str, int]]:
    fx = next(f for f in FIXTURES if f["name"] == name)
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in fx["expected"]
    ]


# --- scale corpus (bench / skew; FIXTURES.md §4) ------------------------

_FILLER = "<p>" + "lorem ipsum dolor sit amet " * 30 + "</p>"


def scale_corpus_rows(
    n_docs: int,
    seed: int = 42,
    n_hosts: int = 64,
    pad_fraction: float = 0.10,
) -> list[tuple[str, list[dict[str, Any]]]]:
    """Deterministic corpus: fixture bodies under Zipf-skewed hosts.

    ``pad_fraction`` of the docs (10% by default) get ~100 KB of filler
    markup to stress Arrow batch sizing; host index is Zipf-distributed
    (s=1.2) to create realistic key skew for the salting / repartition
    paths.
    """
    rng = random.Random(seed)
    bodies = [f["spans"][0]["text"] for f in FIXTURES if f["name"] not in ("F14",)]
    # Zipf pmf over hosts
    weights = [1.0 / ((h + 1) ** 1.2) for h in range(n_hosts)]
    rows = []
    for i in range(n_docs):
        h = rng.choices(range(n_hosts), weights=weights)[0]
        body = bodies[i % len(bodies)]
        if rng.random() < pad_fraction:
            body = body + _FILLER * 120
        doc_id = f"https://host{h:03d}.example.org/doc{i}"
        rows.append((doc_id, [_html_span(body)]))
    return rows
