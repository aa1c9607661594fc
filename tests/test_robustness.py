"""Hardening probes: malformed input must never crash the pipeline
(drop-not-fail, link_classifier.py:50-53), plus property-based checks
on the tokenizer/normalizer invariants."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from web_content_extractor_spark import session
from web_content_extractor_spark.functions import urlnorm
from web_content_extractor_spark.functions.blocks import segment_blocks
from web_content_extractor_spark.functions.tokenizer import (
    tokenize_doc,
    tokenize_html,
)
from web_content_extractor_spark.plans.pipeline import extract
from web_content_extractor_spark.schemas import DOCS


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema=DOCS)


def test_null_and_empty_spans(spark):
    rows = [
        ("https://a.org", None),
        ("https://b.org", []),
        ("https://c.org", [{"kind": "html", "text": None, "media_ref": None,
                           "offset": 0}]),
        ("https://d.org", [{"kind": "text", "text": "plain only",
                           "media_ref": None, "offset": 0}]),
        ("https://e.org", [{"kind": "html", "text": "<a href='/x'>x</a>",
                           "media_ref": None, "offset": None}]),
        # a null element must not take the doc's other spans down
        ("https://f.org", [None, {"kind": "html", "media_ref": None,
                                  "text": "<p>Some words here.</p>"
                                          "<a href='/y'>y</a>",
                                  "offset": 0}]),
    ]
    from web_content_extractor_spark.operators.content import extract_content
    from web_content_extractor_spark.operators.errors import doc_errors
    from web_content_extractor_spark.plans.pipeline import tokenize

    docs = _docs(spark, rows)
    out = {r.doc_id: r.spans for r in extract(docs).collect()}
    assert out["https://a.org"] == []
    assert out["https://b.org"] == []
    assert out["https://c.org"] == []
    assert out["https://d.org"] == []
    assert out["https://e.org"][0].media_ref == "https://e.org/x"
    assert [s.media_ref for s in out["https://f.org"]] == ["https://f.org/y"]
    errs = [(r.doc_id, r.stage, r.reason, r.target)
            for r in doc_errors(tokenize(docs)).collect()]
    assert errs == [("https://f.org", "input", "null_span", "")]
    assert {r.doc_id for r in extract_content(docs).collect()} == set(out)


def test_garbage_and_binaryish_html(spark):
    garbage = [
        "<<<>>>&&&",
        "\x00\x01\x02\xff binary soup \x7f",
        "<a href=" + "x" * 5000,                      # unterminated tag
        "<a><a><a href='/n'>nested</a>",
        "<!DOCTYPE html><!-- comment only -->",
        "</div></div></p>",                            # close-only
        "<a href='http://[invalid'>bad host</a>",
    ]
    rows = [
        (f"https://g{i}.org", [{"kind": "html", "text": g, "media_ref": None,
                                "offset": 0}])
        for i, g in enumerate(garbage)
    ]
    # must not raise; per-doc failures are counted, not thrown
    res = extract(_docs(spark, rows), with_stats=True).collect()
    assert len(res) == len(garbage)
    nested = [r for r in res if r.doc_id == "https://g3.org"][0]
    assert [s.text for s in nested.spans] == ["nested"]


def test_large_document_arrow_batching(spark):
    # >100 KB doc exercises Arrow batch sizing (session.py caps batch
    # records, Spark's maxBytesPerBatch caps batch bytes)
    big = ("<p>" + "lorem ipsum dolor sit amet " * 200 + "</p>"
           + '<a href="/big.pdf">big</a>') * 20   # ~110 KB, 20 links
    rows = [("https://big.org", [{"kind": "html", "text": big,
                                  "media_ref": None, "offset": 0}])]
    row = extract(_docs(spark, rows)).collect()[0]
    assert len(row.spans) == 20
    assert all(s.kind == "pdf" for s in row.spans)


def test_duplicate_offsets_stable(spark):
    # two spans sharing an offset: sort must be stable & deterministic
    rows = [("https://dup.org", [
        {"kind": "html", "text": "<a href='/a'>A</a>", "media_ref": None,
         "offset": 5},
        {"kind": "html", "text": "<a href='/b'>B</a>", "media_ref": None,
         "offset": 5},
    ])]
    a = extract(_docs(spark, rows)).collect()[0].spans
    b = extract(_docs(spark, rows)).collect()[0].spans
    assert [s.text for s in a] == [s.text for s in b]
    assert {s.text for s in a} == {"A", "B"}


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=400))
def test_tokenize_html_never_raises(html):
    cands, title, errors = tokenize_html(html, "https://fuzz.org")
    assert all(stage and reason for stage, reason, _ in errors)
    for url, text, tag, _rank in cands:
        assert url and text  # empty-text candidates are dropped, not kept
        assert urlnorm.normalize(url) == url  # output already canonical


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_segment_blocks_never_raises(html):
    for tag, text, words, anchor_words in segment_blocks(html):
        assert words >= 1 and 0 <= anchor_words
        assert text == text.strip()


def test_large_document_roundtrip(spark):
    # >100 KB single doc: Arrow batch sizing must carry it through the
    # tokenizer intact (one batch may hold a handful of such docs)
    blocks = "".join(
        f'<p>{"x" * 200}</p><a href="/f{i}.pdf">Report {i}</a>' for i in range(500)
    )
    html = f"<html><body>{blocks}</body></html>"
    assert len(html) > 100_000
    rows = [("https://big.example.org/", [{"kind": "html", "text": html,
                                           "media_ref": None, "offset": 0}])]
    out = extract(_docs(spark, rows)).collect()
    assert len(out) == 1
    spans = out[0].spans
    assert len(spans) == 500
    assert all(s.kind == "pdf" for s in spans)
    assert spans[0].media_ref == "https://big.example.org/f0.pdf"
    assert [s.offset for s in spans] == list(range(500))


def test_arrow_byte_cap_splits_heavy_batches(spark):
    """Spark's ``arrow.maxBytesPerBatch`` (64 MiB by default) caps the
    bytes of every Arrow batch the kernels see, on top of session.py's
    record cap: at a 1 MiB cap eight ~600 KB docs in one partition
    arrive in several batches, and extract's output is unchanged."""
    import pyarrow as pa

    links = "".join(
        f'<a href="/r{i}.pdf">r{i}</a><a href="https://youtu.be/v{i}">v</a>'
        f'<a href="/p{i}">p</a>'
        for i in range(40)
    )
    pad = "<p>" + "lorem ipsum " * 50_000 + "</p>"
    rows = [(f"https://heavy{k}.example.org/",
             [{"kind": "html", "text": pad + links, "media_ref": None,
               "offset": 0}]) for k in range(8)]
    docs = _docs(spark, rows).coalesce(1)

    def batch_rows(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})

    def probe():
        return [r.n for r in docs.mapInArrow(batch_rows, "n long").collect()]

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    assert probe() == [8]
    default = sorted(extract(docs, with_stats=True).drop("proc_us").collect())
    spark.conf.set(key, str(1 << 20))
    try:
        sizes = probe()
        capped = sorted(
            extract(docs, with_stats=True).drop("proc_us").collect()
        )
    finally:
        spark.conf.unset(key)
    assert len(sizes) > 1 and sum(sizes) == 8
    assert capped == default
    assert [len(r.spans) for r in default] == [120] * 8


_HREF_SEG = st.sampled_from(
    ["a", "b.pdf", ".", "..", "", "x.y", "...", "a.", ".a"]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_HREF_SEG, min_size=0, max_size=5), st.booleans())
def test_fast_path_matches_urljoin(segs, trailing_slash):
    # differential: the tokenizer's root-relative fast path must equal
    # RFC-3986 urljoin for EVERY href shape, including dot segments
    # ("/a/../b.pdf" must resolve to "/b.pdf" — the round-1 parity bug)
    from urllib.parse import urljoin

    href = "/" + "/".join(segs) + ("/" if trailing_slash and segs else "")
    base = "https://host.example.org/x/y.html"
    cands, _, _ = tokenize_html(f'<a href="{href}">T</a>', base)
    expected = urlnorm.normalize(urljoin(base, href))
    got = [u for u, *_ in cands]
    assert got == ([expected] if expected else [])


def test_empty_query_fragment_matches_urljoin():
    # urljoin's split/unsplit DROPS a bare '?' / '#' delimiter
    # ('/a?' -> '/a'); the reference joins every href, so the
    # tokenizer's verbatim fast paths must not keep them (fuzz-found)
    from urllib.parse import urljoin

    base = "https://host.example.org/x/y.html"
    for href in ("/a?", "/a#", "/a?#", "/a?#z", "/?", "/#",
                 "https://ext.org/p?", "https://ext.org/p#",
                 "https://ext.org/p?#q", "/a??", "/a##", "/a?x#"):
        cands, _, _ = tokenize_html(f'<a href="{href}">T</a>', base)
        expected = urlnorm.normalize(urljoin(base, href))
        assert [u for u, *_ in cands] == ([expected] if expected else []), href


def test_unsafe_bytes_in_href_match_urljoin():
    # urljoin strips urllib's _UNSAFE_URL_BYTES_TO_REMOVE (tab/CR/LF)
    # from the target ('https://e.org/a\tb' -> 'https://e.org/ab');
    # the reference joins every href, so the tokenizer's verbatim fast
    # paths must not keep those bytes either (advisor-found, same
    # class as the bare-delimiter divergence above)
    from urllib.parse import urljoin

    base = "https://host.example.org/x/y.html"
    for href in ("https://ext.org/a\tb", "https://ext.org/a\nb",
                 "https://ext.org/a\rb", "/p\tq", "/p\nq", "/p\rq",
                 "/p\t", "\thttps://ext.org/c", "https://ext.org/\t?q=1"):
        cands, _, _ = tokenize_html(f'<a href="{href}">T</a>', base)
        expected = urlnorm.normalize(urljoin(base, href))
        assert [u for u, *_ in cands] == ([expected] if expected else []), repr(href)


def test_normalize_keeps_bare_delimiters_in_both_branches():
    # WHATWG-style serializers (pydantic v2 HttpUrl) keep an EMPTY
    # query/fragment delimiter; normalize's _CANON_RE fast path and
    # its full-parser branch must agree on that (fuzz-pinned — the
    # uppercase host forces the full branch, same canonical output)
    for fast, forced_full in (("https://h.org/a?", "https://H.org/a?"),
                              ("https://h.org/a#", "https://H.org/a#"),
                              ("https://h.org/a?#", "https://H.org/a?#"),
                              ("https://h.org/?x#", "https://H.org/?x#"),
                              # a trailing '\n' must fail the fast path's
                              # end anchor ('$' matches before it);
                              # urlsplit strips it in the full branch
                              ("http://h.org/", "http://h.org\n"),
                              ("https://h.org/a", "https://h.org/a\n")):
        assert urlnorm.normalize(fast) == fast
        assert urlnorm.normalize(forced_full) == fast


def test_video_id_reference_differential(spark):
    # differential vs the reference's exact regex battery
    # (fetch_youtube_transcripts.py:58-69): boundary-anchored catch-all
    # first, then /embed/, then youtu.be
    import re

    from web_content_extractor_spark.functions.video import video_id

    VIDEO_ID_RE = re.compile(r"(?:v=|/)([0-9A-Za-z_-]{11})(?:[?&#/]|$)")
    EMBED_RE = re.compile(r"/embed/([0-9A-Za-z_-]{11})")
    SHORT_RE = re.compile(r"youtu\.be/([0-9A-Za-z_-]{11})")

    def ref(url):
        for pat in (VIDEO_ID_RE, EMBED_RE, SHORT_RE):
            m = pat.search(url)
            if m:
                return m.group(1)
        return None

    urls = [
        "https://www.youtube.com/watch?v=ABCDEFGHIJK",
        "https://www.youtube.com/watch?v=ABCDEFGHIJKL",   # 12 chars: ref -> None
        "https://youtube.com/embed/12345678901?x=1",
        "https://youtu.be/abc_def-123",
        "https://youtu.be/abc_def-123?t=10",
        "https://example.com/page.x1234567890",
        "https://example.com/AAAAAAAAAAA",                # bare 11-char path seg
        "https://www.youtube.com/watch?v=short",
        "https://cdn.iframe.ly/fABCDEFGHIJ",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.vid for r in df.select("url", video_id(F.col("url")).alias("vid")).collect()}
    assert got == {u: ref(u) for u in urls}


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=120))
def test_normalize_idempotent(url):
    n = urlnorm.normalize(url)
    if n is not None:
        assert urlnorm.normalize(n) == n
        assert n.startswith(("http://", "https://"))


@settings(max_examples=100, deadline=None)
@given(st.lists(
    st.one_of(st.none(), st.fixed_dictionaries({
        "kind": st.sampled_from(["html", "media", "text"]),
        "text": st.one_of(st.none(), st.text(max_size=80)),
        "media_ref": st.one_of(st.none(), st.text(min_size=1, max_size=30)),
        "offset": st.one_of(st.none(), st.integers(0, 100)),
    })),
    max_size=6,
))
def test_tokenize_doc_total(spans):
    d = tokenize_doc("https://fuzz.org", spans)
    assert len(d["cand_urls"]) == len(d["cand_texts"]) == len(d["cand_tags"])
    assert d["parse_failures"] >= 0
    assert d["err_reasons"].count("null_span") == spans.count(None)


def test_malformed_escape_urls_never_crash_the_job(spark):
    """Spark 4 parse_url THROWS on malformed %-escapes; every
    candidate-derived call site must use try_parse_url so one bad URL
    degrades to a dropped/null value instead of killing the stage
    (drop-not-fail, link_classifier.py:50-53 — at 10^12 docs a single
    weird URL must never fail a job)."""
    from web_content_extractor_spark.operators.crawl import navigation_links
    from web_content_extractor_spark.operators.metrics import doc_metrics
    from web_content_extractor_spark.plans.pipeline import extract, tokenize

    bad_iframely = "https://iframe.ly/x?url=bad%zz"   # URI parse fails
    docs = spark.createDataFrame(
        [
            (
                "https://h.com/ok%zz",  # base_url itself malformed
                [
                    {
                        "kind": "html",
                        "text": f'<a href="{bad_iframely}">t</a>'
                        '<a href="https://h.com/fine">f</a>',
                        "media_ref": None,
                        "offset": 0,
                    },
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": "s3://bucket/ok%zz.png",  # opaque payload
                        "offset": 1,
                    },
                ],
            )
        ],
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = extract(docs).collect()           # classifier path (iframe.ly)
    assert len(rows) == 1 and len(rows[0].spans) == 3
    assert doc_metrics(extract(docs, with_stats=True)).collect()
    nav = navigation_links(tokenize(docs)).collect()   # host-equality path
    assert all(r.nav_url for r in nav)


def test_null_doc_id_is_an_error_row_not_a_failed_job(spark):
    """A null doc_id used to reach the JVM as a non-nullable field and
    kill the stage with a NullPointerException; it must instead end as
    one attributable ``null_doc_id`` error row while the job completes."""
    from web_content_extractor_spark.operators.errors import doc_errors
    from web_content_extractor_spark.plans.pipeline import tokenize

    html = '<a href="https://abs.org/a">abs</a><a href="/rel">rel</a>'
    docs = spark.createDataFrame(
        [
            (None, [{"kind": "html", "text": html, "media_ref": None,
                     "offset": 0}]),
            ("https://ok.org", [{"kind": "html", "text": html,
                                 "media_ref": None, "offset": 0}]),
        ],
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r.doc_id: [s.media_ref for s in r.spans]
           for r in extract(docs).collect()}
    assert out[None] == ["https://abs.org/a"]     # relative link dropped
    assert out["https://ok.org"] == ["https://abs.org/a", "https://ok.org/rel"]
    errs = {(r.doc_id, r.stage, r.reason, r.target)
            for r in doc_errors(tokenize(docs)).collect()}
    assert (None, "input", "null_doc_id", "") in errs
    assert (None, "url_validation", "invalid_url", "/rel") in errs
    assert not any(e[0] == "https://ok.org" for e in errs)


@pytest.mark.parametrize(
    "master, partitions",
    [
        ("local", 6),
        ("local[4]", 4),
        ("local[*]", 6),
        ("local[4,2]", 4),
        ("local[*,3]", 6),
        ("local-cluster[2,1,1024]", 6),
        ("yarn", 6),
    ],
)
def test_get_spark_accepts_every_master_form(monkeypatch, master, partitions):
    """Shuffle partitions come from a local master's thread field (`*`
    = cpus) and are cpus for any other master; no master form raises."""
    conf = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, m):
            conf["master"] = m
            return self

        def config(self, k, v):
            conf[k] = v
            return self

        def getOrCreate(self):
            return conf

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    assert session.get_spark(master=master) is conf
    assert conf["master"] == master
    assert conf["spark.sql.shuffle.partitions"] == str(partitions)
