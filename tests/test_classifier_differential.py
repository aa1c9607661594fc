"""Fuzz differential: Spark rlike classifier vs an independent Python
re-implementation of the golden decision order (FIXTURES.md §2 /
context_classifier.py:42-76).  Two code paths, one spec — structured
random URLs/texts hunt for rule-order or regex-translation bugs the
fixed oracles can't reach."""

from __future__ import annotations

import random
import re
from urllib.parse import parse_qs, unquote, urlsplit

import pytest
from pyspark.sql import functions as F

from web_content_extractor_spark.functions.classify import classify_kind

_PDF_URL = re.compile(r"(\.pdf$|\.pdf[?#]|pdf.*download)", re.I)
_YT_URL = re.compile(
    r"(youtube\.com/watch|youtu\.be/|youtube\.com/embed/"
    r"|youtube-nocookie\.com|cdn\.iframe\.ly/)",
    re.I,
)
_PDF_TEXT = re.compile(r"\d+\s*MB.*pdf", re.I)


def golden_context(url: str, text: str) -> str:
    """Independent Python rendering of the golden ContextAware rules."""
    if _PDF_URL.search(url):
        return "pdf"
    if _YT_URL.search(url):
        return "youtube"
    if _PDF_TEXT.search(text):
        return "pdf"
    if "iframe.ly" in url.lower():
        try:
            qs = parse_qs(urlsplit(url).query)
            proxied = unquote(qs.get("url", [""])[0])
        except ValueError:
            proxied = ""
        if proxied and _YT_URL.search(proxied):
            return "youtube"
    if "watch" in text.lower():
        return "youtube"
    return "other"


def _random_cases(n: int, seed: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    hosts = ["example.com", "youtube.com", "youtu.be", "cdn.iframe.ly",
             "iframe.ly", "files.gitbook.io", "youtube-nocookie.com", "a.b"]
    paths = ["/watch", "/watch?v=abc123", "/embed/xyz", "/doc.pdf",
             "/doc.PDF", "/doc.pdf?dl=1", "/doc.pdf#p2", "/pdfXdownload",
             "/download/pdf", "/p", "/", "/api?url=https%3A%2F%2Fyoutu.be%2Fq1",
             "/api?url=https%3A%2F%2Fexample.com%2Fx", "/api?url=", "/x.pdfy"]
    texts = ["click", "watch now", "WATCH", "3 MB pdf file", "12MB  PDF",
             "a pdf", "PDF", "", "youtube", "mb pdf", "2 MB zip", "pdf 3 MB"]
    cases = []
    for _ in range(n):
        url = f"https://{rng.choice(hosts)}{rng.choice(paths)}"
        cases.append((url, rng.choice(texts)))
    return cases


def test_classifier_differential_fuzz(spark):
    cases = _random_cases(600, seed=20260817)
    df = spark.createDataFrame(cases, ["url", "text"])
    got = {
        (r.url, r.text): r.kind
        for r in df.select(
            "url", "text",
            classify_kind(F.col("url"), F.col("text"), "context").alias("kind"),
        ).collect()
    }
    mismatches = [
        (u, t, got[(u, t)], golden_context(u, t))
        for (u, t) in set(cases)
        if got[(u, t)] != golden_context(u, t)
    ]
    assert not mismatches, mismatches[:10]


def test_rank_context_py_matches_native_chain(spark):
    """The tokenizer's precomputed rank (classify.rank_context_py) must
    EXACTLY match the native Column chain — it replaces it inside the
    assembly.  Randomized soup targets the Java/Python regex seams:
    strict %-escapes (java.net.URI rejects them anywhere), '+' decode,
    truncated UTF-8, unicode digits, key case, fragments."""
    from web_content_extractor_spark.functions import classify

    rng = random.Random(20260819)
    url_parts = [
        "https://", "http://", "iframe.ly", "youtube.com", "youtu.be",
        "a.com", "/watch", "/embed/", "/x.pdf", "/p", "?", "&", "url=",
        "v=1", "%2F", "%3A", "%zz", "%e2%82", "%E2%82%AC", "+", "#frag",
        "download", "pdf", ".PDF", "youtube-nocookie.com",
        "cdn.iframe.ly/", "q=", "URL=", "xurl=", "=", "%", "%4",
        "watch", "~",
        # review-found parity seams: fragment-before-query, literal
        # space/CR/controls, URI-rejected punct, brackets, unicode
        # folding (KELVIN SIGN, dotless i), NEL/LS separators
        "#a?url=youtube.com%2Fwatch", " ", "\r", "\x07", "[", "]",
        "{", "|", "\u212a", "\u0131", "\x85", "\u2028", "\xa0",
        ".pdf\r", "x.pdf\u2028",
        # opaque/absolute-URI seams: scheme with NO slashes (opaque ->
        # java.net.URI has no query), single-slash hierarchical,
        # invalid schemes (colon in first segment -> URI rejects)
        "mailto:", "http:", "http:/", "a+b:", "1a:", ":", "a.b-c:",
        "mailto:iframe.ly?url=youtube.com%2Fwatch",
        "http:iframe.ly?url=youtube.com%2Fwatch",
    ]
    text_parts = [
        "", "watch", "WATCH this", "5 MB pdf", "12MB", "pdf", "MB",
        "3 MB pdf", "7\tMB .pdf", "٠ MB pdf", "9 mb PDF", "0MBpdf",
        "text", "5 MB\nx pdf", "5 MB\rpdf", "6 MB\x85pdf",
        "8 MB\u2028pdf", "watc\u212a", "2 MB x pdf\r",
    ]
    rows = []
    for _ in range(1500):
        u = "".join(rng.choice(url_parts) for _ in range(rng.randint(1, 10)))
        t = rng.choice(text_parts) + rng.choice(["", " tail"])
        rows.append((u, t))
    df = spark.createDataFrame(rows, "url string, text string")
    native = df.select(
        "url", "text",
        classify.type_rank(
            classify.classify_context(F.col("url"), F.col("text"))
        ).alias("r"),
    ).collect()
    bad = [
        (r.url, r.text, r.r, classify.rank_context_py(r.url, r.text))
        for r in native
        if classify.rank_context_py(r.url, r.text) != r.r
    ]
    assert not bad, bad[:5]


def _random_docs(n: int, seed: int) -> list[tuple]:
    """Interleaved docs for the fold differential: pdf/youtube/other
    anchors (by URL and by text), iframes, empty anchor bodies (href
    fallback), invalid and relative hrefs, media spans (empty text ->
    url fallback), docs whose candidates all share one rank, docs with
    no candidate at all, and null doc_ids / spans."""
    rng = random.Random(seed)
    links = {
        0: ["https://f.org/a.pdf", "/doc.PDF?x=1", "https://f.org/pdf/download"],
        1: ["https://youtube.com/watch?v=q", "https://youtu.be/z",
            "https://cdn.iframe.ly/abc"],
        2: ["https://o.org/", "/p", "../up", "https://o.org/x?y=1"],
    }
    texts = ["", "click", "watch this", "3 MB pdf", "Home", "x"]

    def anchor(rank: int) -> str:
        href = rng.choice(links[rank])
        text = rng.choice(texts) if rank == 2 else rng.choice(["", "go"])
        return f'<a href="{href}">{text}</a>'

    def html(ranks: list[int]) -> str:
        parts = [anchor(r) for r in ranks]
        if rng.random() < 0.3:
            parts.append('<iframe src="https://youtube.com/embed/e"></iframe>')
        if rng.random() < 0.3:
            parts.append('<a href="http://[bad">bad</a><a href="#top">top</a>')
        rng.shuffle(parts)
        return "<p>" + " ".join(parts) + "</p>"

    docs = []
    for k in range(n):
        doc_id = None if k % 17 == 5 else f"https://d{k}.example.org/dir/"
        shape = k % 6
        if shape == 0:      # no candidates at all
            spans = rng.choice([None, [], [("text", "just words", None, 0)],
                                [("html", "<p>no links</p>", None, 0)]])
        elif shape == 1:    # every candidate shares one rank
            r = rng.randrange(3)
            spans = [("html", html([r] * rng.randint(1, 6)), None, 0)]
        else:
            spans = []
            for off in range(rng.randint(1, 4)):
                kind = rng.choice(["html", "html", "media", "text"])
                if kind == "html":
                    ranks = [rng.randrange(3) for _ in range(rng.randint(0, 8))]
                    spans.append(("html", html(ranks), None, off))
                elif kind == "media":
                    spans.append(("media", None, f"s3://m/{k}/{off}.png", off))
                else:
                    spans.append(("text", "plain text", None, off))
            rng.shuffle(spans)  # the tokenizer orders spans by offset
        docs.append((doc_id, spans))
    return docs


@pytest.mark.parametrize("corpus", ["fixtures", "random"])
def test_extract_fold_equals_column_assembly(spark, corpus):
    """extract()'s Arrow-kernel fold, and tokenize()'s ``spans`` column,
    must equal the Column chain assembly of tokenize()'s candidates."""
    from web_content_extractor_spark.datagen import fixture_docs
    from web_content_extractor_spark.operators.assemble import assemble_spans
    from web_content_extractor_spark.plans.pipeline import extract, tokenize

    if corpus == "fixtures":
        docs = fixture_docs(spark)
    else:
        docs = spark.createDataFrame(
            _random_docs(300, seed=20261019),
            "doc_id string, spans array<struct"
            "<kind:string,text:string,media_ref:string,offset:int>>",
        )
    tok = tokenize(docs)
    column = tok.select(
        "doc_id",
        assemble_spans(
            F.col("cand_urls"), F.col("cand_texts"), F.col("cand_tags"),
            "context",
        ).alias("spans"),
    )
    assert column.where(F.size("spans") > 0).count() > 0
    for folded in (extract(docs), tok.select("doc_id", "spans")):
        assert folded.count() == column.count()
        assert folded.exceptAll(column).count() == 0
        assert column.exceptAll(folded).count() == 0
