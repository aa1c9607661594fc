"""Pure-Python unit tests for the from-scratch HTML tokenizer.

Pin the reference parser behaviors (src/infrastructure/html_parser.py)
without a Spark session — these run in milliseconds.
"""

from __future__ import annotations

import os
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from web_content_extractor_spark.functions import urlnorm
from web_content_extractor_spark.functions.tokenizer import (
    tokenize_doc,
    tokenize_html,
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
import fuzz_differential  # noqa: E402

BASE = "https://example.com"


def links(html: str, base: str = BASE):
    cands, _, _ = tokenize_html(html, base)
    return [(u, t) for u, t, *_ in cands]


def test_anchor_extraction_order_and_resolution():
    html = (
        '<a href="https://a.com/x">A</a>'
        '<a href="/rel/path">B</a>'
        '<iframe src="https://www.youtube.com/embed/v1"></iframe>'
        '<object data="/doc.pdf" title="Spec"></object>'
        '<embed src="/clip.mp4">'
    )
    got = links(html)
    # order: anchors, then iframes, then objects, then embeds
    # (html_parser.py:56-62)
    assert got == [
        ("https://a.com/x", "A"),
        ("https://example.com/rel/path", "B"),
        ("https://www.youtube.com/embed/v1", "Embedded Video Content"),
        ("https://example.com/doc.pdf", "Spec"),
        ("https://example.com/clip.mp4", "Embedded Content"),
    ]


def test_scheme_prefixes_skipped():
    html = (
        '<a href="javascript:void(0)">x</a><a href="#f">y</a>'
        '<a href="mailto:a@b.c">z</a><a href="tel:+1">t</a>'
    )
    assert links(html) == []


def test_download_attr_priority_and_bare_download():
    # non-empty download attr wins (html_parser.py:125-148)
    assert links('<a href="/f" download="Name.pdf">Inner</a>') == [
        ("https://example.com/f", "Name.pdf")
    ]
    # bare download attr (value None) falls through to inner text
    assert links('<a href="/d.pdf" download>Download PDF</a>') == [
        ("https://example.com/d.pdf", "Download PDF")
    ]


def test_empty_text_falls_back_to_raw_href():
    # text is the raw href, media_ref the normalized URL
    # (test_infrastructure.py:66-74 + HttpUrl normalization)
    assert links('<a href="https://example.com"></a>') == [
        ("https://example.com/", "https://example.com")
    ]


def test_nested_markup_text_is_stripped_concat():
    # bs4 get_text(strip=True) semantics: strip each node, join with ""
    assert links('<a href="/x"> Foo <b>bar</b> </a>') == [
        ("https://example.com/x", "Foobar")
    ]


def test_pdf_suffix_run_collapse_matches_reference_regex():
    # (\.pdf)+$ collapses dotted repeats only (html_parser.py:146)
    assert links('<a href="/a">r.pdf.PDF</a>')[0][1] == "r.pdf"
    assert links('<a href="/a">r.pdfpdf</a>')[0][1] == "r.pdfpdf"
    assert links('<a href="/a">r.pdf.pdf.pdf</a>')[0][1] == "r.pdf"
    # '$' also matches before a final newline (download is not stripped
    # before the collapse)
    assert links('<a href="/a" download="r.pdf.PDF\n">x</a>')[0][1] == "r.pdf"


def test_iframe_golden_text_rule():
    # test-pinned _get_iframe_text (html_parser.py:150-166)
    assert links('<iframe src="https://cdn.iframe.ly/X"></iframe>') == [
        ("https://cdn.iframe.ly/X", "Embedded Video Content")
    ]
    assert links('<iframe src="https://other.com/page" title="T"></iframe>') == [
        ("https://other.com/page", "T")
    ]
    got = links('<iframe src="https://other.com/page"></iframe>')
    assert got == [
        ("https://other.com/page", "Embedded Content: https://other.com/page")
    ]


def test_img_and_empty_href_ignored():
    assert links('<img src="image.jpg"><a href="">x</a>') == []


def test_invalid_url_dropped_and_counted():
    cands, _, errors = tokenize_html('<a href="http://">Invalid</a>', BASE)
    assert cands == []
    assert errors == [("url_validation", "invalid_url", "http://")]


def test_empty_text_dropped_with_reason():
    # a whitespace-only download attr wins text selection then strips
    # to empty -> empty_text drop (reference: min_length=1 validator,
    # models.py:30-35)
    cands, _, errors = tokenize_html(
        '<a href="https://ok.example.com/x" download=" ">inner</a>', BASE
    )
    assert cands == []
    assert errors == [("text_selection", "empty_text", "https://ok.example.com/x")]


def _both_parses(html):
    from web_content_extractor_spark.functions.tokenizer import (
        _fast_feed,
        _LinkTokenizer,
    )

    ref = _LinkTokenizer()
    ref.feed(html)
    ref.close()
    fast = _LinkTokenizer()
    _fast_feed(fast, html)
    return ref, fast


def _assert_same(html):
    ref, fast = _both_parses(html)
    for field in ("anchors", "iframes", "objects", "embeds", "title"):
        assert getattr(fast, field) == getattr(ref, field), (field, html)


def test_fast_scanner_differential_pinned():
    # behaviors pinned from HTMLParser(convert_charrefs=True) itself
    from web_content_extractor_spark.functions.tokenizer import (
        _fast_feed,
        _LinkTokenizer,
    )

    cases = [
        '<a href="x&amp;y">A&amp;B</a>',
        "<a href='x' DOWNLOAD>t</a>",
        "<a href=bare>t</a>",
        '<A HREF="X">t</A>',
        '<a href="u" />self</a>',
        '<script>var a = "<a href=no>";</script><a href="yes">y</a>',
        "<!-- <a href=c>c</a> --><a href=d>d</a>",
        '<a href="x"',
        "text < 5 and >3",
        '<a href="a>b">t</a>',
        '<iframe src="f" title="T"/>',
        "<a href=x><a href=y>inner</a>",
        '<style>a{content:"<a href=s>"}</style><a href=z>z</a>',
        '<a href="x" download="">t</a>',
        "<a href=x>unterminated anchor",
        "<title> T &amp; U </title>",
        "<a href=x>a<b>b</b>c</a>",
        "<?pi data><a href=p>p</a>",
        "<!DOCTYPE html><a href=dt>d</a>",
        "</bogus><a href=e>e</a>",
        "</><a href=f>f</a>",
        "<a href=x junk=%$#>j</a>",
        "<embed src=e title=T><object data=o>",
        "<a\nhref = 'multi\nline'>m</a>",
        "<a href=x>t1</a >after</a>",
        "<script>never closed",
        "<a href='q'>&lt;tag&gt; text</a>",
        "<a href=x>t</a><!-- trailing",
        # plain-anchor fast path (_PLAIN_ANCHOR) and its near misses
        '<a href="/p?x=1&amp;y=2">Q &amp; A</a>',
        '<a href="/p?a=1&b=2">amp</a>',
        "<a href='/single' class='c'>single quotes</a>",
        '<a href="/first" href="/last">dup</a>',
        '<a href="">empty href</a>',
        '<a class="x">no href</a><a href="/after">after</a>',
        '<a href="/gt">x > y</a>',
        "<A HREF='x'>t</A>",
        "<a\x0bhref='/vt'>vertical tab</a>",
        '<a href="/d" download>valueless</a>',
        '<a href="/sp">spaced</a >tail',
        '<a href="/dl" download="R&amp;D.pdf">charref download</a>',
        '<a hre="/n">near-miss name</a><a hrefs="/m">m</a>',
        '<a data-href="/d">d</a><a href="/e" xhref="/f">e</a>',
        # <! constructs go to parse_html_declaration; each is followed
        # by an anchor so a wrong extent shows
        "<!DOCTYPE html><a href=/dt>plain doctype</a>",
        '<!doctype x [<!ENTITY e "v">]><a href=/sub>internal subset</a>',
        "<![CDATA[<a href=/in>x</a>]]><a href=/cd>cdata</a>",
        "<![if !IE]><a href=/ie>ie</a><![endif]><a href=/ms>ms</a>",
        "<!bogus <a href=/bc>><a href=/after>bogus comment</a>",
        "<a href=/eof>x</a><!x",
        # CDATA content ends only at the exact close tag; a junk
        # `</script x>` inside an open anchor stays one raw data chunk
        "<a href=/s>a <script>x </script x> y</script></a>",
    ]
    for html in cases:
        _assert_same(html)
    # a bad marked section raises the same type from both
    for parse in (_LinkTokenizer().feed, lambda h: _fast_feed(_LinkTokenizer(), h)):
        with pytest.raises(AssertionError):
            parse("<![foo[x]]>")


def test_fast_scanner_idle_jump_hazards():
    # shapes targeting the idle jump-scan's exactness proof: constructs
    # whose stdlib extent could swallow an interesting opener if the
    # scan skipped them ('<' is a legal tagfind NAME char; unquoted
    # attr values and tolerant attr names may contain '<'; junk end
    # tags consume to the first '>'; NUL splits a tag into data+text)
    cases = [
        "<x<a href=http://e.com/y>hidden</a>",
        "<x<title>Hello</title>",
        "<x<script>var a=1</script><a href=http://e.com/z>real</a>",
        "<x<a>",
        "<x<iframe>",
        "<div <a href=http://e.com/n>t</a>>",
        "<div <a hidden>",
        "<div x=<a href=http://e.com/m>>tail</a>",
        "</div <a href=http://e.com/j>>after",
        "</div junk <a href=http://e.com/k>>",
        '<div\x00class="<a href=http://e.com/q>">in</a>',
        "<div\x00<a href=http://e.com/r>txt</a>",
        '<h2"<a>text</h2><a href=http://e.com/s>ok</a>',
        '<img alt="<a href=hidden>">',
        "<img alt='<iframe src=h>'>",
        'He said "hi" to <a href=http://e.com/t>her</a>',
        "It's x=y < 5 <a href=http://e.com/u>v</a>",
        "< a href=http://e.com/w>not a tag",
        "<a\x0bhref=http://e.com/v>weird</a>",
        "<x=y<a href=http://e.com/eq>e</a>",
        "<em x><a href=http://e.com/em>m</a>",
        '<p>quote " inside text</p><div q="<a href=http://e.com/hid>">z',
        "<?pi <a href=http://e.com/pi>?><a href=http://e.com/after>y</a>",
        "<<double<a href=http://e.com/d>dd</a>",
        "<div",
        "<a href=http://e.com/eof",
        # fuzz-found: quote-terminated NAME run + NUL satisfies
        # attrfind's ['"\s/] lookbehind, so the tag extent continues
        # past the NUL and swallows the inner opener
        '<d"\x00<a href=http://e.com/nul>',
        # fuzz-found: stdlib's junk-start-tag path emits its chunk RAW
        # (no charref unescape) — observable via an open title/anchor
        "<title><embedX&amp;\x00rest</title>",
        "<a href=http://e.com/r>pre<embedX&amp;\x00post</a>",
    ]
    for html in cases:
        _assert_same(html)


def test_fast_scanner_differential_fixtures():
    from web_content_extractor_spark.datagen import FIXTURES

    for f in FIXTURES:
        for span in f["spans"]:
            if span["kind"] == "html" and span["text"]:
                _assert_same(span["text"])


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.sampled_from(["a", "iframe", "object", "embed", "b", "p"]),
                st.sampled_from(
                    ["/x", "https://h/y?a=1&amp;b=2", "doc.pdf", "", "a>b", "x y"]
                ),
                st.sampled_from(["", " download", ' title="T"', " download='d.pdf'"]),
                st.sampled_from(["text", "A &amp; B", "", "x < y", "t1<b>t2</b>"]),
                st.booleans(),
                # extra quoted attributes send an anchor to the general
                # path; without them (and with extra == "") a closed
                # anchor whose text has no '<' takes the fast path
                st.lists(
                    st.tuples(
                        st.sampled_from(["class", "rel", "target"]),
                        st.sampled_from(["k", "no follow", "_blank", ""]),
                        st.sampled_from(['"', "'"]),
                    ),
                    max_size=2,
                ),
            ),
            st.sampled_from(
                [
                    "plain text",
                    "< stray",
                    "<!-- c -->",
                    "<script>x<y</script>",
                    "</div>",
                    "&copy; &bogus;",
                ]
            ),
        ),
        max_size=8,
    )
)
def test_fast_scanner_differential_generated(parts):
    html = ""
    for p in parts:
        if isinstance(p, str):
            html += p
        else:
            tag, url, extra, text, close, more = p
            attr = "href" if tag == "a" else ("data" if tag == "object" else "src")
            extra += "".join(f" {n}={q}{v}{q}" for n, v, q in more)
            html += f'<{tag} {attr}="{url}"{extra}>{text}'
            if close:
                html += f"</{tag}>"
    _assert_same(html)


def test_fast_scanner_adversarial_alphabet():
    # seeded random compositions of pathological HTML fragments
    # (scripts/fuzz_differential.py at its tier-1 seed and budget); the
    # engine's one scanner must END-BEHAVE identically to HTMLParser,
    # including its raising cases (which tokenize_doc converts to
    # parse_error records)
    report = fuzz_differential.run(seed=20260817, budget=4000)
    assert report["mismatches"] == 0, report["first_mismatch"]
    assert report["fast_path_cases"] > 0


def test_plain_anchor_regex_accepts_only_the_plain_grammar():
    # the fast path leaves outputs unchanged either way, so this is the
    # check that it is live: canonical plain anchors are consumed by one
    # _IDLE_STOP match; every general-path shape stops without groups
    from web_content_extractor_spark.functions.tokenizer import (
        _IDLE_STOP,
        _fast_feed,
        _LinkTokenizer,
    )

    class _StartTagCounter(_LinkTokenizer):
        starttags = 0

        def handle_starttag(self, tag, attrs):
            self.starttags += 1
            super().handle_starttag(tag, attrs)

    accepted = [
        '<a href="/x">t</a>',
        "<a href='/x'>t</a>",
        "<A HREF='x'>t</A>",
        '<a href="">t</a>',
        '<a\thref = "/x"\n>t</a>',
        '<a href="/x?a=1&amp;b=2">x > y</a>',
        '<a href="/x"></a>',
    ]
    for html in accepted:
        m = _IDLE_STOP.match(html)
        assert m and m.lastindex and m.end() == len(html), html
        # ...and the scanner takes it: no start-tag event is dispatched
        tok = _StartTagCounter()
        _fast_feed(tok, html)
        assert tok.starttags == 0, html
    rejected = [
        "<a\x0bhref='/x'>t</a>",         # Unicode whitespace
        "<a href=/x>t</a>",               # unquoted value
        '<a href="/x" download>t</a>',    # valueless attribute
        '<a href="/x"class="k">t</a>',    # no space between attributes
        '<a href=="/x">t</a>',            # '==' value indicator
        '<a href="/x">t<b>u</b></a>',     # nested markup
        '<a href="/x">t</a >',            # end tag with whitespace
        '<a href="/x"/>t</a>',            # self-closing start tag
        '<a href="<x">t</a>',             # '<' in a value
        "<a>t</a>",                       # no attributes
        '<a class="x">t</a>',             # an attribute other than href
        '<a href="/x" class="k">t</a>',   # href plus another attribute
        '<a rel="r" href="/x">t</a>',     # ...in either order
        '<a href="/1" href="/2">t</a>',   # duplicate href
        '<a href="/x" download="d">t</a>',  # quoted download
        '<ab href="/x">t</a>',            # other tag name
    ]
    for html in rejected:
        m = _IDLE_STOP.match(html)
        assert m is None or not m.lastindex, html


def test_title_captured():
    _, title, _ = tokenize_html("<title> My Page </title>", BASE)
    assert title == "My Page"


def test_interleaved_doc_positions():
    row = tokenize_doc(
        "https://d.org",
        [
            {"kind": "html", "text": '<a href="/a">A</a>', "media_ref": None, "offset": 0},
            {"kind": "media", "text": None, "media_ref": "s3://b/i.png", "offset": 1},
            {"kind": "text", "text": "plain", "media_ref": None, "offset": 2},
            {"kind": "html", "text": '<a href="/b">B</a>', "media_ref": None, "offset": 3},
        ],
    )
    assert row["cand_urls"] == ["https://d.org/a", "s3://b/i.png", "https://d.org/b"]
    assert row["cand_tags"] == ["a", "media", "a"]
    assert row["cand_texts"][1] == ""


def test_urlnorm_httpurl_parity():
    # pydantic-HttpUrl-style stringification
    assert urlnorm.normalize("https://Example.COM") == "https://example.com/"
    assert urlnorm.normalize("https://a.com:443/x") == "https://a.com/x"
    assert urlnorm.normalize("http://a.com:80/x") == "http://a.com/x"
    assert urlnorm.normalize("http://a.com:8080/x") == "http://a.com:8080/x"
    assert urlnorm.normalize("https://a.com/P?q=1#f") == "https://a.com/P?q=1#f"
    assert urlnorm.normalize("ftp://a.com/x") is None
    assert urlnorm.normalize("http://") is None
    assert urlnorm.normalize("not a url") is None
