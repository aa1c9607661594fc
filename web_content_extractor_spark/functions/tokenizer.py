"""From-scratch HTML link tokenizer (stdlib ``html.parser``).

This is the engine's extraction Python stage, with two batch bodies
over one per-document function (:func:`tokenize_doc`) and one span
ordering (:func:`fold_spans`): :func:`arrow_batches` is the
``mapInArrow`` kernel of ``extract``, shipping only the columns its
caller returns, and :func:`tokenize_batches` the ``mapInPandas`` body
of ``tokenize`` with every TOKENIZED column.  It re-implements, from the
observable behavior only, the candidate-link extraction of the
reference parser (src/infrastructure/html_parser.py:47-148) as an
event-driven tokenizer — no DOM materialization, one pass per
document:

- anchors with an ``href`` (skip javascript:/#/mailto:/tel: prefixes,
  html_parser.py:84), then iframes (``src``), then objects (``data``),
  then embeds (``src``) — concatenated in that order
  (html_parser.py:56-62);
- anchor text priority: non-empty ``download`` attr → stripped inner
  text → raw href → url, then collapse a trailing run of ``.pdf``
  suffixes to a single ``.pdf`` (html_parser.py:125-148);
- iframe text uses the *test-pinned* golden rule ``_get_iframe_text``
  (html_parser.py:150-166; pinned by
  tests/unit/test_enhanced_parsing.py:35-38 over the live code path):
  URL containing youtube/youtu.be/embed/iframe.ly → "Embedded Video
  Content", else the title attr, else "Embedded Content: {url}";
- object text = title or "Embedded Object"; embed text = title or
  "Embedded Content" (html_parser.py:103-123);
- every candidate URL is urljoin-resolved and HttpUrl-normalized;
  invalid URLs are dropped and counted (drop-not-fail semantics,
  link_classifier.py:50-53).

Interleaved input: a document is an array of spans ordered by
``offset``.  ``kind='html'`` spans are tokenized; ``kind='media'``
spans pass through as candidates with ``is_media=True`` (their
media_ref is preserved verbatim — opaque payload, no validation);
``kind='text'`` spans yield no link candidates.  A single monotonically
increasing ``pos`` preserves document parse order across spans.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterable, Iterator
from html.parser import HTMLParser
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import types as T

from web_content_extractor_spark.functions import urlnorm
from web_content_extractor_spark.functions.classify import (
    OTHER,
    PDF,
    YOUTUBE,
    rank_context_py,
)
from web_content_extractor_spark.schemas import TOKENIZED

_PDF_SUFFIX_RUN = re.compile(r"(\.pdf)+$", re.IGNORECASE)
_VIDEO_HINTS = ("youtube", "youtu.be", "embed", "iframe.ly")
# tags whose events the consumer observes (plus cdata-mode switches)
_INTERESTING_TAGS = frozenset(
    ("a", "iframe", "object", "embed", "title", "script", "style")
)
# Idle jump-scan: when no anchor is open and we're not inside <title>,
# every construct NOT matched below is provably unobservable, so one
# C-level search replaces per-tag Python iterations.  The scan must
# stop at (left-to-right, so the OUTERMOST construct wins):
#   <[!?]      comments / doctypes / PIs (may contain tag-like text);
#   </junk     malformed end tags (endtagfind fails) swallow input up
#              to the first '>' and could eat a real opener — only a
#              WELL-FORMED </name\s*> is skipped (its extent cannot
#              contain '<', quotes, or '=' by its grammar);
#   <a|iframe|object|embed|title|script|style  (name-boundary checked:
#              tagfind's name chars are [^\t\n\r\f />\x00], so a name
#              is "done" only before those or EOF);
#   <name(ws|/|NUL) any start tag with whitespace/attrs — its attr
#              values (quoted OR unquoted) and tolerant attr NAMES may
#              contain '<', so its extent must be parsed exactly.  NUL
#              is included because the stdlib attribute regex's name
#              lookbehind ['"\s/] lets an attribute start right after
#              a quote-terminated NAME run (`<d"\x00<a href=x>` is ONE
#              tag named `d"` with attrs `\x00<a` and `href` —
#              fuzz-found);
#   <name<     a start tag whose name run hits another '<' ('<' is a
#              legal tagfind name char, so `<x<title>` is ONE boring
#              tag named "x<title" — jumping to the inner `<title`
#              would wrongly enter title mode).
# What remains skipped: text runs, stray '<' chars, attributeless
# '<'-free `<name>` tags (their extent is exactly name chars + '>' —
# no '<' inside, so no room for an opener), and well-formed end tags
# (their name grammar excludes '<'/quotes).  All are event-free while
# idle.  Quotes and '=' need no handling: an attribute VALUE can only
# exist inside a start tag whose name run ends in whitespace or '/'
# (or hits '<'), and those all stop the scan above — a quote anywhere
# else is inert text or part of a tag NAME, neither of which can
# extend an extent past a later '<'.
# (The leading '<' is factored out into _IDLE_STOP below.)
_IDLE_JUMP = (
    r"""[!?]"""
    r"""|/(?![a-zA-Z][-.a-zA-Z0-9:_]*\s*>)"""
    r"""|(?:a|iframe|object|embed|title|script|style)"""
    r"""(?=[\t\n\r\f />]|$)"""
    r"""|[a-zA-Z][^\t\n\r\f />\x00]*(?=[\t\n\r\f /\x00])"""
    r"""|[a-zA-Z][^<\t\n\r\f />\x00]*(?=<)"""
)
# One-match anchor fast path: a whole plain anchor
#   <a href="v">text</a>
# consumed by one match while idle and turned straight into the
# (href, None, text) tuple that HTMLParser's starttag / data / endtag
# triple produces for it.  Exact because the sub-grammar sits strictly
# inside what the stdlib parses to that triple:
#   - `<a`/`<A`, ASCII whitespace [ \t\n\r\f]+, the name href in any
#     case, '=' with optional ASCII whitespace on both sides, and a
#     "..." or '...' value with no '<'/'>': tagfind ends the tag name
#     "a" at that whitespace, the stdlib attribute regex reads exactly
#     this name and quoted value (its name run stops at whitespace or
#     '=', its quoted alternatives end at the closing quote), the name
#     is lower-cased, and html.unescape changes the value only if it
#     holds '&';
#   - then optional ASCII whitespace and '>', so locatestarttagend
#     ends right there and the tag is a plain start tag (not '/>')
#     with no download attribute;
#   - the body has no '<', so goahead emits it as ONE data chunk
#     (unescaped iff it holds '&') that _close_anchor strips;
#   - a literal </a> or </A> is a well-formed end tag for "a".
# Everything else -- any attribute besides a lone href, Unicode
# whitespace such as \x0b, an unquoted value, '==', nested markup,
# `</a >` -- fails to match and takes the general path from the same
# position.  Every start position of this regex is also an _IDLE_JUMP
# stop (`<a` then whitespace), so the two fold into one search with
# the anchor alternative first: the leftmost stop is unchanged, and at
# it the anchor is tried before the general path.  Groups: 1 = the
# quoted href value, 2 = the body; an _IDLE_JUMP stop leaves both
# unset (lastindex None).  The shared leading '<' stays outside the
# alternation so the search keeps sre's literal-prefix scan (with a
# '<' in each branch it ran ~2x slower).
_WS = r"[ \t\n\r\f]"
_PLAIN_ANCHOR = (
    rf"""[aA]{_WS}+[hH][rR][eE][fF]{_WS}*={_WS}*("[^"<>]*"|'[^'<>]*')"""
    rf"""{_WS}*>([^<]*)</[aA]>"""
)
_IDLE_STOP = re.compile(rf"<(?:{_PLAIN_ANCHOR}|(?i:{_IDLE_JUMP}))")


class _LinkTokenizer(HTMLParser):
    """One-pass event tokenizer collecting the four candidate classes."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.anchors: list[tuple[str, str | None, str]] = []  # (href, download, text)
        self.iframes: list[tuple[str, str | None]] = []  # (src, title)
        self.objects: list[tuple[str, str | None]] = []  # (data, title)
        self.embeds: list[tuple[str, str | None]] = []  # (src, title)
        self.title: str | None = None
        self._open_anchor: tuple[str, str | None, list[str]] | None = None
        self._in_title = False

    # -- tag events ------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        a = dict(attrs)
        if tag == "a":
            self._close_anchor()  # nested <a> implicitly closes the open one
            href = a.get("href")
            if href is not None:
                self._open_anchor = (href, a.get("download"), [])
        elif tag == "iframe":
            src = a.get("src")
            if src:
                self.iframes.append((src, a.get("title")))
        elif tag == "object":
            data = a.get("data")
            if data:
                self.objects.append((data, a.get("title")))
        elif tag == "embed":
            src = a.get("src")
            if src:
                self.embeds.append((src, a.get("title")))
        elif tag == "title":
            self._in_title = True

    def handle_startendtag(
        self, tag: str, attrs: list[tuple[str, str | None]]
    ) -> None:
        if tag != "a":
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._close_anchor()
        elif tag == "title":
            self._in_title = False

    def handle_data(self, data: str) -> None:
        if self._open_anchor is not None:
            self._open_anchor[2].append(data)
        if self._in_title and self.title is None and data.strip():
            self.title = data.strip()

    def close(self) -> None:
        super().close()
        self._close_anchor()

    def _close_anchor(self) -> None:
        if self._open_anchor is not None:
            href, download, chunks = self._open_anchor
            # bs4 get_text(strip=True): each text node stripped, joined by ""
            text = "".join(c.strip() for c in chunks)
            self.anchors.append((href, download, text))
            self._open_anchor = None


def _fast_feed(tok: _LinkTokenizer, rawdata: str) -> None:
    """Single-pass scanner emitting the same event stream as
    ``HTMLParser(convert_charrefs=True)`` (``feed`` then ``close``) into
    ``tok``.

    The stdlib parser's incremental-feed loop (goahead / updatepos
    bookkeeping) is most of the tokenizer CPU.  This one-shot loop keeps
    goahead's own rules for text, stray '<', CDATA (script/style)
    content and end of input, and hands every markup construct to the
    stdlib method goahead itself calls on it, run on ``tok`` over the
    same ``rawdata``: ``parse_starttag`` (or ``check_for_whole_start_tag``
    to skip an idle, non-interesting start tag over its extent),
    ``parse_endtag``, ``parse_comment``, ``parse_pi`` and
    ``parse_html_declaration``.  An exception from one of them (an
    ``AssertionError`` on a bad marked section) propagates exactly as
    from ``HTMLParser.feed``.  Differential-tested against HTMLParser in
    tests/test_tokenizer.py and scripts/fuzz_differential.py.

    While idle, a plain anchor (``_PLAIN_ANCHOR``: a lone quoted
    ``href`` after ASCII whitespace, a '<'-free body, a literal
    ``</a>``) is consumed by the same search that finds the next stop and
    appended to ``tok.anchors`` directly; anything else at that stop
    runs the general path below from the same position.
    """
    import html as _htmlmod
    import html.parser as _hp

    unescape = _htmlmod.unescape
    tagfind = _hp.tagfind_tolerant
    idle_stop = _IDLE_STOP.search
    startswith = rawdata.startswith
    anchors = tok.anchors
    tok.rawdata = rawdata  # the parse_* methods read self.rawdata

    n = len(rawdata)
    i = 0

    def data(chunk: str) -> None:
        if chunk:
            tok.handle_data(unescape(chunk) if "&" in chunk else chunk)

    def incomplete(at: int) -> int:
        # html.parser goahead(end=1) EOF rule for an incomplete
        # construct: emit one data chunk up to and including the next
        # '>', else up to (excluding) the next '<', else one char
        k = rawdata.find(">", at + 1)
        if k < 0:
            k = rawdata.find("<", at + 1)
            if k < 0:
                k = at + 1
        else:
            k += 1
        data(rawdata[at:k])
        return k

    while i < n:
        if tok.cdata_elem is not None:
            # content is raw until the close tag set_cdata_mode compiled
            # into tok.interesting; unterminated CDATA content is
            # DISCARDED at EOF, exactly like goahead's cdata break
            m = tok.interesting.search(rawdata, i)
            if not m:
                break
            if m.start() > i:
                tok.handle_data(rawdata[i : m.start()])
            tok.handle_endtag(tok.cdata_elem)
            tok.clear_cdata_mode()
            i = m.end()
            continue

        # "idle" = no open anchor, not inside <title>: data events are
        # dropped by the consumer and non-interesting tags produce no
        # observable event.  One _IDLE_STOP search (see the _IDLE_JUMP
        # and _PLAIN_ANCHOR contracts above) replaces per-tag iteration
        # over text runs, '<'-free attributeless tags, and well-formed
        # end tags, and consumes a whole plain anchor in the same
        # match; every other stop position is parsed by the stdlib, so
        # quoted '>'/'<' inside attributes can never derail the scan.
        idle = tok._open_anchor is None and not tok._in_title
        if idle:
            jm = idle_stop(rawdata, i)
            if jm is None:
                break  # only text/boring extents remain; idle drops them
            if jm.lastindex:
                href, body = jm.group(1, 2)
                href = href[1:-1]
                if "&" in href:
                    href = unescape(href)
                if "&" in body:
                    body = unescape(body)
                anchors.append((href, None, body.strip()))
                i = jm.end()
                continue
            i = jm.start()
        else:
            lt = rawdata.find("<", i)
            if lt < 0:
                data(rawdata[i:])
                break
            data(rawdata[i:lt])
            i = lt
        nxt = rawdata[i + 1 : i + 2]
        if nxt.isascii() and nxt.isalpha():
            # an idle, non-interesting start tag has no observable
            # event: skip its extent without building its attributes
            skip = idle and (
                tagfind.match(rawdata, i + 1).group(1).lower()
                not in _INTERESTING_TAGS
            )
            if skip:
                k = tok.check_for_whole_start_tag(i)
            else:
                k = tok.parse_starttag(i)
        elif startswith("</", i):
            k = tok.parse_endtag(i)
        elif startswith("<!--", i):
            k = tok.parse_comment(i)
        elif startswith("<?", i):
            k = tok.parse_pi(i)
        elif startswith("<!", i):
            k = tok.parse_html_declaration(i)
        else:
            data("<")
            i += 1
            continue
        i = incomplete(i) if k < 0 else k

    tok.rawdata = ""  # or close() would re-parse the whole document
    tok.close()


def _iframe_text(url: str, title: str | None) -> str:
    """Golden iframe text rule (html_parser.py:150-166, test-pinned)."""
    low = url.lower()
    if any(h in low for h in _VIDEO_HINTS):
        return "Embedded Video Content"
    if title:
        return title
    return f"Embedded Content: {url}"


def tokenize_html(
    html: str, base_url: str
) -> tuple[list[tuple[str, str, str, int]], str | None, list[tuple[str, str, str]]]:
    """Tokenize one HTML payload.

    Returns (candidates, page_title, errors) where candidates is the
    ordered list of (url, text, tag, type_rank) — the reference's
    list[tuple[url, text]] IR (src/core/interfaces.py:24) with URLs
    already urljoin-resolved, plus the source tag and the
    golden-classifier rank that :func:`fold_spans` orders on.
    ``errors`` records each dropped candidate as
    (stage, reason, target): the queryable analog of the reference's
    ContextualExtractionError context (src/core/exceptions.py:46-67,
    service.py:126-140) — drop-not-fail semantics preserved, but every
    drop is attributable.

    The returned URLs are HttpUrl-normalized absolute URLs.  The HTML
    is scanned once by :func:`_fast_feed`; an exception from the
    stdlib's parse methods (an ``AssertionError`` on a bad marked
    section, exactly as ``HTMLParser`` raises) propagates, and
    :func:`tokenize_doc` records it as one ``parse_error:<Type>`` row.
    """
    tok = _LinkTokenizer()
    _fast_feed(tok, html)

    out: list[tuple[str, str, str, int]] = []
    errors: list[tuple[str, str, str]] = []
    bp = urlnorm.base_prefix(base_url)

    def target_url(raw_target: str) -> str | None:
        """Resolved, HttpUrl-normalized target, or None (recorded)."""
        # fast paths for the two dominant href shapes.  Absolute http(s)
        # targets are returned verbatim by urljoin (urllib keeps their
        # dot segments).  Root-relative targets get dot segments
        # *removed* by urljoin (RFC 3986 §5.2.4), so any href containing
        # "/." ("/./", "/../", trailing "/." or "/..") must take the
        # full resolve path.  Both fast paths also exclude targets with
        # an EMPTY query or fragment ('a?', 'a#', 'a?#x'): urljoin's
        # split/unsplit round-trip silently DROPS the bare delimiter
        # ('/a?' -> '/a'), so the reference — which joins every href —
        # never emits it, and a verbatim fast path must not either
        # (fuzz-found; empty query ⟺ '?' at end or right before '#',
        # empty fragment ⟺ trailing '#').
        # Same class of silent rewrite: urljoin also removes urllib's
        # _UNSAFE_URL_BYTES_TO_REMOVE (tab/CR/LF) from the target
        # ('/a\tb' -> '/ab'), so a target containing any of them must
        # take the full resolve path too (advisor-found).
        joins_clean = not (
            raw_target.endswith(("?", "#"))
            or "?#" in raw_target
            or "\t" in raw_target
            or "\r" in raw_target
            or "\n" in raw_target
        )
        if joins_clean and raw_target.startswith(("http://", "https://")):
            resolved = raw_target
        elif (
            joins_clean
            and bp
            and raw_target.startswith("/")
            and not raw_target.startswith("//")
            and "/." not in raw_target
        ):
            resolved = bp + raw_target
        else:
            resolved = urlnorm.resolve(base_url, raw_target)
        normalized = urlnorm.normalize(resolved)
        if normalized is None:
            errors.append(("url_validation", "invalid_url", resolved))
        return normalized

    def push(url: str, text: str, tag: str) -> None:
        if not text:
            errors.append(("text_selection", "empty_text", url))
            return
        # golden-classifier rank (~1 us): fold_spans orders on it
        out.append((url, text, tag, rank_context_py(url, text)))

    for href, download, inner in tok.anchors:
        if not href or href.startswith(urlnorm.SKIP_PREFIXES):
            continue
        url = target_url(href)
        if url is None:
            continue
        # reference text-selection priority (html_parser.py:125-148):
        # non-empty download, stripped inner text, raw href (never
        # empty here), then a trailing (\.pdf)+ run collapses to one
        text = _PDF_SUFFIX_RUN.sub(".pdf", download or inner or href)
        push(url, text.strip(), "a")
    for src, title in tok.iframes:
        url = target_url(src)
        if url is not None:
            push(url, _iframe_text(url, title), "iframe")
    for data, title in tok.objects:
        url = target_url(data)
        if url is not None:
            push(url, title or "Embedded Object", "object")
    for src, title in tok.embeds:
        url = target_url(src)
        if url is not None:
            push(url, title or "Embedded Content", "embed")
    return out, tok.title, errors


def tokenize_doc(
    doc_id: str | None, spans: Iterable[dict[str, Any]] | None
) -> dict[str, Any]:
    """Tokenize one interleaved document row -> TOKENIZED-shaped dict.

    Candidates come back as flat parallel lists (``cand_urls``,
    ``cand_texts``, ``cand_tags`` and their golden-classifier type
    ``ranks``) — document parse order is the list index; every
    TOKENIZED column but ``spans`` is a key, and :func:`fold_spans`
    turns the candidates into the output spans.  ``tag='media'`` marks
    pass-through media spans; invalid URLs are already dropped here
    (drop-not-fail, link_classifier.py:50-53) and only counted in
    ``parse_failures``.
    """
    t0 = time.perf_counter()
    base_url = doc_id  # fixture convention: doc_id IS the base URL
    urls: list[str] = []
    texts: list[str] = []
    tags: list[str] = []
    ranks: list[int] = []
    err_stages: list[str] = []
    err_reasons: list[str] = []
    err_targets: list[str] = []
    if doc_id is None:
        # no base URL: absolute links still extract, relative ones drop
        # as invalid_url below
        err_stages.append("input")
        err_reasons.append("null_doc_id")
        err_targets.append("")
    title: str | None = None
    span_list = []
    for span in spans if spans is not None else ():
        if span is None:
            # a null element of the spans array: skip it, keep the rest
            err_stages.append("input")
            err_reasons.append("null_span")
            err_targets.append("")
        else:
            span_list.append(span)
    for span in sorted(span_list, key=lambda s: s["offset"] or 0):
        kind = span.get("kind")
        if kind == "html" and span.get("text"):
            try:
                cands, t, errs = tokenize_html(span["text"], base_url)
            except Exception as exc:
                err_stages.append("parse")
                err_reasons.append(f"parse_error:{type(exc).__name__}")
                err_targets.append(base_url)
                continue
            for stage, reason, target in errs:
                err_stages.append(stage)
                err_reasons.append(reason)
                err_targets.append(target)
            title = title or t
            for url, text, tag, rank in cands:
                urls.append(url)
                texts.append(text)
                tags.append(tag)
                ranks.append(rank)
        elif kind == "media" and span.get("media_ref"):
            # opaque media payload: passes through unvalidated
            urls.append(span["media_ref"])
            texts.append("")
            tags.append("media")
            ranks.append(2)  # media is always kind='other' (F14)
    return {
        "doc_id": doc_id,
        "page_title": title,
        "cand_urls": urls,
        "cand_texts": texts,
        "cand_tags": tags,
        "ranks": ranks,
        "parse_failures": len(err_stages),
        "err_stages": err_stages,
        "err_reasons": err_reasons,
        "err_targets": err_targets,
        "proc_us": int((time.perf_counter() - t0) * 1e6),
    }


_KIND_OF_RANK = (PDF, YOUTUBE, OTHER)


def fold_spans(
    urls: list[str], texts: list[str], ranks: list[int]
) -> tuple[list[str], list[str], list[str]]:
    """One document's candidates -> its output spans' (kinds, texts,
    media_refs), in span order; a span's ``offset`` is its list index.

    Spans are ordered by (type rank, document parse order) — the
    ExtractionResult invariant: pdf list, then youtube list, then other
    list, each in parse order (service.py:80-88, models.py:171-173) —
    by a stable sort on the rank.  An empty text falls back to the url
    (media spans, FIXTURES.md F14), and ``media_ref`` is the url.
    """
    order = sorted(range(len(ranks)), key=ranks.__getitem__)
    return (
        [_KIND_OF_RANK[ranks[i]] for i in order],
        [texts[i] or urls[i] for i in order],
        [urls[i] for i in order],
    )


_COLS = tuple(TOKENIZED.fieldNames())


def tokenize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: DOCS batches in, TOKENIZED batches out.

    Output is built column-wise (dict of lists) — constructing pandas
    frames from per-row dicts re-infers every cell and dominated the
    profile at scale.
    """
    for pdf in batches:
        cols: dict[str, list[Any]] = {c: [] for c in _COLS}
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            d = tokenize_doc(doc_id, spans)
            kinds, texts, refs = fold_spans(
                d["cand_urls"], d["cand_texts"], d["ranks"]
            )
            d["spans"] = list(zip(kinds, texts, refs, range(len(kinds))))
            for c in _COLS:
                cols[c].append(d[c])
        yield pd.DataFrame(cols, columns=list(_COLS))


def arrow_batches(
    columns: tuple[str, ...],
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """mapInArrow body: DOCS batches in, batches of the TOKENIZED
    ``columns`` out (``doc_id`` and ``spans`` first, in that order).

    Only the named columns cross back to the JVM.  ``doc_id`` is the
    input array itself, and ``spans`` is assembled from flat per-field
    lists into one ``list<struct>`` array without a Python object per
    span.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    extra = columns[2:]

    def extract_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        schema = to_arrow_schema(T.StructType([TOKENIZED[c] for c in columns]))
        span_list = schema.field("spans").type
        span_fields = list(span_list.value_type)
        for batch in batches:
            doc_ids = batch.column("doc_id")
            kinds: list[str] = []
            texts: list[str] = []
            refs: list[str] = []
            offsets: list[int] = []
            starts = [0]
            cols: dict[str, list[Any]] = {c: [] for c in extra}
            for doc_id, spans in zip(
                doc_ids.to_pylist(), batch.column("spans").to_pylist()
            ):
                d = tokenize_doc(doc_id, spans)
                k, t, r = fold_spans(d["cand_urls"], d["cand_texts"], d["ranks"])
                kinds += k
                texts += t
                refs += r
                offsets += range(len(k))
                starts.append(len(kinds))
                for c in extra:
                    cols[c].append(d[c])
            items = pa.StructArray.from_arrays(
                [
                    pa.array(kinds, pa.string()),
                    pa.array(texts, pa.string()),
                    pa.array(refs, pa.string()),
                    pa.array(offsets, pa.int32()),
                ],
                fields=span_fields,
            )
            arrays = [
                doc_ids,
                pa.ListArray.from_arrays(
                    pa.array(starts, pa.int32()), items, type=span_list
                ),
            ] + [pa.array(cols[c], schema.field(c).type) for c in extra]
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return extract_batches
