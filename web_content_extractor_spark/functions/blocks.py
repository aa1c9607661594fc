"""Text-block segmentation for main-content extraction (north star).

The reference extracts links only; the north star adds
boilerpipe/readability-style block classification (BASELINE.json
north_star: "text-density + link-density heuristics ... emitting
heading/paragraph spans").  This module is the Python half: a one-pass
event tokenizer segmenting HTML into text blocks and emitting, per
block, the two features those public algorithms rely on — word count
and anchor-word count (Kohlschütter et al., WSDM 2010: densitometric
boilerplate detection).  The keep/drop decision and the span assembly
are native Column algebra in ``operators/content.py``, so the
thresholds run JVM-side and never re-enter a Python worker.

Block model:
- block-level tags flush the current block (headings, p, li, div, ...);
- inline tags (a, b, span, em, ...) do not;
- script/style/noscript/svg/template and <head> content are skipped;
- words inside any <a> count toward the block's anchor words;
- block text is whitespace-normalized.

Output is flat parallel arrays (same Arrow-friendly shape as the link
tokenizer): (block_tags, block_texts, block_words, block_anchor_words).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser
from typing import Any

import pandas as pd

_WS = re.compile(r"\s+")

BLOCK_TAGS = frozenset(
    "h1 h2 h3 h4 h5 h6 p li td th dd dt pre blockquote div section article "
    "aside header footer nav main body ul ol table tr form figure figcaption "
    "br hr".split()
)
_SKIP_TAGS = frozenset("script style noscript svg template head title".split())
_HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())


class _BlockTokenizer(HTMLParser):
    """Segment HTML into text blocks with word / anchor-word counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str, int, int]] = []
        self._chunks: list[str] = []
        self._anchor_chunks: list[str] = []
        self._tag = "body"  # tag context of the current block
        self._anchor_depth = 0
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._tag = tag

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
            self._anchor_chunks.append(" ")  # word boundary between anchors
        if tag in BLOCK_TAGS:
            self._flush()
            self._tag = "body"

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self._chunks.append(data)
        if self._anchor_depth:
            self._anchor_chunks.append(data)

    def close(self) -> None:
        super().close()
        self._flush()

    def _flush(self) -> None:
        text = _WS.sub(" ", "".join(self._chunks)).strip()
        if text:
            words = len(text.split())
            anchor_text = _WS.sub(" ", "".join(self._anchor_chunks)).strip()
            anchor_words = len(anchor_text.split()) if anchor_text else 0
            self.blocks.append((self._tag, text, words, anchor_words))
        self._chunks = []
        self._anchor_chunks = []


def segment_blocks(html: str) -> list[tuple[str, str, int, int]]:
    """One document's ordered (tag, text, n_words, n_anchor_words)."""
    tok = _BlockTokenizer()
    tok.feed(html)
    tok.close()
    return tok.blocks


_COLS = (
    "doc_id",
    "block_tags",
    "block_texts",
    "block_words",
    "block_anchor_words",
)


def segment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: DOCS batches -> block-feature batches."""
    for pdf in batches:
        cols: dict[str, list[Any]] = {c: [] for c in _COLS}
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            tags: list[str] = []
            texts: list[str] = []
            words: list[int] = []
            aw: list[int] = []
            span_list = [s for s in spans if s is not None] if spans is not None else []
            for span in sorted(span_list, key=lambda s: s["offset"] or 0):
                if span.get("kind") != "html" or not span.get("text"):
                    continue
                try:
                    blocks = segment_blocks(span["text"])
                except Exception:
                    continue
                for t, x, w, a in blocks:
                    tags.append(t)
                    texts.append(x)
                    words.append(w)
                    aw.append(a)
            cols["doc_id"].append(doc_id)
            cols["block_tags"].append(tags)
            cols["block_texts"].append(texts)
            cols["block_words"].append(words)
            cols["block_anchor_words"].append(aw)
        yield pd.DataFrame(cols, columns=list(_COLS))
