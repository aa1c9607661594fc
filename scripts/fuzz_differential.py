#!/usr/bin/env python
"""Seeded differential fuzz: the engine's HTML scanner vs HTMLParser.

Each case is a random composition of pathological HTML fragments (the
alphabet below).  The engine's one scanner, ``_fast_feed``, must END in
the same state as ``HTMLParser`` itself: the same anchors, iframes,
objects, embeds and title, or the same exception type (which
``tokenize_doc`` turns into a parse_error record).  There is no
fallback: a scanner exception counts as a mismatch unless HTMLParser
raises the same type on that input.  The same seed and budget always
draw the same cases, so a mismatch is reproducible from the printed
report.

The alphabet also pins the scanner's dependence on the private
``html.parser`` regexes it reuses: a Python upgrade that changes them
shows up here as a mismatch.

Usage:
    python scripts/fuzz_differential.py --seed 20260817 --budget 4000
    python scripts/fuzz_differential.py --seed 7 --budget 200000

Prints one JSON line: seed, budget, mismatches, the number of anchors
the scanner's one-match fast path appended and of cases with at least
one such anchor (counted from the scanner's real events, not from the
input text), and the first mismatching input (repr).  Exit 0 = no
mismatch, 1 = at least one.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from web_content_extractor_spark.functions.tokenizer import (  # noqa: E402
    _fast_feed,
    _LinkTokenizer,
)

MAX_PARTS = 50  # fragments per case: 0 .. MAX_PARTS - 1

ALPHABET = list("<>/=\"'!?-abct &;#xX09") + [
    "<a href=", "</a>", "<!--", "-->", "<script>", "</script>",
    "&amp;", "&#65;", "<![", "]>", "--!>", "<?", "href", "download=",
    "title=", "\n", "<iframe", "<object", "<embed", "<title>",
    "</title>", "<b>", "</b>", '<p class="x">', "</p>",
    '<h2 title="a>b">', "mailto:x", "<<", ">>",
    '<div data-x="<a href=q>w</a>">', "<!doctype html>",
    "<![CDATA[x]]>",
    # idle-jump hazard shapes: '<'-bearing tag names, tolerant
    # attr names/values containing openers, junk end tags, NUL
    # splits, name-char quotes
    "<x<a href=h>", "<x<title>", "<div <a hidden>", "<div x=<a href=h>",
    "</div junk <a href=h>>", "<div\x00<a href=h>", '<h2"<a>',
    "<em x>", "<hr >", "\x00", "< stray", '<div/q="<a href=h>">',
    # plain-anchor fast-path shapes (_PLAIN_ANCHOR) and the near
    # misses it must leave to the general path: quote styles, extra
    # and duplicate attributes (only a lone href is plain), charrefs
    # in value and body, uppercase tag/attr names, ASCII vs Unicode
    # whitespace, valueless and unquoted attributes, '==' and
    # unspaced attributes, `</a >`
    '<a href="/p">', "<a href='/p'>", '<A HREF="/P">', "</A>",
    '<a href="h?a=1&b=2">', '<a href="x&amp;y">', '<a href="">',
    '<a class="x">', '<a href="1" href="2">', " class=\"c\"",
    " rel='r'", ' target="_blank"', ' download="d.pdf"', " download",
    "<a\thref='t'\n>", '<a href = "s" >', '<a href=="e">',
    '<a href="u"class="v">', "<a\x0bhref='w'>", "<a href=bare>",
    "</a >", "\x0b", "\t", "\f", "\r", "A&amp;B", "t &lt; u",
    "text", " pad ", "doc.PDF",
    '<a href="/f.pdf" class="k">Report</a>',
    "<a rel='nofollow' href='https://e.com/x?q=1&amp;r=2'>R &amp; D</a>",
    '<A HREF="/up">Up</A>', '<a href="/gt">x > y</a>',
    ' download="R&amp;D.pdf"', '<a hre="/n">', ' hrefs="/m"',
    ' data-href="/d"',
    # declarations, marked sections, PIs, junk end tags and CDATA
    # open/close variants: every construct the scanner hands to the
    # stdlib's own parse methods, including the raising ones
    "<!DOCTYPE html>", '<!doctype x [<!ENTITY e "v">]>', "<!DOCTYPE",
    "<![if !IE]>", "<![endif]>", "<![ignore[", "]]>", "<![foo[", "<!x>",
    "<!ELEMENT", '<?xml version="1.0"?>', "</>", "</ x>", '</a junk=">">',
    "<!--[if IE]>", "<![endif]-->", "<script x>", "</script >",
    "</script x>", "<style>", "</style>",
]


def _run_ref(s: str):
    t = _LinkTokenizer()
    try:
        t.feed(s)
        t.close()
        return ("ok", t.anchors, t.iframes, t.objects, t.embeds, t.title)
    except Exception as e:
        return ("exc", type(e).__name__)


class _CountingTokenizer(_LinkTokenizer):
    """Counts the anchors the general path appends (via _close_anchor);
    every other anchor in ``anchors`` was appended by the fast path."""

    general_anchors = 0

    def _close_anchor(self) -> None:
        if self._open_anchor is not None:
            self.general_anchors += 1
        super()._close_anchor()


def _run_engine(s: str):
    """(end state, fast-path anchor count); a raising scanner ends in
    ``("exc", type name)``, which is what ``tokenize_doc`` records."""
    t = _CountingTokenizer()
    try:
        _fast_feed(t, s)
    except Exception as e:
        return ("exc", type(e).__name__), 0
    state = ("ok", t.anchors, t.iframes, t.objects, t.embeds, t.title)
    return state, len(t.anchors) - t.general_anchors


def run(seed: int, budget: int) -> dict:
    """Check ``budget`` seeded cases; return the report dict."""
    rng = random.Random(seed)
    mismatches = 0
    fast_anchors = 0
    fast_cases = 0
    first = None
    for _ in range(budget):
        s = "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(0, MAX_PARTS)))
        state, fast = _run_engine(s)
        fast_anchors += fast
        fast_cases += fast > 0
        if _run_ref(s) != state:
            mismatches += 1
            if first is None:
                first = repr(s)
    return {
        "seed": seed,
        "budget": budget,
        "mismatches": mismatches,
        "fast_path_anchors": fast_anchors,
        "fast_path_cases": fast_cases,
        "first_mismatch": first,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--budget", type=int, required=True, help="number of cases")
    args = ap.parse_args(argv)
    report = run(args.seed, args.budget)
    print(json.dumps(report))
    return 1 if report["mismatches"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
