"""Link classification as native Catalyst Column expressions.

The reference ships two interchangeable classifiers behind one
protocol (src/core/interfaces.py:33-39):

- ``ContextAwareClassifier`` (src/infrastructure/context_classifier.py:9-76)
  — used by the CLI; URL patterns first (incl. cdn.iframe.ly), then a
  "N MB ... pdf" text hint, then iframe.ly ``url=`` query-param
  unwrapping, then "watch" in text.
- ``RegexLinkClassifier`` (src/infrastructure/link_classifier.py:15-72)
  — used by the API/functions; broader PDF URL/text patterns,
  youtube/watch text heuristics.

The *golden* semantics (what the reference's own tests pin down —
see FIXTURES.md §2) are the ContextAware rule set plus the
drop-invalid-URL behavior; the Regex variant stays available behind a
flag for API-parity.

Both are pure ``when``/``rlike`` chains: JVM-side, codegen-friendly,
usable either on exploded columns or inside ``transform()`` lambdas
over the nested candidates array.  These Column chains are the
oracle-checked semantics (q_classifier_context / q_classifier_regex),
the path for exploded-column queries (where whole-stage codegen
applies) and the ``variant="regex"`` span assembly.  The default
"context" extraction ranks each candidate with
:func:`rank_context_py` — an exact-parity Python twin evaluated in
the tokenizer's Arrow kernel, which also orders the spans
(randomized differentials pin both the rank and the ordered spans to
the Column chain).
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- pattern constants (Java regex, embedded (?i) for case-insens.) ----

# ContextAware PDF URL patterns (context_classifier.py:13-17)
CTX_PDF_URL_RE = r"(?i)(\.pdf$|\.pdf[?#]|pdf.*download)"
# ContextAware YouTube URL patterns incl. iframe.ly CDN
# (context_classifier.py:19-28)
CTX_YT_URL_RE = (
    r"(?i)(youtube\.com/watch|youtu\.be/|youtube\.com/embed/"
    r"|youtube-nocookie\.com|cdn\.iframe\.ly/)"
)
# size-hint text rule (context_classifier.py:50-51)
CTX_PDF_TEXT_RE = r"(?i)\d+\s*MB.*pdf"

# Regex-variant PDF URL patterns (link_classifier.py:18-23)
RGX_PDF_URL_RE = r"(?i)(\.pdf$|\.pdf[?#]|\.pdf.*download|[^/]*\.pdf[^/]*$)"
# Regex-variant PDF text patterns (link_classifier.py:61-62)
RGX_PDF_TEXT_RE = r"(?i)\.pdf(\b|$)"
# Regex-variant YouTube URL patterns (link_classifier.py:26-31)
RGX_YT_URL_RE = (
    r"(?i)(youtube\.com/watch|youtu\.be/|youtube\.com/embed/|youtube-nocookie\.com)"
)

PDF, YOUTUBE, OTHER = "pdf", "youtube", "other"

def _iframely_proxied_is_youtube(url: Column) -> Column:
    """iframe.ly proxy unwrap (context_classifier.py:56-63).

    Extract the ``url=`` query parameter and re-test the YouTube
    patterns against its decoded value.  ``try_url_decode`` keeps the
    drop-not-fail contract for malformed percent-encoding.
    """
    param = F.try_parse_url(url, F.lit("QUERY"), F.lit("url"))
    return (
        F.lower(url).contains("iframe.ly")
        & param.isNotNull()
        & F.coalesce(_try_decode(param), param).rlike(CTX_YT_URL_RE)
    )


def _try_decode(c: Column) -> Column:
    return F.call_function("try_url_decode", c)


def classify_context(url: Column, text: Column) -> Column:
    """Golden classifier (ContextAware decision order, FIXTURES.md §2)."""
    return (
        F.when(url.rlike(CTX_PDF_URL_RE), F.lit(PDF))
        .when(url.rlike(CTX_YT_URL_RE), F.lit(YOUTUBE))
        .when(text.rlike(CTX_PDF_TEXT_RE), F.lit(PDF))
        .when(_iframely_proxied_is_youtube(url), F.lit(YOUTUBE))
        .when(F.lower(text).contains("watch"), F.lit(YOUTUBE))
        .otherwise(F.lit(OTHER))
    )


def classify_regex(url: Column, text: Column) -> Column:
    """Regex-variant classifier (link_classifier.py:41-72), PDF first."""
    is_pdf = (
        url.rlike(RGX_PDF_URL_RE)
        | text.rlike(RGX_PDF_TEXT_RE)
        | F.upper(text).contains("PDF")
    )
    is_yt = (
        url.rlike(RGX_YT_URL_RE)
        | F.lower(text).contains("youtube")
        | F.lower(text).contains("watch")
    )
    return (
        F.when(is_pdf, F.lit(PDF))
        .when(is_yt, F.lit(YOUTUBE))
        .otherwise(F.lit(OTHER))
    )


def classify_kind(url: Column, text: Column, variant: str = "context") -> Column:
    if variant == "context":
        return classify_context(url, text)
    if variant == "regex":
        return classify_regex(url, text)
    raise ValueError(f"unknown classifier variant: {variant!r}")


def type_rank(kind: Column) -> Column:
    """pdf=0, youtube=1, other=2 (ExtractionResult list order)."""
    return (
        F.when(kind == PDF, F.lit(0)).when(kind == YOUTUBE, F.lit(1)).otherwise(2)
    )


# ---------------------------------------------------------------------------
# Pure-Python parity twin of classify_context -> type rank, for the
# tokenizer's Arrow kernel, which already touches every candidate
# (~1 us/candidate) and orders the spans on this rank.  The
# interpreted when/rlike chain inside a transform() HOF never enters
# whole-stage codegen and measured ~0.8 s of the sf0.1 flagship when
# the JVM assembly still classified.  EXACT parity with the
# Column chain is pinned by a randomized differential
# (tests/test_classifier_differential.py) — Java-regex details
# mirrored deliberately: \d -> [0-9], \s -> Java's [ \t\n\x0b\f\r],
# java.net.URI rejects a malformed %-escape ANYWHERE in the URL (so
# parse_url yields NULL under try_), and java.net.URLDecoder decodes
# '+' to space and FAILS (-> NULL -> coalesce to raw) on a bad escape,
# unlike Python's lenient unquote.

# Java-parity translations (review-hardened):
# - '$'  -> Java's non-MULTILINE '$' matches at end OR before ONE final
#   line terminator (\r\n counts as one): (?=(?:\r\n|[\n\r\x85  ])?\Z)
# - '.'  -> Java's '.' excludes ALL line terminators, not just \n:
#   [^\n\r\x85  ]
# - re.ASCII with IGNORECASE -> Java (?i) folds ASCII only (no KELVIN
#   SIGN/dotless-i unicode folding); \d/\s are already explicit classes
_JEND = "(?=(?:\\r\\n|[\\n\\r\\x85\u2028\u2029])?\\Z)"
_JDOT = "[^\\n\\r\\x85\u2028\u2029]"
_PY_PDF_URL = re.compile(
    r"(\.pdf" + _JEND + r"|\.pdf[?#]|pdf" + _JDOT + r"*download)",
    re.IGNORECASE | re.ASCII,
)
_PY_YT_URL = re.compile(
    r"(youtube\.com/watch|youtu\.be/|youtube\.com/embed/"
    r"|youtube-nocookie\.com|cdn\.iframe\.ly/)",
    re.IGNORECASE | re.ASCII,
)
_PY_PDF_TEXT = re.compile(
    r"[0-9]+[ \t\n\x0b\f\r]*MB" + _JDOT + r"*pdf", re.IGNORECASE | re.ASCII
)
_PY_QPARAM = re.compile(r"(&|^)url=([^&]*)")
_PY_HEX = frozenset("0123456789abcdefABCDEF")
# RFC-2396 scheme as java.net.URI accepts it: alpha then alnum/+/-/.
_PY_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*\Z")
# characters java.net.URI rejects ANYWHERE (probed empirically against
# try_parse_url on this Spark build): ASCII controls + space + DEL,
# the RFC-2396 'delims'/'unwise' punct, and any non-ASCII char that is
# a Unicode control or space/line/para separator (URI's 'other'
# category admits only non-space non-control chars above U+0080)
_URI_BAD_PUNCT = frozenset('"<>\\^`{|}')


def _py_try_url_decode(s: str) -> str | None:
    """java.net.URLDecoder parity: '+' -> ' ', strict %XX (two hex
    digits required, else the WHOLE decode fails -> None), result
    bytes decoded utf-8 with replacement."""
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "+":
            out += b" "
            i += 1
        elif c == "%":
            if i + 3 > n or s[i + 1] not in _PY_HEX or s[i + 2] not in _PY_HEX:
                return None
            out.append(int(s[i + 1 : i + 3], 16))
            i += 3
        else:
            out += c.encode("utf-8")
            i += 1
    return out.decode("utf-8", errors="replace")


def _py_uri_rejects(part: str, brackets_bad: bool) -> bool:
    """Would java.net.URI reject this component?  Rules probed
    empirically against try_parse_url over all ASCII codes per
    position: controls/space/DEL, the RFC-2396 delims/unwise punct,
    '[]' outside the query/fragment, and non-ASCII chars that are
    Unicode controls (<= U+009F) or space/line/para separators
    (URI's 'other' category).  Known bounded divergence: a bracketed
    IPv6 AUTHORITY ('https://[::1]/…') is valid to java.net.URI but
    rejected here — such a URL must also contain 'iframe.ly' and a
    'url=' param to matter, and then this twin ranks it 'other' where
    the Column chain may rank 'youtube'."""
    for c in part:
        o = ord(c)
        if o <= 0x20 or o == 0x7F or c in _URI_BAD_PUNCT:
            return True
        if brackets_bad and (c == "[" or c == "]"):
            return True
        if o > 0x7F and (
            o <= 0x9F or unicodedata.category(c) in ("Zs", "Zl", "Zp")
        ):
            return True
    return False


def _py_query_param_url(url: str) -> str | None:
    """Spark ParseUrl(QUERY, 'url') parity over java.net.URI:

    - the FRAGMENT starts at the first '#'; the raw query exists only
      when a '?' precedes it ('#a?b' has no query — fuzz-found);
    - URI rejects malformed %-escapes and its per-component bad chars
      anywhere (see _py_uri_rejects) -> parse_url NULL under try_;
    - the key match is Spark's own (&|^)url=([^&]*) pattern.
    """
    j = 0
    while True:
        j = url.find("%", j)
        if j < 0:
            break
        if j + 3 > len(url) or url[j + 1] not in _PY_HEX or url[j + 2] not in _PY_HEX:
            return None
        j += 3
    frag_i = url.find("#")
    head = url[:frag_i] if frag_i >= 0 else url
    fragment = url[frag_i + 1 :] if frag_i >= 0 else ""
    q = head.find("?")
    if q < 0:
        return None
    # opacity gate (probe-verified against try_parse_url): a ':' in
    # the FIRST segment (no '/' before it) makes the input either an
    # absolute URI — whose query exists only when the scheme-specific
    # part starts with '/' (an OPAQUE URI like 'http:iframe.ly?url=…'
    # or 'mailto:a?url=…' has NO query to java.net.URI) — or, when the
    # candidate scheme is invalid ('1a:b?x', ':foo?x'), a relative
    # reference with a colon in its first segment, which java.net.URI
    # rejects outright (try_parse_url NULL either way)
    pre = head[:q]
    c = pre.find(":")
    if c >= 0 and "/" not in pre[:c]:
        if not _PY_SCHEME.match(pre[:c]) or not head[c + 1 :].startswith("/"):
            return None
    if (
        _py_uri_rejects(head[:q], brackets_bad=True)
        or _py_uri_rejects(head[q + 1 :], brackets_bad=False)
        or _py_uri_rejects(fragment, brackets_bad=False)
        or "#" in fragment
    ):
        return None
    m = _PY_QPARAM.search(head[q + 1 :])
    return m.group(2) if m else None


def rank_context_py(url: str, text: str) -> int:
    """type rank (pdf=0, youtube=1, other=2) of ``classify_context``.

    The substring prescreens are IMPLIED by the regexes (every rule-1
    alternative contains 'pdf', every rule-2 alternative contains
    'youtu' or 'iframe.ly', rule 3 contains 'mb'), so they change
    nothing semantically — they skip the regex engine on the common
    non-matching candidate.  The lower() calls deliberately mirror the
    Column chain's F.lower (same unicode lowering as Java), not re.I
    folding."""
    low_url = url.lower()
    has_ifly = "iframe.ly" in low_url
    if "pdf" in low_url and _PY_PDF_URL.search(url):
        return 0
    if ("youtu" in low_url or has_ifly) and _PY_YT_URL.search(url):
        return 1
    low_text = text.lower()
    if "mb" in low_text and _PY_PDF_TEXT.search(text):
        return 0
    if has_ifly:
        p = _py_query_param_url(url)
        if p is not None:
            dec = _py_try_url_decode(p)
            if _PY_YT_URL.search(dec if dec is not None else p):
                return 1
    if "watch" in low_text:
        return 1
    return 2


def rank_kind(rank: Column) -> Column:
    """Inverse of :func:`type_rank` — lets the Column assembly carry a
    cheap int through the sort and classify each candidate once."""
    return (
        F.when(rank == 0, F.lit(PDF))
        .when(rank == 1, F.lit(YOUTUBE))
        .otherwise(F.lit(OTHER))
    )
