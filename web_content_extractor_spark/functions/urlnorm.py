"""URL resolution, validation and normalization.

Reproduces the observable URL behavior of the reference:

- relative hrefs are resolved against the page base with RFC-3986 join
  (reference: urljoin calls, src/infrastructure/html_parser.py:85,98,111,119);
- a link whose resolved URL is not a valid http(s) URL is *dropped*,
  not errored (reference: pydantic HttpUrl ValueError swallowed,
  src/infrastructure/link_classifier.py:50-53, pinned by
  tests/unit/test_enhanced_parsing.py:101-106);
- surviving URLs are normalized the way pydantic v2's HttpUrl
  stringifies them: scheme/host lowercased, default port stripped,
  bare authority gains a trailing "/" (pinned by
  tests/integration/test_extraction_service.py:65,82).

Pure-Python on purpose: these run *inside* the Arrow-batched tokenizer
(mapInPandas), so cost is amortized per batch; everything downstream
is native Column algebra.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit

_DEFAULT_PORTS = {"http": 80, "https": 443}

# Hrefs skipped before URL resolution (reference html_parser.py:84).
SKIP_PREFIXES = ("javascript:", "#", "mailto:", "tel:")

# Already-canonical URL: lowercase http(s) scheme, lowercase host with
# no userinfo/port (chars outside [a-z0-9.-] fall back to the full
# parser), optional path.  Such a URL is its own HttpUrl form except
# for the bare-authority trailing slash.  ~95% of real candidate URLs
# hit this, skipping the urlsplit/urlunsplit round-trip that dominated
# the tokenizer profile.  Anchored with \Z, not $: '$' also matches
# before a final '\n', which let "http://h.org\n" pass as canonical
# (and gain a '/' after the newline) while the full branch strips it.
_CANON_RE = re.compile(r"^https?://[a-z0-9](?:[a-z0-9.-]*[a-z0-9])?(/.*)?\Z")


def base_prefix(base_url: str) -> str | None:
    """`scheme://netloc` of the base, or None if not a valid http base.

    Precomputed once per document so root-relative hrefs resolve with
    one concat instead of a full RFC-3986 join (urljoin was ~40% of
    tokenizer CPU).
    """
    try:
        p = urlsplit(base_url)
    except ValueError:
        return None
    if p.scheme in ("http", "https") and p.netloc:
        return f"{p.scheme}://{p.netloc}"
    return None


def resolve(base_url: str, href: str) -> str:
    """RFC-3986 join of an href against the document base URL."""
    try:
        return urljoin(base_url, href)
    except ValueError:
        return href


def normalize(url: str) -> str | None:
    """HttpUrl-style canonical form, or None if the URL is invalid.

    Valid means: scheme is http/https and a non-empty host is present
    (reference validity: html_parser.py:177-191 + HttpUrl constraint
    of models.py:25).
    """
    m = _CANON_RE.match(url)
    if m:
        return url if m.group(1) is not None else url + "/"
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    if port is not None and port != _DEFAULT_PORTS[scheme]:
        netloc = f"{netloc}:{port}"
    path = parts.path or "/"
    out = f"{scheme}://{netloc}{path}"
    # keep a BARE '?' / '#' delimiter (empty query/fragment): that is
    # how WHATWG-style serializers (pydantic v2's HttpUrl via the rust
    # url crate) round-trip them, and what the _CANON_RE fast path
    # above already does — the two branches must agree (fuzz-pinned by
    # tests/test_robustness.py).  urlsplit cannot distinguish absent
    # from empty, so presence comes from the raw string: the fragment
    # delimiter is the first '#', the query delimiter any '?' before it.
    head = url.partition("#")[0]
    if parts.query:
        out += f"?{parts.query}"
    elif "?" in head:
        out += "?"
    if parts.fragment:
        out += f"#{parts.fragment}"
    elif "#" in url:
        out += "#"
    return out


# --- native Column-algebra canonicalization (corpus-scale URL dedup) ---
#
# The pure-Python helpers above run INSIDE the Arrow tokenizer kernel;
# canonical_url instead serves the post-extraction side — deduping URL
# tables at corpus scale — so it is whole-stage-codegen Column algebra
# over Spark's parse_url parts (no Python worker anywhere).

# query parameters that identify a click, not a resource — the standard
# crawl-dedup strip list
TRACKING_PARAM_ALTS = (
    "utm_[a-z]+", "gclid", "fbclid", "msclkid", "mc_eid", "igshid",
)


def canonical_url(url):
    """Canonical form of an http(s) URL as a native Column expression:
    scheme/host lowercased, userinfo dropped, default port stripped
    (non-default ports kept), empty path -> "/", fragment dropped,
    tracking params removed and the surviving query params sorted.

    Two URLs that differ only in click-tracking noise, param order,
    case of scheme/host, a default port, or a fragment canonicalize
    equal — feed the result to exact dedup / `dedup_first_wins`.
    Non-http(s) or unparsable input canonicalizes to NULL
    (drop-not-fail, the tokenizer's policy).

    The per-URL query array is tiny (a handful of params), so the
    filter/sort higher-order expressions stay off the hot-loop HOF
    concern documented for minhash (arrays of thousands).
    """
    from pyspark.sql import functions as F

    scheme = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    auth = F.coalesce(F.try_parse_url(url, F.lit("AUTHORITY")), F.lit(""))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    default_port = (
        F.when(scheme == "http", F.lit("80"))
        .when(scheme == "https", F.lit("443"))
        .otherwise(F.lit(""))
    )
    port_sfx = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    pattern = "(?i)^(" + "|".join(TRACKING_PARAM_ALTS) + ")="
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(pattern),
    )
    q = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme, F.lit("://"), host, port_sfx, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(
        scheme.isin("http", "https") & host.isNotNull() & (host != ""),
        rebuilt,
    )
