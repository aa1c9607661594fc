"""Crawl-as-rounds: BFS over the docs corpus as DataFrame batches.

The reference crawls one page at a time with an in-memory frontier
(src/core/service.py:142-229).  The engine re-expresses the loop as
bounded rounds where the *entire* frontier is extracted in one
vectorized pass:

- visited-set dedup      -> left_anti join frontier vs visited (D1/D2,
                            service.py:152-158, 200-202)
- navigation discovery   -> same-host anchors minus file downloads
                            (html_parser.py:193-213); the reference's
                            set() ordering is nondeterministic, the
                            engine imposes orderBy(url) (documented
                            divergence, SURVEY §7.3)
- priority ordering      -> module/lesson/course/chapter/part first,
                            stable (D4, service.py:182-198)
- max_pages bound        -> driver-side round budget (D5)
- result merge           -> one distributed agg over all crawled pages
                            (A7, models.py:201-240): counts sum,
                            spans concatenate in crawl order
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_content_extractor_spark.operators.metrics import kind_count
from web_content_extractor_spark.plans.pipeline import tokenize

# same-host nav exclusion list (html_parser.py:207-209)
_NAV_EXCLUDE_RE = r"\.(pdf|zip|tar\.gz|docx|xlsx|pptx)$"
# crawl priority keywords (service.py:188-193)
_PRIORITY_RE = r"(?i)(module|lesson|course|chapter|part)"


def _host_key(c):
    """Canonical host join key: lowercase + strip ALL leading ``www.``
    prefixes (real robots/frontier tables mix host case and www.
    forms).  Every host-keyed join in crawl-plan mode MUST use this
    same key — keying robots decisions on the normalized host but
    Crawl-delays on the raw host would let a table keyed 'www.Foo.com'
    apply its allow/deny rules to frontier host 'foo.com' while its
    Crawl-delay silently fell back to the default.  Stripping the
    prefix repeatedly makes the key IDEMPOTENT: politeness_schedule
    re-normalizes crawl_delays' already-normalized output, and with a
    single-strip key a host like 'www.www.foo.com' would normalize
    differently on each side of that join (rules apply, delay silently
    defaults — the exact seam this key exists to close)."""
    return F.regexp_replace(F.lower(c), r"^(www\.)+", "")


def navigation_links(tokenized: DataFrame) -> DataFrame:
    """(doc_id, nav_url): same-host anchor targets, downloads excluded."""
    cand = tokenized.select(
        "doc_id",
        # doc_id is the document's base URL (tokenizer convention)
        F.try_parse_url(F.col("doc_id"), F.lit("HOST")).alias("base_host"),
        F.posexplode(
            F.arrays_zip(
                F.col("cand_urls").alias("url"), F.col("cand_tags").alias("tag")
            )
        ).alias("pos", "c"),
    )
    return (
        cand.where(
            (F.col("c.tag") == "a")
            & (F.try_parse_url(F.col("c.url"), F.lit("HOST")) == F.col("base_host"))
            & ~F.col("c.url").rlike(_NAV_EXCLUDE_RE)
        )
        .select("doc_id", F.col("c.url").alias("nav_url"), "pos")
        .dropDuplicates(["doc_id", "nav_url"])
    )


def prioritize(frontier: DataFrame) -> DataFrame:
    """D4: keyword pages first, stable within groups (service.py:182-198)."""
    return frontier.orderBy(
        F.when(F.col("nav_url").rlike(_PRIORITY_RE), 0).otherwise(1),
        F.col("pos"),
        F.col("nav_url"),
    )


def crawl(
    spark: SparkSession,
    docs: DataFrame,
    start_url: str,
    max_pages: int = 5,
    cache_corpus: bool = False,
) -> DataFrame:
    """BFS crawl over the corpus; returns the merged ExtractionResult
    analog: one row (crawl root) with spans from every crawled page in
    crawl order, pdf -> youtube -> other within each page, plus counts.

    ``cache_corpus=True`` persists the docs frame for the duration of
    the rounds so each round's semi-join probes the cache instead of
    re-scanning the source — right when the corpus fits cluster memory
    (bench/small-site crawls).  At 10^12 docs leave it off and bucket
    the corpus by doc_id instead, so each round's broadcast semi-join
    prunes to the buckets of the frontier batch.
    """
    if cache_corpus:
        docs = docs.persist()
    visited: list[str] = []
    visited_set: set[str] = set()
    frontier: list[str] = [start_url]
    page_frames: list[DataFrame] = []

    while frontier and len(visited) < max_pages:
        budget = max_pages - len(visited)
        # dict.fromkeys: order-preserving driver-side dedup — create_map
        # below rejects duplicate keys (DUPLICATED_MAP_KEY)
        batch = list(dict.fromkeys(u for u in frontier if u not in visited_set))[
            :budget
        ]
        if not batch:
            break
        base_rank = len(visited)
        visited.extend(batch)
        visited_set.update(batch)
        # crawl order = visit order (BFS); dict lookup, not list.index
        rank_of = {u: base_rank + i for i, u in enumerate(batch)}
        batch_df = spark.createDataFrame([(u,) for u in batch], "doc_id string")
        # broadcast the (small) frontier batch into a semi join: never
        # shuffles the corpus side; coalesce so a small round doesn't
        # schedule empty tasks across every corpus partition (narrow,
        # no shuffle — a large frontier keeps full parallelism)
        pages = docs.join(F.broadcast(batch_df), "doc_id", "left_semi")
        n_parts = max(1, min(spark.sparkContext.defaultParallelism, len(batch)))
        pages = pages.coalesce(n_parts)
        tok = tokenize(pages)
        tok.persist()
        rank_map = F.create_map(
            *[F.lit(x) for u in batch for x in (u, rank_of[u])]
        )
        # eager localCheckpoint: the returned result is lazy, and tok is
        # unpersisted at end-of-round — without materializing here the
        # final merge would re-tokenize every round's pages
        page_frames.append(
            tok.select(
                "doc_id",
                rank_map[F.col("doc_id")].alias("crawl_rank"),
                "spans",
                "parse_failures",
                "proc_us",
            ).localCheckpoint(eager=True)
        )
        remaining = max_pages - len(visited)
        if remaining <= 0:
            # budget exhausted: skip nav discovery entirely — nothing
            # collected here could ever be visited
            tok.unpersist()
            frontier = []
            break
        nav = (
            navigation_links(tok)
            .join(
                F.broadcast(
                    spark.createDataFrame([(u,) for u in visited], "nav_url string")
                ),
                "nav_url",
                "left_anti",
            )
        )
        # navigation_links dedups per (doc_id, nav_url) only, so two
        # pages in one round linking to the same URL yield duplicate
        # nav_url rows; a duplicate in the batch would raise
        # DUPLICATED_MAP_KEY from create_map and burn limit() slots.
        # The priority keyword is a function of nav_url alone, so
        # groupBy(nav_url) + min(pos) before prioritize() is exactly
        # "first occurrence in priority order" with unique URLs.
        nav = nav.groupBy("nav_url").agg(F.min("pos").alias("pos"))
        # collect ONLY the remaining page budget: priority order makes
        # the prefix exactly the pages BFS visits next, so the driver
        # never materializes more URLs than it can crawl (the reference
        # bound, service.py:152; unbounded collect was the one real
        # scale-killer on a link-dense corpus)
        frontier = [r.nav_url for r in prioritize(nav).limit(remaining).collect()]
        tok.unpersist()

    if cache_corpus:
        # safe after the rounds: every page frame is an eager
        # localCheckpoint, so nothing downstream re-reads docs
        docs.unpersist()

    import uuid

    # merge metadata parity (models.py:201-240): fresh correlation id,
    # page_title cleared, user_agent marks the aggregated result
    corr_id = uuid.uuid4().hex[:12]
    user_agent = "WebExtractor/1.0 (Aggregated)"
    empty_result_schema = (
        "source_url string, total_links bigint, pdf_count bigint, "
        "youtube_count bigint, other_count bigint, processing_ms double, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "page_title string, user_agent string, correlation_id string"
    )
    # empty-crawl fallback result (service.py:211-221)
    fallback = spark.createDataFrame(
        [(start_url, 0, 0, 0, 0, 0.0, [], None, user_agent, corr_id)],
        empty_result_schema,
    )
    if not page_frames:
        return fallback

    all_pages = page_frames[0]
    for f in page_frames[1:]:
        all_pages = all_pages.unionByName(f)
    if all_pages.isEmpty():
        return fallback

    # A7 merge: associative counts + ordered span concatenation
    merged = all_pages.select(
        F.lit(start_url).alias("source_url"),
        "crawl_rank",
        "spans",
        "parse_failures",
        "proc_us",
    )
    return merged.groupBy("source_url").agg(
        F.sum(F.size("spans")).alias("total_links"),
        F.sum(kind_count("pdf")).alias("pdf_count"),
        F.sum(kind_count("youtube")).alias("youtube_count"),
        F.sum(kind_count("other")).alias("other_count"),
        (F.sum("proc_us") / 1000.0).alias("processing_ms"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("crawl_rank"), F.col("spans")))
                ),
                lambda x: x["spans"],
            )
        ).alias("spans"),
        F.lit(None).cast("string").alias("page_title"),
        F.lit(user_agent).alias("user_agent"),
        F.lit(corr_id).alias("correlation_id"),
    )


def blocklist_filter(
    links: DataFrame,
    blocklist: DataFrame,
) -> DataFrame:
    """Drop links whose ``url`` matches a (host, path_prefix) blocklist
    — the UT1-style domain/path exclusion every production crawl curation
    runs before extraction (spam/adult/malware host lists).

    A link is dropped when its www-stripped lowercase host equals a
    blocklist host AND its path starts with that entry's
    ``path_prefix`` (empty prefix blocks the whole host).  Unparseable
    URLs (no host) are kept — drop-not-fail, same policy as the
    tokenizer's candidate handling.

    Scale shape: blocklists are small (UT1 is ~4M rows ≈ tens of MB)
    — explicitly broadcast, so the filter is a broadcast LEFT ANTI
    hash join keyed on host with the prefix test as residual
    condition; the corpus never shuffles.
    """
    host = _host_key(F.try_parse_url(F.col("url"), F.lit("HOST")))
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
    tagged = links.withColumn("__host", host).withColumn("__path", path)
    b = blocklist.select(
        # same normalization as the link side: lists ship host rows
        # both with and without the www. prefix
        _host_key(F.col("host")).alias("__bhost"),
        F.col("path_prefix").alias("__bprefix"),
    )
    kept = tagged.join(
        F.broadcast(b),
        (tagged["__host"] == b["__bhost"])
        & tagged["__path"].startswith(b["__bprefix"]),
        "left_anti",
    )
    return kept.drop("__host", "__path")


def robots_rules(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """Parse (host, robots) robots.txt bodies into (host, path_prefix)
    disallow rules for ``user_agent`` — the other half of crawl
    curation next to the manual blocklist:
    `blocklist_filter(links, robots_rules(robots))`.

    Spec-shaped group semantics, computed entirely with native
    windows (no Python): consecutive ``User-agent:`` lines form ONE
    group; a ``Disallow:`` applies if ANY agent in its group matches.
    Agent matching follows the stdlib robotparser: the robots value's
    product token (before any ``/``) must be a case-insensitive
    substring of the crawler's ``user_agent``; per host, if any
    specific group matches, those groups apply, else the ``*`` groups
    are the fallback (``user_agent='*'`` selects the wildcard groups
    directly).
    Implementation: explode lines in order, mark agent lines, start a
    new group at each agent line that follows a non-agent line
    (lag + cumsum), attach each rule line to the latest group id
    (running max), and join the per-group "matches our agent" flag
    back.  Comments (#) and empty ``Disallow:`` (allow-all) drop.

    Scale shape: robots bodies are tiny and per-host independent —
    every window partitions by host, so the parse is one host-keyed
    shuffle of KB-sized groups; the rule table out is exactly what
    ``blocklist_filter`` broadcasts.
    """
    grouped, applies = _robots_groups(robots, user_agent)
    rules = grouped.where(
        (F.col("field") == "disallow") & (F.length("value") > 0)
    )
    return (
        rules.join(applies, ["host", "group_id"])
        .select("host", F.col("value").alias("path_prefix"))
        .distinct()
    )


def _robots_groups(
    robots: DataFrame, user_agent: str
) -> tuple[DataFrame, DataFrame]:
    """Shared robots.txt group machinery: parse (host, robots) bodies
    into tagged (host, group_id, field, value) lines plus the (host, group_id) set
    applicable to ``user_agent`` under the spec's group-tier rule
    (specific groups win, '*' groups are the fallback).  Used by
    :func:`robots_rules` (Disallow) and :func:`crawl_delays`
    (Crawl-delay)."""
    from pyspark.sql import Window

    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("robots"), r"\r?\n")).alias(
            "line_no", "line"
        ),
    ).select(
        "host",
        "line_no",
        F.trim(F.regexp_replace("line", r"#.*$", "")).alias("line"),
    )
    field = F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1))
    value = F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:\s*(.*)$", 1))
    tagged = lines.select(
        "host",
        "line_no",
        field.alias("field"),
        value.alias("value"),
    ).where(F.col("field") != "")

    w = Window.partitionBy("host").orderBy("line_no")
    is_agent = (F.col("field") == "user-agent").cast("int")
    grouped = tagged.withColumn("is_agent", is_agent).withColumn(
        "group_start",
        (
            (F.col("is_agent") == 1)
            & (F.coalesce(F.lag("is_agent").over(w), F.lit(0)) == 0)
        ).cast("int"),
    ).withColumn("group_id", F.sum("group_start").over(w))

    ua = user_agent.lower()
    token = F.substring_index(F.lower("value"), "/", 1)
    if ua == "*":
        spec = F.lit(False)
    else:
        spec = (token != "*") & (F.instr(F.lit(ua), token) > 0)
    groups = (
        grouped.where(F.col("is_agent") == 1)
        .groupBy("host", "group_id")
        .agg(
            F.max(spec.cast("int")).alias("spec_match"),
            F.max((F.lower("value") == "*").cast("int")).alias(
                "star_match"
            ),
        )
    )
    # per-host tier: specific groups win; '*' groups are the fallback
    host_tier = groups.groupBy("host").agg(
        F.max("spec_match").alias("any_spec")
    )
    applies = (
        groups.join(host_tier, "host")
        .where(
            ((F.col("any_spec") == 1) & (F.col("spec_match") == 1))
            | ((F.col("any_spec") == 0) & (F.col("star_match") == 1))
        )
        .select("host", "group_id")
    )
    return grouped, applies


def robots_decisions(
    robots: DataFrame,
    urls: DataFrame,
    user_agent: str = "*",
) -> DataFrame:
    """Full REP allow/disallow decisions with longest-match-wins:
    the semantics :func:`robots_rules` (Disallow-only prefix list)
    cannot express — an ``Allow:`` rule re-opens a sub-path inside a
    disallowed prefix, and among all matching rules the MOST SPECIFIC
    (longest pattern) decides, allow winning length ties (Google REP,
    draft-koster-rep / RFC 9309 evaluation order).  Patterns support
    the full REP wildcards: ``*`` matches any character run and a
    TRAILING ``$`` anchors the match at the end of the target ('$'
    anywhere else is literal); specificity is the raw pattern's OCTET
    length (UTF-8 bytes, the RFC's "most octets" rule).  Rules match
    against the URL's path PLUS the query string (``/p?q=…``) — the
    dominant real use of wildcards is query-targeting rules like
    ``Disallow: /*?sessionid=`` — per RFC 9309 / Google's matcher.  A
    URL matching no rule is allowed.  An empty URL path evaluates as
    "/" (the REP rule that makes ``Disallow: /`` block the site
    root).  Input precondition: URLs are expected urlnorm-normalized
    (the frontier/corpus contract) — a URL try_parse_url cannot parse
    (e.g. a malformed %-escape) has no extractable path and evaluates
    against "/" too, which can differ from a matcher that treats the
    raw bytes as the path (seeded-fuzz-verified: zero divergence on
    parseable inputs, divergence only on invalid escapes).  Hosts
    join case-insensitively with the ``www.`` prefix
    stripped on both sides, same normalization as
    ``blocklist_filter`` — rule tables carrying BOTH host forms
    collapse to one rule array per normalized host (union of rules),
    never duplicate decision rows.

    Returns ``urls``' columns (``host`` and ``url`` required) +
    (allowed boolean, matched_prefix —
    the raw winning pattern, null when no rule matched).

    Scale shape: applicable allow/disallow rules collapse to ONE tiny
    array per host (robots bodies are KB-sized) with their regex
    translations precomputed ONCE per rule on that tiny table; the
    rule-array join is NOT broadcast-hinted — the table is
    host-cardinality (~10^8 hosts at the documented scale), so AQE
    size-decides: BHJ when it fits (the URL corpus never shuffles),
    a host-keyed shuffle join when it doesn't (the corpus shuffles
    once on the host key instead of OOMing the driver).  The
    longest-match evaluation is per-row array algebra over a handful
    of rules either way.  Literal rules (no
    wildcard — the common case) evaluate via codegen
    startswith/equality; only wildcard rules pay the non-foldable
    regexp (recompiled per (row, rule) pair — acceptable as the
    minority path, ruinous as the only one at 10^12 URLs).
    """
    grouped, applies = _robots_groups(robots, user_agent)
    # translate each REP pattern ONCE, on the tiny rule table: strip a
    # trailing '$' (the only anchoring position), and build a Java
    # regex (metachars escaped EXCEPT '*', then '*' -> '.*') ONLY for
    # patterns that actually contain a wildcard.  Literal patterns —
    # the overwhelming majority in real robots files — keep their raw
    # body and match via codegen startswith/equality at evaluation
    # time: Spark recompiles a non-foldable regexp per (row, rule)
    # pair, so routing literals around the regex path is what keeps
    # this evaluable over a 10^12-row URL table.
    anchored = F.col("value").endswith("$")
    body = F.when(
        anchored, F.expr("substring(value, 1, length(value) - 1)")
    ).otherwise(F.col("value"))
    has_wild = F.col("value").contains("*")
    esc = F.regexp_replace(body, r"([.\[\]{}()+?^$\\|])", r"\\$1")
    rx = F.when(
        has_wild,
        F.concat(
            F.lit("^"),
            F.regexp_replace(esc, r"\*", ".*"),
            F.when(anchored, F.lit("$")).otherwise(F.lit("")),
        ),
    )
    # literal kinds: 0 = prefix (startswith), 1 = exact (anchored
    # equality); 2 = wildcard (regex)
    kind = (
        F.when(has_wild, F.lit(2))
        .when(anchored, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )
    # normalize the rule-table host BEFORE grouping (module-wide
    # _host_key): grouping on the raw host would emit one rule-array
    # row per host FORM under the same join key, fanning every URL row
    # out into duplicate (and possibly contradictory) decisions
    _hkey = _host_key

    rules = (
        grouped.where(
            F.col("field").isin("allow", "disallow")
            & (F.length("value") > 0)
        )
        .join(applies, ["host", "group_id"])
        .select(
            _hkey(F.col("host")).alias("__hkey"),
            F.col("value").alias("prefix"),
            body.alias("body"),
            rx.alias("rx"),
            kind.alias("kind"),
            (F.col("field") == "allow").alias("is_allow"),
        )
        .distinct()
        .groupBy("__hkey")
        .agg(
            F.collect_list(
                F.struct("prefix", "body", "rx", "kind", "is_allow")
            ).alias("__rules")
        )
    )
    # REP matches against the path PLUS the query string ('?q=…') —
    # the dominant real use of wildcards is query-targeting rules like
    # 'Disallow: /*?sessionid=' — and evaluates an empty path as "/"
    # (without this even "Disallow: /" would fail to block the root)
    raw_path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    query = F.coalesce(F.try_parse_url(F.col("url"), F.lit("QUERY")), F.lit(""))
    target = F.when(query == "", path).otherwise(
        F.concat(path, F.lit("?"), query)
    )
    matched = F.filter(
        F.col("__rules"),
        lambda r: (
            F.when(r["kind"] == 0, F.col("__path").startswith(r["body"]))
            .when(r["kind"] == 1, F.col("__path") == r["body"])
            .otherwise(F.regexp_like(F.col("__path"), r["rx"]))
        ),
    )
    # most specific pattern decides (raw pattern OCTET length, the
    # RFC's "most octets" rule — multi-byte UTF-8 patterns count per
    # byte); allow wins a length tie -> lexicographic max
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                F.octet_length(r["prefix"]).alias("len"),
                r["is_allow"].alias("is_allow"),
                r["prefix"].alias("prefix"),
            ),
        )
    )

    # no forced broadcast: the rule table is host-cardinality (~10^8
    # at the documented scale, far past any broadcast budget) — let
    # AQE size-decide, exactly as domain_curate does.  At bench scale
    # it picks BHJ at runtime; at 10^8 hosts it degrades to a shuffle
    # join instead of OOMing the driver
    joined = urls.withColumn("__ukey", _hkey(F.col("host"))).join(
        rules,
        F.col("__ukey") == rules["__hkey"],
        "left",
    ).drop("__hkey", "__ukey")
    return (
        joined.withColumn("__path", target)
        .withColumn("__best", best)
        .withColumn(
            "allowed",
            F.coalesce(F.col("__best.is_allow"), F.lit(True)),
        )
        .withColumn("matched_prefix", F.col("__best.prefix"))
        .drop("__rules", "__path", "__best")
    )


def crawl_delays(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """Per-host ``Crawl-delay`` (seconds, double) of (host, robots)
    bodies for ``user_agent``,
    using the same applicable-group semantics as :func:`robots_rules`.
    Hosts whose applicable groups carry no parsable Crawl-delay emit
    no row (callers coalesce to their default); multiple applicable
    values collapse to the max — the conservative schedule, the one
    that violates no stated delay.  The output ``host`` is the
    canonical :func:`_host_key` form (lower + www-strip), the SAME key
    :func:`robots_decisions` joins on — so a robots table keyed
    'www.Foo.com' governs frontier host 'foo.com' consistently for
    both its rules and its delay."""
    grouped, applies = _robots_groups(robots, user_agent)
    delays = grouped.where(F.col("field") == "crawl-delay").select(
        "host",
        "group_id",
        # try_cast: malformed delays drop, not fail (ANSI-safe)
        F.col("value").try_cast("double").alias("delay_s"),
    )
    return (
        delays.join(applies, ["host", "group_id"])
        # drop unusable values, not just unparsable ones: try_cast
        # turns 'NaN'/'Infinity' into real doubles (NaN would win the
        # max and poison the host's schedule) and negative delays
        # would schedule fetches in the past
        .where(
            F.col("delay_s").isNotNull()
            & ~F.isnan("delay_s")
            & (F.col("delay_s") >= 0)
            & (F.col("delay_s") < F.lit(float("inf")))
        )
        .groupBy(_host_key(F.col("host")).alias("host"))
        .agg(F.max("delay_s").alias("delay_s"))
    )


def politeness_schedule(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    default_delay_s: float = 1.0,
    priority_col: str | None = None,
    delays_canonical: bool = False,
) -> DataFrame:
    """Politeness-aware fetch scheduling: assign every frontier URL a
    per-host slot and a relative fetch time that honors the host's
    crawl delay — the piece that turns a prioritized frontier into a
    dispatchable plan without hammering any single origin.

    ``delays_canonical=True`` asserts the delay table is already keyed
    by the canonical :func:`_host_key` form with one row per host —
    true for :func:`crawl_delays` output — and skips the defensive
    re-aggregation (one whole exchange on a host-cardinality table at
    10^8 hosts).  Leave False for user-supplied tables that may mix
    host forms ('www.Foo.com' + 'foo.com').

    Per host, URLs are ordered by ``priority_col`` descending (when
    given; ties and the no-priority case fall back to ``url``
    ascending, so the schedule is deterministic), numbered into slots
    0,1,2,..., and scheduled at ``slot * delay_s`` seconds where
    ``delay_s`` comes from ``delays`` (e.g. :func:`crawl_delays`)
    with ``default_delay_s`` as the fallback.  Callers add their epoch
    to ``fetch_at_s``.

    Returns (host, url, slot, delay_s, fetch_at_s).

    Scale shape: ONE host-keyed window shuffle for the slot numbering
    (the same key the fetcher partitions by, so the shuffle is reused
    downstream); the delay table is host-cardinality, so its join is
    NOT broadcast-hinted — AQE size-decides (BHJ at bench scale, a
    shuffle join at 10^8 hosts).  Delays join on the canonical
    :func:`_host_key` form, matching robots_decisions/crawl_delays.
    A pathological single-host frontier serializes inside one
    partition by design — that host's schedule IS sequential.
    """
    from pyspark.sql import Window

    order = (
        [F.col(priority_col).desc(), F.col("url").asc()]
        if priority_col
        else [F.col("url").asc()]
    )
    w = Window.partitionBy("host").orderBy(*order)
    # the delays table + default are authoritative: a pre-existing
    # delay_s on the frontier (e.g. re-scheduling this function's own
    # output) would make the coalesce ambiguous — drop it
    out = frontier.drop("delay_s").withColumn(
        "slot", F.row_number().over(w) - 1
    )
    if delays is not None:
        # join on the canonical host key; a user-supplied table mixing
        # host FORMS ('www.Foo.com' + 'foo.com') collapses to one row
        # per key via max (crawl_delays' own conservative rule) so the
        # left join can never fan frontier rows out
        d = (
            delays.select(
                F.col("host").alias("__dkey"), F.col("delay_s")
            )
            if delays_canonical
            else delays.groupBy(
                _host_key(F.col("host")).alias("__dkey")
            ).agg(F.max("delay_s").alias("delay_s"))
        )
        out = (
            out.withColumn("__dkey", _host_key(F.col("host")))
            .join(d, "__dkey", "left")
            .drop("__dkey")
        )
    else:
        out = out.withColumn("delay_s", F.lit(None).cast("double"))
    delay = F.coalesce(F.col("delay_s"), F.lit(float(default_delay_s)))
    return out.select(
        "host",
        "url",
        F.col("slot").cast("int").alias("slot"),
        delay.alias("delay_s"),
        F.round(F.col("slot") * delay, 6).alias("fetch_at_s"),
    )


def sitemap_urls(sitemaps: DataFrame) -> DataFrame:
    """Extract the URL inventory from (host, sitemap) sitemap.xml bodies
    — the crawl SEED source next to robots_rules' exclusion rules: a
    production crawl starts from sitemap <loc> entries, filters them
    through robots/blocklist, and feeds the remainder to the frontier
    (sources/urls.py url_batch shape).

    Handles both plain urlsets and sitemapindex files by taking every
    ``<loc>`` element (an index's locs are child sitemap URLs — the
    caller fetches and re-parses those; ``is_index`` flags them).
    Real-sitemap XML handling without a Python parser: XML comments
    are stripped FIRST (a commented-out ``<loc>`` is not an entry and
    a ``<sitemapindex`` inside a comment is not an index).  A
    ``<![CDATA[…]]>`` wrapper is unwrapped and its content kept
    VERBATIM (CDATA is unparsed character data — ``&amp;`` inside it
    is a literal ``&amp;``, matching the xml.etree differential
    reference); only NON-CDATA locs get the five named XML entities
    decoded — the sitemap spec REQUIRES entity-escaped URLs there, so
    ``&amp;`` in a plain loc is a literal ``&`` in the URL (``&amp;``
    decodes LAST so ``&amp;lt;`` correctly yields ``&lt;``; numeric
    character references are out of the documented subset).  Pure
    codegen: regexp_replace chains + one regexp_extract_all + explode
    per body, no Python, no shuffle beyond the input's own layout.
    """
    stripped = F.regexp_replace(F.col("sitemap"), r"(?s)<!--.*?-->", "")
    locs = F.regexp_extract_all(
        stripped, F.lit(r"<loc>\s*(.*?)\s*</loc>"), F.lit(1)
    )

    def _clean(u):
        decoded = u
        for ent, ch in (
            ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&apos;", "'"),
            ("&amp;", "&"),  # last: &amp;lt; must yield &lt;
        ):
            decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
        # wrapper strips are PAIRED (a plain URL ending in ']]' must
        # not be truncated) and CDATA content skips entity decoding
        cdata = F.regexp_replace(
            u, r"(?s)^<!\[CDATA\[\s*(.*?)\s*(?:\]\]>?)?$", "$1"
        )
        return F.when(u.startswith("<![CDATA["), cdata).otherwise(decoded)

    return sitemaps.select(
        "host",
        F.explode(F.transform(locs, _clean)).alias("url"),
        stripped.rlike("<sitemapindex").alias("is_index"),
    ).where(F.length("url") > 0).distinct()
