#!/usr/bin/env python
"""Physical-plan audit: capture and check the plans that matter.

Writes PLANS.md with the `explain("formatted")` output of the engine's
headline plans plus automated assertions:

- extraction pipeline: shuffle-free (no Exchange), one MapInArrow
  Python stage, span ordering inside it (no sort_array/transform)
- join_agg: BroadcastHashJoin on the dim tables, no BNLJ
- agg_counts: partial aggregation (HashAggregate x2) + pushed scan
- filter pushdown: PushedFilters reaches the parquet scan
- whole-stage codegen present on the native stages

Run: python scripts/explain_audit.py   (writes PLANS.md, exits 1 on
any failed assertion)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as contract  # noqa: E402
from web_content_extractor_spark.plans.pipeline import extract  # noqa: E402
from web_content_extractor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _final_tree(plan: str) -> str:
    """The Final-Plan tree section of a post-execution AQE explain."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1]
    return plan.split("== Initial Plan ==")[0]


_PYTHON_NODE = re.compile(
    r"\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython)\b"
)


def python_nodes(plan: str) -> int:
    """Python stages in a formatted plan: the detail entries "(n) Kind"
    of every node kind that runs Python code."""
    return len(_PYTHON_NODE.findall(plan))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    spark = get_spark("explain-audit", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []
    sections: list[tuple[str, str, list[str]]] = []

    def audit(name: str, df, checks: list[tuple[str, bool]]) -> None:
        plan = formatted(df)
        notes = []
        for desc, ok in checks:
            notes.append(f"- {'PASS' if ok else 'FAIL'}: {desc}")
            if not ok:
                failures.append(f"{name}: {desc}")
        sections.append((name, plan, notes))

    # 1. extraction pipeline — must be shuffle-free and column-pruned
    docs = contract._synth_docs(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    ex = extract(docs)
    p = formatted(ex)
    audit(
        "extract (docs -> nested spans)",
        ex,
        [
            ("shuffle-free (no Exchange in plan)", "Exchange" not in p),
            ("single Python stage, and it is one MapInArrow node",
             python_nodes(p) == 1 and "MapInArrow" in p),
            ("span ordering is in the kernel (no sort_array/transform)",
             "sort_array" not in p and "transform(" not in p),
        ],
    )

    # 1b. byte-balanced extraction — exactly ONE range exchange
    # (weighted boundaries -> interleave classes), the bucket kernel is
    # an Arrow stage (numpy searchsorted, never an interpreted HOF
    # filter over the boundary array), tokenizer still one MapInArrow
    exb = extract(docs, balance="bytes", partitions=32)
    p = formatted(exb)
    audit(
        "extract balance='bytes' (byte-weighted rebalance)",
        exb,
        [
            # formatted mode puts the node name and its Arguments on
            # separate lines — match the partitioning markers, never
            # "Exchange rangepartitioning" composites
            # hash, not range: the class -> partition hop rides a
            # precomputed perfect-hash routing key, so there is no
            # RangePartitioner boundary-sampling job and no
            # rdd.id-seeded placement nondeterminism
            ("exactly one exchange, and it is a hash partitioning "
             "on the routing key",
             len(re.findall(r"\(\d+\) Exchange", p)) == 1
             and "hashpartitioning(__route" in p
             and "rangepartitioning(" not in p),
            # negative match is the SPECIFIC size(filter(...)) shape
            # the old implementation compiled to — a plan-wide bare
            # 'filter(' match would trip on any unrelated HOF filter a
            # future extraction change legitimately adds
            ("bucket assignment is an Arrow kernel, not an interpreted"
             " HOF boundary scan",
             "ArrowEvalPython" in p and "size(filter(" not in p.lower()),
            ("two Python stages: the bucket kernel and the tokenizer's "
             "one MapInArrow",
             python_nodes(p) == 2
             and len(re.findall(r"\(\d+\) MapInArrow", p)) == 1),
        ],
    )

    # 2. filter + projection pushdown into the parquet scan
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .where(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    p = formatted(li)
    audit(
        "pushdown probe (filter + 2-column projection on lineitem)",
        li,
        [
            ("filter pushed to scan (PushedFilters non-empty)",
             "PushedFilters: [IsNotNull(l_shipdate)" in p
             or "LessThanOrEqual(l_shipdate" in p),
            ("column-pruned scan (ReadSchema has only needed cols)",
             "l_extendedprice" not in p.split("ReadSchema")[-1]),
        ],
    )

    # 3. star join — dims must broadcast
    jq = contract.q_join_agg(spark, SF_DIR)
    p = formatted(jq)
    audit(
        "join_agg (revenue per nation star join)",
        jq,
        [
            ("BroadcastHashJoin used for dim joins",
             "BroadcastHashJoin" in p),
            ("no cartesian/BNL join", "BroadcastNestedLoopJoin" not in p
             and "CartesianProduct" not in p),
            ("partial aggregation before shuffle (2 HashAggregate levels)",
             p.count("HashAggregate") >= 2),
        ],
    )

    # 4. Q1-style agg — partial agg + codegen (direct scan: production
    # shape, without the testdata fan-out repartition of _read)
    q1 = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )
    q1.collect()  # run so AQE finalizes and codegen ids materialize
    p = formatted(q1)
    audit(
        "agg_counts (TPC-H Q1 shape)",
        q1,
        [
            ("partial aggregation before the shuffle (HashAggregate x2)",
             _final_tree(p).count("HashAggregate") == 2),
            ("whole-stage codegen present (final AQE plan)",
             "codegen id" in p),
            ("exactly one shuffle (the groupBy exchange)",
             _final_tree(p).count("Exchange") == 1),
        ],
    )

    # 5. anti join — shuffled hash / broadcast, not BNLJ
    aj = contract.q_anti_join(spark, SF_DIR)
    p = formatted(aj)
    audit(
        "anti_join (customers without orders)",
        aj,
        [
            ("hash-based anti join (no nested loop)",
             "BroadcastNestedLoopJoin" not in p),
            ("column-pruned orders scan (only o_custkey read)",
             "o_totalprice" not in p),
        ],
    )

    # 6. link_distribution — denominator via window, ONE scan of orders
    ld = contract.q_link_distribution(spark, SF_DIR)
    p = formatted(ld)
    audit(
        "link_distribution (pct-of-total, single scan)",
        ld,
        [
            ("orders scanned exactly once (no eager count() job)",
             p.count("Scan parquet") == 2),  # formatted renders tree + detail
            ("denominator via unpartitioned window over the agg output",
             "Window" in p),
        ],
    )

    # 7. url_batch work-list restriction — broadcast semi join, corpus
    # side never shuffled
    from web_content_extractor_spark.sources.urls import url_batch

    wl = spark.createDataFrame([("u1",), ("u2",)], "doc_id string")
    ub = url_batch(docs, wl)
    p = formatted(ub)
    audit(
        "url_batch (work-list broadcast semi-join)",
        ub,
        [
            ("broadcast semi join (corpus side not shuffled)",
             "BroadcastHashJoin" in p and "LeftSemi" in p),
            ("no shuffle of the corpus (only the broadcast exchange)",
             "Exchange hashpartitioning" not in p),
        ],
    )

    # 8. decontam — snippet side broadcast (BNLJ on a contains
    # predicate), corpus scanned once; only the tiny hit set shuffles
    dc = contract.q_decontam(spark, SF_DIR)
    p = formatted(dc)
    audit(
        "decontam (broadcast contains-join)",
        dc,
        [
            ("snippet side broadcast (BroadcastNestedLoopJoin)",
             "BroadcastNestedLoopJoin" in p),
            ("corpus side not hash-shuffled before the join "
             "(the only hashpartitioning exchange is the post-join distinct)",
             p.count("Exchange hashpartitioning") <= 2),  # tree + detail
        ],
    )

    # 9. tfidf_topk — vocabulary-sized df table broadcast back onto tf
    # (the big tf side reshuffles only for the per-doc window)
    tk = contract.q_tfidf_topk(spark, SF_DIR)
    p = formatted(tk)
    audit(
        "tfidf_topk (broadcast df join + window top-k)",
        tk,
        [
            ("df and N joined via broadcast (no shuffle of tf for the join)",
             p.count("BroadcastHashJoin") >= 2
             and "BroadcastNestedLoopJoin" in p),
            ("per-doc top-k via row_number window", "Window" in p),
        ],
    )

    # 10. asof_join — union + window formulation: no join explosion,
    # one hash shuffle on the key for the window (plus the right-side
    # tie-dedup agg), zero join operators in the plan
    aj = contract.q_asof_join(spark, SF_DIR)
    p = formatted(aj)
    audit(
        "asof_join (union + single-shuffle window)",
        aj,
        [
            ("no join operator at all (union + window carries the match)",
             "Join" not in p),
            ("match carried by a window over the key-shuffled union",
             "Window" in p and "hashpartitioning(user_id" in p),
        ],
    )

    # 11. resample_counts — dense spine joined without reshuffling the
    # raw events: counts agg is the only event-sized shuffle
    rs = contract.q_resample_counts(spark, SF_DIR)
    p = formatted(rs)
    audit(
        "resample_counts (gap-fill spine join)",
        rs,
        [
            ("analytic spine (sequence/explode Generate node present)",
             "Generate" in p),
            ("gap-fill via broadcast join (no sort-merge of the spine)",
             "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ],
    )

    # 12. curation_manifest — contaminated set broadcast onto the
    # quality/dup legs; no BNLJ anywhere but the snippet contains-join
    cm = contract.q_curation_manifest(spark, SF_DIR)
    p = formatted(cm)
    audit(
        "curation_manifest (composed curation legs)",
        cm,
        [
            ("contaminated set joined via broadcast",
             "BroadcastHashJoin" in p),
            ("exactly one BNLJ (the snippet contains-join)",
             p.count("BroadcastNestedLoopJoin Inner") <= 2),  # tree+detail
        ],
    )

    # chunking — pure Column algebra on a direct scan must stay narrow
    from web_content_extractor_spark.operators.lines import chunk_documents

    ch = chunk_documents(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        chunk_size=32,
        overlap=8,
    )
    p = formatted(ch)
    audit(
        "chunk_docs (token-budget windowing, direct scan)",
        ch,
        [
            ("shuffle-free (no Exchange in plan)", "Exchange" not in p),
            ("no Python stage (native sequence/explode/slice)",
             python_nodes(p) == 0),
            ("column-pruned scan (text+doc_id only)",
             "lang" not in p.split("ReadSchema")[-1]),
        ],
    )

    # line dedup — one df shuffle + reassembly agg; no cartesian blowup.
    # Audit the driver query (multi-line synthesis with real shared
    # banner/footer lines): raw sf docs are single-line unique texts, so
    # the boilerplate set is empty and AQE's empty-relation propagation
    # elides the join — correct, but not the path worth asserting.
    ld = contract.q_line_dedup(spark, SF_DIR)
    ld.collect()  # AQE finalizes: boilerplate join side resolves small
    p = formatted(ld)
    audit(
        "line_dedup (boilerplate-line removal)",
        ld,
        [
            ("no cartesian/BNL join", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            ("partial aggregation on the line-key df agg",
             _final_tree(p).count("HashAggregate") >= 2),
            ("boilerplate set broadcast at runtime (AQE BHJ)",
             "BroadcastHashJoin" in _final_tree(p)),
        ],
    )

    # mixture sampling — broadcast rates, zero corpus shuffle
    ms = contract.q_mixture_sample(spark, SF_DIR)
    p = formatted(ms)
    audit(
        "mixture_sample (broadcast-rates Bernoulli filter)",
        ms,
        [
            ("rates joined via broadcast (BroadcastHashJoin)",
             "BroadcastHashJoin" in p),
            # the only key shuffle is the tiny rates-side distinct;
            # the corpus side reaches the join with no hash Exchange
            ("no corpus-side key shuffle (only the rates distinct)",
             p.count("hashpartitioning(") == 1
             and "hashpartitioning(source" in p),
            ("no Python stage (portable hash is Column algebra)",
             python_nodes(p) == 0),
        ],
    )

    # shard shuffle — exactly the one shard-key Exchange, nothing else
    sc_ = contract.q_shard_corpus(spark, SF_DIR)
    p = formatted(sc_)
    audit(
        "shard_corpus (deterministic training shuffle)",
        sc_,
        [
            # the read helper's round-robin rebalance aside, the only
            # key shuffle is the shard-keyed window sort
            ("exactly one key shuffle (hashpartitioning on shard)",
             p.count("hashpartitioning(") == 1
             and "hashpartitioning(shard" in p),
            ("no Python stage", python_nodes(p) == 0),
            ("column-pruned scan (doc_id only)",
             "text" not in p.split("ReadSchema")[-1]),
        ],
    )

    # duplicate-substring coverage — exactly the two designed key
    # shuffles: gram_key (window count) and doc_id (islands + stats)
    ds = contract.q_dup_substring_stats(spark, SF_DIR)
    p = formatted(ds)
    audit(
        "dup_substring_stats (exact substring-dup coverage)",
        ds,
        [
            ("key shuffles are exactly {gram_key, doc_id}",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             == {"gram_key", "doc_id"}),
            ("no Python stage (gram algebra is native)",
             python_nodes(p) == 0),
            ("column-pruned scan (doc_id + text only)",
             "struct<doc_id:bigint,text:string>"
             in p.split("ReadSchema")[-1]
             or "struct<doc_id:bigint,text:string>" in p),
            ("no cartesian/BNL join", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
    )

    # duplicate-substring REMOVAL — the detector's two key shuffles,
    # the cut itself pure Column algebra, span arrays broadcast back
    dr = contract.q_dup_remove(spark, SF_DIR)
    p = formatted(dr)
    audit(
        "dup_remove (duplicate-substring removal transform)",
        dr,
        [
            ("key shuffles are exactly {gram_key, doc_id}",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             == {"gram_key", "doc_id"}),
            ("no Python stage (span cut is native Column algebra)",
             python_nodes(p) == 0),
            ("per-doc span arrays join back via broadcast",
             "BroadcastHashJoin" in p),
            ("no cartesian/BNL join", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
    )

    # URL canonicalization — pure codegen Column algebra: no shuffle,
    # no Python, single scan
    cu = contract.q_canonical_urls(spark, SF_DIR)
    p = formatted(cu)
    audit(
        "canonical_urls (codegen URL canonicalization)",
        cu,
        [
            ("no key shuffle (per-row rewrite)",
             "hashpartitioning(" not in p),
            ("no Python stage", python_nodes(p) == 0),
            ("column-pruned scan (doc_id only)",
             "struct<doc_id:bigint>" in p),
        ],
    )

    # REP decisions — rule arrays broadcast; URL side never shuffles
    rd = contract.q_robots_decisions(spark, SF_DIR)
    p = formatted(rd)
    audit(
        "robots_decisions (REP longest-match evaluation)",
        rd,
        [
            ("rule-array join is size-decided, never forced: BHJ when "
             "the host table fits, else a host-keyed shuffle join "
             "(host-cardinality ~10^8 at scale; no forced broadcast)",
             "BroadcastHashJoin" in p
             or ("SortMergeJoin" in p
                 and set(re.findall(r"hashpartitioning\((\w+)", p))
                 <= {"__ukey", "__hkey", "host", "hid"})),
            ("URL side never shuffles on a row key (every exchange "
             "keys on the host join key, never doc_id/url)",
             not set(re.findall(r"hashpartitioning\((\w+)", p))
             & {"doc_id", "url"}),
            ("no Python stage (parse + evaluation are native)",
             python_nodes(p) == 0),
            ("no cartesian/BNL join", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            # wildcard-REP cost guard: literal rules (the overwhelming
            # majority in real robots files) MUST keep the codegen
            # startswith/equality path — a future edit that routes
            # every rule through the non-foldable regexp (recompiled
            # per row x rule) would be ruinous at 10^12 URLs
            # NB: match the wildcard-specific regexp_like/RLIKE marker,
            # not the generic 'regexp' substring — regexp_replace from
            # the _host_key normalization appears in EVERY plan, which
            # would make the wildcard half of this guard vacuous
            ("literal rules evaluate via codegen startswith (fast "
             "path survives edits) AND the regexp_like wildcard "
             "branch is still present (kind=2 rules keep working)",
             "startswith" in p.lower()
             and ("regexp_like" in p.lower() or "rlike" in p.lower())),
        ],
    )

    # domain curation — one domain-keyed shuffle for the stats rollup,
    # partial (map-side) aggregation, tiny verdict table broadcast back
    dc = contract.q_domain_curation(spark, SF_DIR)
    p = formatted(dc)
    audit(
        "domain_curation (domain-level quality rollup + verdict)",
        dc,
        [
            ("partial aggregation before the exchange (map-side "
             "combine: count/sum partials)", "partial_count" in p
             or "partial_avg" in p),
            ("the only key shuffle is the domain rollup",
             set(re.findall(r"hashpartitioning\((\w+)", p)) <= {"domain"}),
            ("stats table broadcast back onto the corpus (never a "
             "corpus-sized broadcast)", "BroadcastHashJoin" in p),
            ("no Python stage (quality score + verdict are native)",
             python_nodes(p) == 0),
        ],
    )

    # interleaved packing — the only key shuffle is the shard window;
    # the kind-aware cost model is pure Column algebra
    pi = contract.q_pack_interleaved(spark, SF_DIR)
    p = formatted(pi)
    audit(
        "pack_interleaved (multimodal span packing)",
        pi,
        [
            ("only key shuffle is the shard window",
             set(re.findall(r"hashpartitioning\((\w+)", p)) == {"shard"}),
            ("no Python stage (cost model is Column algebra)",
             python_nodes(p) == 0),
            ("no cartesian/BNL join", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
    )

    # politeness scheduler — host-keyed slot window, broadcast delays
    cs = contract.q_crawl_schedule(spark, SF_DIR)
    p = formatted(cs)
    audit(
        "crawl_schedule (Crawl-delay parse + per-host slot scheduler)",
        cs,
        [
            ("all key shuffles are host-keyed (slot window + robots"
             " group windows + canonical delay key; _groupingexpression"
             " is Catalyst's alias for the computed _host_key(host)"
             " grouping)",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             <= {"host", "hid", "__dkey", "_groupingexpression"}),
            ("delay-table join is size-decided, never forced (BHJ at "
             "bench scale or a __dkey shuffle join at 10^8 hosts)",
             "BroadcastHashJoin" in p
             or ("SortMergeJoin" in p and "__dkey" in p)),
            ("no Python stage (parse + schedule are native windows)",
             python_nodes(p) == 0),
            ("no cartesian/BNL join", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
    )

    # Hamming band join — equi-join candidates, codegen popcount,
    # fingerprints (not text) on the banding shuffle
    hn = contract.q_hamming_neardup(spark, SF_DIR)
    p = formatted(hn)
    audit(
        "hamming_neardup (Manku pigeonhole band join)",
        hn,
        [
            ("banding is an equi-join (no cartesian/BNL)",
             "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            ("popcount filter is native (no Python stage)",
             python_nodes(p) == 0),
            ("no shuffle carries document text",
             not any(
                 "text" in m
                 for m in re.findall(r"hashpartitioning\(([^)]*)\)", p)
             )),
            ("column-pruned scan (doc_id + text only)",
             "struct<doc_id:bigint,text:string>" in p),
        ],
    )

    # SemDeDup — the pairwise work shuffles ONCE, on cid
    sd = contract.q_semantic_dedup(spark, SF_DIR)
    p = formatted(sd)
    audit(
        "semantic_dedup (SemDeDup cluster pruning)",
        sd,
        [
            ("only key shuffle is the cid grouping",
             set(re.findall(r"hashpartitioning\((\w+)", p)) == {"cid"}),
            ("per-cluster prune is one grouped Arrow stage",
             "FlatMapGroupsInPandas" in p),
            ("no all-pairs join anywhere", "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p
             and "SortMergeJoin" not in p),
        ],
    )

    # audio decode — single map-only Arrow stage, no key shuffle
    af = contract.q_audio_features(spark, SF_DIR)
    p = formatted(af)
    audit(
        "audio_features (WAV decode + signal features)",
        af,
        [
            ("no key shuffle (map-only decode)",
             "hashpartitioning(" not in p),
            ("one Arrow decode stage",
             python_nodes(_final_tree(p)) == 1
             and "MapInPandas" in _final_tree(p)),
            ("column-pruned scan (doc_id + text only)",
             "struct<doc_id:bigint,text:string>" in p),
        ],
    )

    # anchor-text index — pair shuffle fans hot targets, final join BHJ
    ai = contract.q_anchor_index(spark, SF_DIR)
    p = formatted(ai)
    audit(
        "anchor_index (inbound anchor-text top-k)",
        ai,
        [
            ("hot targets fan out: pair shuffle keys include text "
             "(hashpartitioning on the pair, not target alone)",
             re.search(
                 r"hashpartitioning\((?:media_ref|target)#\d+, text#", p
             ) is not None),
            ("final per-target join is broadcast (post-agg sides are "
             "small)", "BroadcastHashJoin" in p),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # snapshot diff — fingerprints only through the one id shuffle
    sdf = contract.q_snapshot_diff(spark, SF_DIR)
    p = formatted(sdf)
    audit(
        "snapshot_diff (corpus version diff)",
        sdf,
        [
            ("single join key shuffle (id)",
             set(re.findall(r"hashpartitioning\((\w+)", p)) == {"id"}),
            ("full-outer is a sort-merge join (not broadcastable by "
             "semantics)", "SortMergeJoin FullOuter" in p
             or "SortMergeJoin" in p),
            ("shuffle carries fingerprints, not bodies: no text column "
             "above the scan projections",
             "fp_old" in p and "fp_new" in p),
        ],
    )

    # clean_text — map-only: one Arrow NFC stage, regex in codegen
    ct = contract.q_clean_text(spark, SF_DIR)
    p = formatted(ct)
    audit(
        "clean_text (NFC normalization)",
        ct,
        [
            ("no key shuffle", "hashpartitioning(" not in p),
            ("exactly one Arrow stage (the NFC kernel)",
             python_nodes(p) == 1 and "ArrowEvalPython" in p),
            ("regex stages stay in codegen (present as native "
             "regexp_replace, not Python)", "regexp_replace" in p),
        ],
    )

    # token-budget sampling — broadcast budgets + ONE source shuffle
    tb = contract.q_token_budget(spark, SF_DIR)
    p = formatted(tb)
    audit(
        "token_budget (per-source token quotas)",
        tb,
        [
            ("budgets joined via broadcast", "BroadcastHashJoin" in p),
            ("corpus shuffles once, on source (window cumsum)",
             set(re.findall(r"hashpartitioning\((\w+)", p)) == {"source"}),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # native session windows — one user_id shuffle, session agg native
    sw = contract.q_session_windows(spark, SF_DIR)
    p = formatted(sw)
    audit(
        "session_windows (native dynamic-gap sessionization)",
        sw,
        [
            ("one key shuffle on user_id",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             == {"user_id"}),
            ("session-window aggregate is native (no Python)",
             python_nodes(p) == 0),
            ("partial aggregation present",
             _final_tree(p).count("HashAggregate") >= 2
             or "SessionWindow" in p),
        ],
    )

    # bpe_pairs — pair enumeration must sit ABOVE the word aggregation
    # (vocab-sized data), never over raw token occurrences
    bp = contract.q_bpe_pairs(spark, SF_DIR)
    p = formatted(bp)
    audit(
        "bpe_pairs (BPE merge-step pair counts)",
        bp,
        [
            ("shuffles key on word then pair only (corpus-sized shuffle"
             " is the word groupBy)",
             set(re.findall(r"hashpartitioning\((\w+)", p)) == {"w", "pair"}),
            ("both aggs have map-side partials",
             _final_tree(p).count("HashAggregate") >= 4),
            ("pair explode (Generate) present above the word agg",
             "Generate" in p),
            ("no Python stage", python_nodes(p) == 0),
            ("top-k cut is a global TakeOrdered, not a sort",
             "TakeOrderedAndProject" in p),
        ],
    )

    # corpus_split — a free codegen column: no keyed shuffle, no Python
    cs = contract.q_corpus_split(spark, SF_DIR)
    cs.collect()  # finalize AQE so codegen ids materialize
    p = formatted(cs)
    audit(
        "corpus_split (train/val/test hash split)",
        cs,
        [
            ("no keyed shuffle (only _read's test-scale round-robin "
             "fan-out)",
             "hashpartitioning(" not in p and "rangepartitioning(" not in p),
            ("no Python stage", python_nodes(p) == 0),
            ("whole-stage codegen (final AQE plan)", "codegen id" in p),
        ],
    )

    # zorder_keys — Morton bit algebra is a pure projection over the scan
    zk = contract.q_zorder_keys(spark, SF_DIR)
    zk.collect()
    p = formatted(zk)
    audit(
        "zorder_keys (Morton z-value projection)",
        zk,
        [
            ("pure projection: no keyed shuffle, no join, no agg",
             "Join" not in p and "HashAggregate" not in p
             and "hashpartitioning(" not in p),
            ("no Python stage", python_nodes(p) == 0),
            ("whole-stage codegen (final AQE plan)", "codegen id" in p),
        ],
    )

    # bigram_nll — ONE corpus-sized shuffle family (bigram counts +
    # doc re-key); the prefix-total agg keys on the derived w1
    # (_groupingexpression) over the VOCAB-sized count table
    bn = contract.q_bigram_nll(spark, SF_DIR)
    p = formatted(bn)
    audit(
        "bigram_nll (bigram-LM fluency proxy)",
        bn,
        [
            ("bigram counts aggregate with map-side partials",
             _final_tree(p).count("HashAggregate") >= 4),
            ("shuffles key only on bg / doc_id / derived w1 (prefix "
             "totals are vocab-sized)",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             <= {"bg", "w1", "doc_id", "_groupingexpression"}),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # warc_roundtrip — ONE shuffle keyed by the archive-file group;
    # the record walk is a single Arrow stage (per-record Python, the
    # unavoidable minimum for a byte-framed archive format)
    wr = contract.q_warc_roundtrip(spark, SF_DIR)
    p = formatted(wr)
    audit(
        "warc_roundtrip (WARC build + record-walk parse)",
        wr,
        [
            ("single keyed shuffle on the archive group",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             == {"blob_id"}),
            ("exactly one Arrow Python stage (the record walker)",
             python_nodes(_final_tree(p)) == 1),
        ],
    )

    # robots_rules — the window state machine shuffles once, keyed by
    # host; no Python anywhere in the parse
    rr = contract.q_robots_rules(spark, SF_DIR)
    p = formatted(rr)
    audit(
        "robots_rules (native window state machine)",
        rr,
        [
            ("keyed shuffles only on host (hid is the synthetic "
             "input's distinct)",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             <= {"host", "group_id", "hid"}),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # crawl_seeds — the composed front end keeps rules broadcast: the
    # seed side must reach the anti-join without a seed-keyed shuffle
    csd = contract.q_crawl_seeds(spark, SF_DIR)
    p = formatted(csd)
    audit(
        "crawl_seeds (sitemap ∘ robots ∘ blocklist composition)",
        csd,
        [
            ("broadcast LEFT ANTI against the parsed rules",
             "LeftAnti" in p and "BroadcastExchange" in p),
            ("keyed shuffles only inside the robots parse (host-keyed; "
             "hid is the synthetic input's distinct)",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             <= {"host", "group_id", "hid"}),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # url_blocklist — blocklist filtering must be a broadcast anti
    # join: the corpus side never shuffles
    ub = contract.q_url_blocklist(spark, SF_DIR)
    p = formatted(ub)
    audit(
        "url_blocklist (broadcast host/path-prefix anti-join)",
        ub,
        [
            ("broadcast LEFT ANTI join", "LeftAnti" in p
             and "BroadcastExchange" in p),
            ("no keyed shuffle on the corpus side",
             "hashpartitioning(" not in p),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # corpus_health — one scan, global agg with partials (the
    # multi-distinct runs via Expand, still one scan of documents)
    ch = contract.q_corpus_health(spark, SF_DIR)
    p = formatted(ch)
    audit(
        "corpus_health (single-scan corpus report)",
        ch,
        [
            ("single documents scan (multi-distinct via Expand, one "
             "pass)",
             _final_tree(p).count("Location: InMemoryFileIndex") == 1
             and "Expand" in p),
            ("partial aggregation present",
             _final_tree(p).count("HashAggregate") >= 2),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # dedup_incremental — batch-vs-corpus ingest dedup: every keyed
    # shuffle is on the 16-byte fingerprint (bodies never re-shuffle
    # on the corpus side: its scan collapses to DISTINCT fp)
    di = contract.q_dedup_incremental(spark, SF_DIR)
    p = formatted(di)
    audit(
        "dedup_incremental (batch-vs-corpus ingest dedup)",
        di,
        [
            ("anti-join drops corpus-known fingerprints",
             "LeftAnti" in p),
            ("keyed shuffles only on the fingerprint",
             set(re.findall(r"hashpartitioning\((\w+)", p)) <= {"fp"}),
            ("corpus side pre-aggregates to distinct fingerprints",
             _final_tree(p).count("HashAggregate") >= 2),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # temperature_mixture — ONE corpus-sized shuffle (the source
    # count); rates math is broadcast scalar algebra on the source
    # table; the Bernoulli filter rides a broadcast join
    tm = contract.q_temperature_mixture(spark, SF_DIR)
    p = formatted(tm)
    audit(
        "temperature_mixture (alpha-sampled source mixture)",
        tm,
        [
            ("keyed shuffles only on source",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             <= {"source"}),
            ("rates broadcast onto the corpus (no corpus-side sort)",
             "BroadcastExchange" in p and "rangepartitioning(" not in p),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # weighted_sample — ES exponential race must compile to a
    # per-partition top-k heap (TakeOrderedAndProject), never a global
    # sort or shuffle
    ws = contract.q_weighted_sample(spark, SF_DIR)
    ws.collect()
    p = formatted(ws)
    audit(
        "weighted_sample (Efraimidis-Spirakis top-k draw)",
        ws,
        [
            ("TakeOrderedAndProject (per-partition heap top-k, "
             "bounded merge)", "TakeOrderedAndProject" in p),
            ("no keyed shuffle, no global sort",
             "hashpartitioning(" not in p
             and "rangepartitioning(" not in p),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # stratified_sample — exactly ONE shuffle, keyed by the stratum
    ss = contract.q_stratified_sample(spark, SF_DIR)
    ss.collect()
    p = formatted(ss)
    audit(
        "stratified_sample (fixed-count per-stratum draw)",
        ss,
        [
            ("single shuffle keyed by source only",
             set(re.findall(r"hashpartitioning\((\w+)", p)) == {"source"}),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # dsir_weights — corpus-sized shuffles key only on bigram words /
    # bucket / doc_id; the K-row log-ratio table broadcasts back; the
    # only single-partition stage is the VOCAB-sized row_number window
    dw = contract.q_dsir_weights(spark, SF_DIR)
    p = formatted(dw)
    audit(
        "dsir_weights (DSIR hashed-bigram importance)",
        dw,
        [
            ("shuffles key only on w1/w2/tok/bucket/doc_id",
             set(re.findall(r"hashpartitioning\((\w+)", p))
             <= {"w1", "w2", "tok", "bucket", "doc_id"}),
            ("log-ratio table broadcasts onto the feature side",
             "BroadcastExchange" in p),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # ngram_jaccard — the max_df skew guard must broadcast the HOT
    # grams (df > cap, a handful of boilerplate shingles) via a
    # left-anti join, never the corpus-sized kept vocabulary (a
    # multi-GB driver broadcast at 100x scale)
    nj = contract.q_ngram_jaccard(spark, SF_DIR)
    p = formatted(nj)
    audit(
        "ngram_jaccard (exact n-gram near-dup pairs)",
        nj,
        [
            ("hot grams removed by a broadcast LeftAnti join",
             "BroadcastHashJoin LeftAnti BuildRight" in p),
            ("the broadcast input is the df > max_df aggregate "
             "(hot set), not the kept vocabulary",
             bool(re.search(r"Condition : \(df#\d+L? > 1000", p))),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # embedding_neardup — the (table, bucket) band self-join must
    # shuffle ids only (vectors re-attach by id after the pair dedup)
    # and score pairs in ONE Arrow kernel, not per-pair HOFs
    en = contract.q_embedding_neardup(spark, SF_DIR)
    p = formatted(en)
    # at sf-test scale AQE broadcasts the band join (no exchange at
    # all); what must hold at EVERY scale is that no shuffle in this
    # plan repartitions rows that still carry an embedding vector
    shuffles = [
        m.group(0) for m in re.finditer(r"hashpartitioning\([^\)]*\)", p)
    ]
    audit(
        "embedding_neardup (LSH band self-join)",
        en,
        [
            ("no shuffle carries an embedding vector (id-only band "
             "join + pair dedup; vectors re-attach by id)",
             all("vec" not in e and "embedding" not in e for e in shuffles)),
            ("exactly one Arrow scoring kernel",
             len(re.findall(r"\(\d+\) MapInPandas", p)) == 1),
            ("no interpreted HOF cosine (aggregate/zip_with)",
             "zip_with" not in p and "aggregate(" not in p),
        ],
    )

    # interval_join — the range join must plan as a HASH join on the
    # time-bin key, never the cartesian/BNL theta-join Spark gives a
    # raw BETWEEN predicate
    ij = contract.q_interval_join(spark, SF_DIR)
    p = formatted(ij)
    audit(
        "interval_join (range join via time-bin equi-join)",
        ij,
        [
            ("equi-join on the bin key (hash/broadcast join present)",
             "HashJoin" in p),
            ("no cartesian/BNL theta join",
             "BroadcastNestedLoopJoin" not in p
             and "CartesianProduct" not in p),
            ("no Python stage", python_nodes(p) == 0),
        ],
    )

    # pq_topk — the ADC scan must score CODES (no embedding column in
    # any shuffle before the re-rank); only the refine*k candidate set
    # joins the float vectors back
    pq = contract.q_pq_topk(spark, SF_DIR)
    p = formatted(pq)
    shuffles = [
        m.group(0) for m in re.finditer(r"hashpartitioning\([^\)]*\)", p)
    ]
    audit(
        "pq_topk (PQ ADC scan + exact re-rank)",
        pq,
        [
            ("no shuffle carries an embedding vector (ADC candidates "
             "are (query_id, neighbor_id) rows; vectors re-attach only "
             "for the refine*k re-rank)",
             all("vec" not in e and "embedding" not in e
                 for e in shuffles)),
            ("Arrow kernels only (encode, ADC, re-rank) — no "
             "interpreted HOF cosine",
             "zip_with" not in p and "aggregate(" not in p),
        ],
    )

    # ivfpq_topk — the composed index must route via a BROADCAST of the
    # tiny (query, cid) probe table onto the cell-keyed index (the
    # partition-pruned scan shape at real scale), with no vector in any
    # shuffle before the re-rank
    ivfpq = contract.q_ivfpq_topk(spark, SF_DIR)
    p = formatted(ivfpq)
    shuffles = [
        m.group(0) for m in re.finditer(r"hashpartitioning\([^\)]*\)", p)
    ]
    audit(
        "ivfpq_topk (IVF-routed PQ ADC + exact re-rank)",
        ivfpq,
        [
            ("probe table broadcast onto the index (BroadcastExchange "
             "present, no sort-merge join)",
             "BroadcastExchange" in p and "SortMergeJoin" not in p),
            ("no shuffle carries an embedding vector",
             all("vec" not in e and "embedding" not in e
                 for e in shuffles)),
            ("no interpreted HOF cosine",
             "zip_with" not in p and "aggregate(" not in p),
        ],
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (auto-generated by "
            "scripts/explain_audit.py)\n\n"
            f"Scale dir: `{SF_DIR}`.  Checks assert the plan shapes the\n"
            "engine is designed around: shuffle-free extraction, pushed\n"
            "filters, pruned scans, broadcast dims, partial aggs,\n"
            "whole-stage codegen.\n"
        )
        for name, plan, notes in sections:
            f.write(f"\n## {name}\n\n")
            f.write("\n".join(notes))
            f.write("\n\n```\n")
            f.write(plan.strip()[:4000])
            f.write("\n```\n")
    print("\n".join(
        note for _, _, notes in sections for note in notes
    ))
    print("FAILURES:", len(failures))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
