"""spark-submit entry point for the extraction engine.

North-rule deployment shape (BASELINE.json: "submitted via
spark-submit --py-files on multi-executor clusters"):

    zip -r engine.zip web_content_extractor_spark
    spark-submit --py-files engine.zip \\
        -m web_content_extractor_spark.jobs extract \\
        --input  s3a://corpus/docs/          (or an Iceberg table id) \\
        --output s3a://corpus/spans/ \\
        --metrics s3a://corpus/metrics/ \\
        --resume --content-output s3a://corpus/content/

or locally: ``python -m web_content_extractor_spark.jobs extract --input ...``.

One subcommand per job: ``extract``, ``curate``, ``corpus``, ``dedup``,
``ann``, ``plan`` and ``compact``, each with only its own flags.  Each
runs as ``run_<mode>(spark, args) -> dict`` on one session; ``main``
prints the dict as one JSON line.  A flag value the parser cannot reject
on its own prints ``{"error": ...}`` and exits 2.

One driver process builds one logical plan per stage; Catalyst/AQE do
the physical planning.  ``extract --resume`` drains only the input
files no earlier ``--resume`` run has read, through the file-source
checkpoint at ``<output>/_checkpoint``
(streaming/incremental.py::stream_extract); delivery is at-least-once,
so a crash between a batch's writes and its checkpoint commit replays
that batch.  Without it the job is a plain one-shot extract + append.
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from web_content_extractor_spark.session import get_spark
from web_content_extractor_spark.sources.checkpoint import write_extract
from web_content_extractor_spark.sources.docs import READ_FORMATS, _format, read_docs
from web_content_extractor_spark.sources.urls import (
    UrlListError,
    read_url_list,
    url_batch,
)
from web_content_extractor_spark.streaming.incremental import stream_extract


class UsageError(Exception):
    """A flag value the argument parser cannot reject on its own."""


def _check_extract(args) -> None:
    if args.resume and (
        args.urls
        or args.cdx_output
        or _format(args.input, args.input_format, READ_FORMATS) == "iceberg"
    ):
        raise UsageError(
            "--resume reads only newly landed input files: it takes no "
            "--urls (a one-shot work list) and no --cdx-output (the index "
            "reads raw WARC records), and Iceberg inputs resume from table "
            "snapshots via snapshot_diff/changed_docs"
        )
    if args.cdx_output and args.input_format != "warc":
        raise UsageError(
            "--cdx-output indexes WARC archives; it requires "
            "--input-format warc"
        )


def run_extract(spark, args) -> dict:
    opts = dict(
        metrics_path=args.metrics,
        errors_path=args.errors,
        content_path=args.content_output,
        variant=args.variant,
        balance=args.balance,
    )
    if args.resume:
        result = stream_extract(
            spark, args.input, args.output, fmt=args.input_format, **opts
        )
    else:
        if args.cdx_output:
            from web_content_extractor_spark.sources.warc import (
                read_warc,
                warc_cdx,
            )

            # urlkey range clustering: a domain's records land in
            # contiguous sorted files, the layout CDX range scans want
            (
                warc_cdx(read_warc(spark, args.input))
                .repartitionByRange("urlkey")
                .sortWithinPartitions("urlkey")
                .write.mode("append")
                .parquet(args.cdx_output)
            )
        docs = read_docs(spark, args.input, fmt=args.input_format)
        if args.urls:
            docs = url_batch(docs, read_url_list(spark, args.urls))
        run_id = uuid.uuid4().hex[:12]
        n_docs = write_extract(docs, args.output, run_id, **opts)
        result = {"run_id": run_id, "docs": n_docs}
    if args.content_output:
        result["content_output"] = args.content_output
    return result


def run_curate(spark, args) -> dict:
    from web_content_extractor_spark.plans.curation import curation_manifest

    text_docs = spark.read.parquet(args.input)
    snippets = (
        spark.read.parquet(args.benchmark_snippets)
        if args.benchmark_snippets
        else None
    )
    manifest = curation_manifest(text_docs, snippets=snippets).persist()
    try:
        manifest.write.mode("append").parquet(args.output)
        stats = manifest.agg(
            F.count("*").alias("docs"),
            F.sum(F.col("selected").cast("int")).alias("selected"),
        ).collect()[0]
    finally:
        manifest.unpersist()
    return {
        "curation": {
            "docs": stats.docs,
            "selected": stats.selected,
            "output": args.output,
        }
    }


def run_corpus(spark, args) -> dict:
    from web_content_extractor_spark.operators.corpus import (
        pack_token_stream,
        shard_corpus,
    )
    from web_content_extractor_spark.operators.lines import chunk_documents
    from web_content_extractor_spark.plans.curation import curation_manifest

    if args.input_format == "jsonl":
        from web_content_extractor_spark.sources.jsonl import read_jsonl

        docs = read_jsonl(
            spark, args.input, "doc_id long, text string, source string"
        )
    else:
        docs = spark.read.parquet(args.input)
    # corpus mode decontaminates only against a REAL eval set: the
    # synthetic default snippet table is lifted from the corpus
    # itself (an oracle/demo construction that would flag every doc)
    snippets = (
        spark.read.parquet(args.benchmark_snippets)
        if args.benchmark_snippets
        else spark.createDataFrame([], "snippet_id long, snippet string")
    )
    if args.dirty_tau is not None and snippets.isEmpty():
        # an empty gram set would make the gate a silent dropped:0 no-op
        raise UsageError(
            "--dirty-tau needs a non-empty --benchmark-snippets table; "
            "the contamination gate would check nothing"
        )
    result: dict = {}
    manifest = curation_manifest(docs, snippets=snippets)
    funnel_row = manifest.agg(
        F.count("*").alias("total"),
        F.sum((~F.col("keep_quality")).cast("int")).alias("q"),
        F.sum(F.col("is_duplicate").cast("int")).alias("dup"),
        F.sum(F.col("is_contaminated").cast("int")).alias("contam"),
        F.sum(F.col("selected").cast("int")).alias("sel"),
    ).collect()[0]
    selected = manifest.where("selected").select("doc_id")
    kept = docs.join(selected, "doc_id", "left_semi")
    if args.curate_domains:
        from web_content_extractor_spark.functions import text_quality as tq
        from web_content_extractor_spark.operators.domains import (
            domain_curate,
            domain_stats,
        )

        scored = kept.withColumn("_q", tq.quality_score(F.col("text")))
        stats = domain_stats(
            scored,
            domain_col="source",
            quality_col="_q",
            min_docs=args.domain_min_docs,
            min_mean_quality=args.domain_min_quality,
        ).persist()
        dropped_sources = [
            r.source for r in stats.where("NOT keep_domain").collect()
        ]
        kept = domain_curate(scored, stats=stats, domain_col="source").drop("_q")
        result["domain_curation"] = {
            "sources": stats.count(),
            "dropped_sources": sorted(dropped_sources),
        }
        stats.unpersist()
    if args.dirty_tau is not None:
        from web_content_extractor_spark.operators.decontam import (
            contamination_scores,
        )

        # quantitative gate shares the boolean sweep's snippet set; it
        # catches PARTIAL leaks — a snippet copied only in part has
        # no verbatim substring for the sweep's `contains`, but its
        # surviving 8-grams still collide above tau
        scores = contamination_scores(kept, snippets, n=8, tau=args.dirty_tau)
        clean = scores.where(~F.col("dirty")).select("doc_id")
        n_dirty = scores.where("dirty").count()
        kept = kept.join(clean, "doc_id", "left_semi")
        result["dirty_gate"] = {"tau": args.dirty_tau, "dropped": n_dirty}
    if args.mixture_rates:
        from web_content_extractor_spark.operators.corpus import mixture_sample

        kept = mixture_sample(kept, spark.read.parquet(args.mixture_rates))
    if args.train_bpe > 0:
        from web_content_extractor_spark.operators.bpe import (
            merges_table,
            train_bpe,
        )

        merges = train_bpe(kept, n_merges=args.train_bpe)
        merges_out = args.merges_output or f"{args.output}_merges"
        merges_table(spark, merges).coalesce(1).write.mode(
            "overwrite"
        ).parquet(merges_out)
        result["bpe"] = {
            "merges_learned": len(merges),
            "merges_requested": args.train_bpe,
            "output": merges_out,
        }
    chunks = chunk_documents(
        kept, chunk_size=args.chunk_size, overlap=args.chunk_overlap
    )
    shards = shard_corpus(kept.select("doc_id"), n_shards=args.shards)
    packed = pack_token_stream(
        chunks.join(shards, "doc_id"),
        budget=args.pack_budget,
        order_cols=("shard_pos", "chunk_id"),
    )
    # trainable layout: one range-partitioned, in-order file family
    # per shard (the small-file compaction's clustered shape).
    # Empty selection: partitionBy writes NO files for an empty
    # frame (the output root becomes unreadable), so fall back to a
    # plain empty write that preserves the schema.  isEmpty() stops
    # at the first row when data exists — the cost is one extra
    # first-partition probe, not a second full pass.
    if packed.isEmpty():
        packed.write.mode("overwrite").parquet(args.output)
    else:
        (
            packed.repartitionByRange(args.shards, "shard", "pack_id")
            .sortWithinPartitions("shard", "pack_id", "pack_offset")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(args.output)
        )
    stats = spark.read.parquet(args.output).agg(
        F.count("*").alias("chunks"),
        F.sum("n_tokens").alias("tokens"),
        F.count_distinct("shard", "pack_id").alias("packs"),
    ).collect()[0]
    result["corpus"] = {
        "docs_selected": kept.count(),
        "curation_funnel": {
            "total": funnel_row.total,
            "dropped_quality": int(funnel_row.q or 0),
            "flagged_duplicate": int(funnel_row.dup or 0),
            "flagged_contaminated": int(funnel_row.contam or 0),
            "selected": int(funnel_row.sel or 0),
        },
        "chunks": stats.chunks,
        "tokens": int(stats.tokens or 0),
        "packs": stats.packs,
        "output": args.output,
    }
    return result


def run_dedup(spark, args) -> dict:
    from web_content_extractor_spark.operators.dedup_docs import (
        duplicate_clusters,
        exact_duplicates,
        minhash_lsh_pairs,
        resolve_clusters,
        simhash_near_duplicates,
    )

    docs = spark.read.parquet(args.input)
    if "n_chars" not in docs.columns:
        docs = docs.withColumn("n_chars", F.length(F.coalesce("text", F.lit(""))))
    if args.method == "exact":
        clusters = exact_duplicates(docs).select(
            "doc_id", F.col("canonical_id").alias("cluster_id")
        )
        # NULL-text docs get a NULL fingerprint and never match the
        # canonical equi-join — re-seed them as their own singleton
        # clusters so all three methods agree on corpus membership
        clusters = (
            docs.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
            )
        )
    else:
        if args.method == "minhash":
            pairs = minhash_lsh_pairs(
                docs, min_jaccard=args.threshold
            ).select("doc_a", "doc_b")
        else:
            pairs = simhash_near_duplicates(
                docs, max_distance=args.hamming
            ).select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        clusters = duplicate_clusters(docs, pairs=pairs)
    resolve_clusters(docs, clusters).write.mode("overwrite").parquet(args.output)
    stats = spark.read.parquet(args.output).agg(
        F.count("*").alias("docs"),
        F.sum(F.col("is_canonical").cast("int")).alias("kept"),
        F.sum((F.col("cluster_size") > 1).cast("int")).alias("in_dup_clusters"),
    ).collect()[0]
    kept = int(stats.kept or 0)  # sums are NULL on empty input
    return {
        "dedup": {
            "method": args.method,
            "docs": stats.docs,
            "kept": kept,
            "dropped": stats.docs - kept,
            "in_dup_clusters": int(stats.in_dup_clusters or 0),
            "output": args.output,
        }
    }


def run_ann(spark, args) -> dict:
    from web_content_extractor_spark.operators import similarity

    search = {
        "brute": similarity.brute_force_topk,
        "lsh": similarity.lsh_topk,
        "ivf": similarity.ivf_topk,
        "pq": similarity.pq_topk,
        "ivfpq": similarity.ivfpq_topk,
    }[args.method]
    search(
        spark.read.parquet(args.corpus), spark.read.parquet(args.queries), k=args.k
    ).write.mode("overwrite").parquet(args.output)
    topk = spark.read.parquet(args.output)
    return {
        "ann": {
            "method": args.method,
            "k": args.k,
            "queries": topk.select("query_id").distinct().count(),
            "pairs": topk.count(),
            "output": args.output,
        }
    }


def run_plan(spark, args) -> dict:
    from web_content_extractor_spark.operators.crawl import (
        crawl_delays,
        politeness_schedule,
        robots_decisions,
    )

    frontier = spark.read.parquet(args.frontier)
    delays = None
    if args.robots:
        robots = spark.read.parquet(args.robots)
        # full REP evaluation — an Allow rule re-opens sub-paths
        # inside a disallowed prefix, which the Disallow-only
        # robots_rules list would silently under-crawl
        frontier = (
            robots_decisions(robots, frontier)
            .where("allowed")
            .drop("allowed", "matched_prefix")
        )
        delays = crawl_delays(robots)
    plan_df = politeness_schedule(
        frontier,
        delays,
        default_delay_s=args.default_delay,
        priority_col="priority" if "priority" in frontier.columns else None,
        # delays (when present) come from crawl_delays above, so
        # they are already canonically keyed — skip the defensive
        # re-aggregation exchange
        delays_canonical=True,
    )
    # fetchers read a host's slots sequentially: cluster the plan
    # by host, slot order within files
    (
        plan_df.repartitionByRange("host")
        .sortWithinPartitions("host", "slot")
        .write.mode("overwrite")
        .parquet(args.output)
    )
    pstats = spark.read.parquet(args.output).agg(
        F.count("*").alias("urls"),
        F.countDistinct("host").alias("hosts"),
        F.max("fetch_at_s").alias("horizon"),
    ).collect()[0]
    return {
        "crawl_plan": {
            "urls": pstats.urls,
            "hosts": pstats.hosts,
            "horizon_s": float(pstats.horizon)
            if pstats.horizon is not None else 0.0,
            "output": args.output,
        }
    }


def run_compact(spark, args) -> dict:
    from web_content_extractor_spark.sinks.compact import compact_table

    stats = compact_table(
        spark,
        args.input,
        args.output,
        target_file_bytes=args.target_mb << 20,
        cluster_by=args.cluster_by,
    )
    return {
        "compaction": {
            "files_before": stats.files_before,
            "bytes_before": stats.bytes_before,
            "files_after": stats.files_after,
            "bytes_after": stats.bytes_after,
            "output": args.output,
        }
    }


def build_parser() -> argparse.ArgumentParser:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--master", default=None,
                        help="override spark master (default: env/local)")
    p = argparse.ArgumentParser(prog="web_content_extractor_spark.jobs")
    modes = p.add_subparsers(dest="mode", required=True, metavar="MODE")

    def mode(name, run, help, check=lambda args: None):
        sp = modes.add_parser(name, parents=[common], help=help,
                              description=help)
        sp.set_defaults(run=run, check=check)
        return sp

    x = mode("extract", run_extract, "extract typed spans from docs",
             check=_check_extract)
    x.add_argument("--input", required=True,
                   help="docs path (parquet dir) or Iceberg table id")
    x.add_argument("--output", required=True, help="spans output path")
    x.add_argument("--input-format", default=None,
                   choices=READ_FORMATS,
                   help="input format (default: auto — Iceberg for "
                        "table ids, parquet for paths); 'jsonl' reads "
                        "one-JSON-object-per-line docs (schema-"
                        "enforced, corrupt lines dropped not fatal); "
                        "'warc' reads "
                        "Common Crawl-style .warc/.warc.gz archives, "
                        "one doc per response record")
    x.add_argument("--cdx-output", default=None,
                   help="with --input-format warc: also write the "
                        "CDX-style random-access index (SURT urlkey, "
                        "blob, offset, bytes), urlkey-range-clustered")
    x.add_argument("--metrics", default=None, help="metrics table path")
    x.add_argument("--errors", default=None,
                   help="per-doc errors table path (stage/reason per "
                        "dropped candidate)")
    x.add_argument("--urls", default=None,
                   help="URL-list JSON file (blob-trigger parity): "
                        "extract only the listed doc_ids")
    x.add_argument("--content-output", default=None,
                   help="also run the boilerpipe content branch to this path")
    x.add_argument("--variant", choices=("context", "regex"), default="context",
                   help="classifier rule set (CLI vs API parity)")
    x.add_argument("--resume", action="store_true",
                   help="incremental mode: extract only the input files no "
                        "earlier --resume run read (checkpoint at "
                        "<output>/_checkpoint)")
    x.add_argument("--balance", action="store_const", const="rows",
                   default=False,
                   help="repartitionByRange(doc_id) before the tokenizer "
                        "(skewed input layouts)")

    c = mode("curate", run_curate,
             "curation manifest over a (doc_id, text) table: quality + "
             "dedup + decontamination")
    c.add_argument("--input", required=True,
                   help="text documents table (doc_id, text)")
    c.add_argument("--output", required=True,
                   help="write the curation manifest here")
    c.add_argument("--benchmark-snippets", default=None,
                   help="optional snippet parquet (snippet_id, snippet) "
                        "for decontamination; default: deterministic "
                        "synthetic set")

    k = mode("corpus", run_corpus,
             "training corpus build: curate -> chunk -> shard -> pack -> "
             "clustered write")
    k.add_argument("--input", required=True,
                   help="text documents table (doc_id, text)")
    k.add_argument("--input-format", default="parquet",
                   choices=("parquet", "jsonl"),
                   help="'jsonl' reads one-JSON-object-per-line shards "
                        "(schema-enforced, corrupt lines dropped not fatal)")
    k.add_argument("--output", required=True,
                   help="packed-corpus output root; written partitioned "
                        "by shard, sorted by (pack_id, pack_offset)")
    k.add_argument("--chunk-size", type=int, default=256,
                   help="tokens per chunk")
    k.add_argument("--chunk-overlap", type=int, default=32,
                   help="token overlap between chunks")
    k.add_argument("--shards", type=int, default=16, help="training shards")
    k.add_argument("--pack-budget", type=int, default=1024,
                   help="tokens per training pack")
    k.add_argument("--mixture-rates", default=None,
                   help="optional (source, rate) parquet applied after "
                        "curation: deterministic Bernoulli "
                        "down-sampling to the target source mixture")
    k.add_argument("--curate-domains", action="store_true",
                   help="drop every document of a source "
                        "whose mean quality is below --domain-min-quality "
                        "(RefinedWeb-style group-level curation keyed on "
                        "the corpus 'source' column; real crawls key on "
                        "the registered domain)")
    k.add_argument("--domain-min-docs", type=int, default=10,
                   help="sources with fewer docs than this are KEPT "
                        "(insufficient evidence)")
    k.add_argument("--domain-min-quality", type=float, default=33.5,
                   help="minimum mean quality score for a source to "
                        "survive --curate-domains")
    k.add_argument("--benchmark-snippets", default=None,
                   help="optional snippet parquet (snippet_id, snippet) "
                        "to decontaminate against; default: none")
    k.add_argument("--dirty-tau", type=float, default=None,
                   help="also drop documents whose distinct "
                        "word-8-gram collision fraction against the "
                        "benchmark snippet set reaches this threshold "
                        "(GPT-3-style quantitative decontamination; "
                        "requires a non-empty --benchmark-snippets)")
    k.add_argument("--train-bpe", type=int, default=0,
                   help="learn this many BPE merges on the "
                        "curated corpus and write the merge table next "
                        "to the output (0 = skip)")
    k.add_argument("--merges-output", default=None,
                   help="BPE merge-table path (default: <output>_merges)")

    d = mode("dedup", run_dedup,
             "dedup manifest: pairs -> connected components -> canonical "
             "survivor")
    d.add_argument("--input", required=True,
                   help="docs parquet (doc_id, text) to deduplicate")
    d.add_argument("--output", required=True,
                   help="write the resolution manifest (doc_id, "
                        "cluster_id, cluster_size, is_canonical) here")
    d.add_argument("--method", choices=("exact", "minhash", "simhash"),
                   default="minhash",
                   help="exact content-hash groups, MinHash-LSH "
                        "near-dup (default), or SimHash + Hamming "
                        "band join")
    d.add_argument("--threshold", type=float, default=0.8,
                   help="minimum estimated jaccard for a minhash pair")
    d.add_argument("--hamming", type=int, default=3,
                   help="maximum SimHash Hamming distance for a pair")

    a = mode("ann", run_ann, "embedding top-k similarity search")
    a.add_argument("--corpus", required=True,
                   help="embeddings parquet (vec_id, embedding) to search")
    a.add_argument("--queries", required=True,
                   help="query embeddings parquet, same schema "
                        "(small side; collected into the index kernels)")
    a.add_argument("--output", required=True,
                   help="write (query_id, neighbor_id, cos_sim, rank) "
                        "top-k table here")
    a.add_argument("--method", choices=("brute", "lsh", "ivf", "pq", "ivfpq"),
                   default="ivfpq",
                   help="search strategy: exact scan, hyperplane LSH, "
                        "IVF routing, PQ byte-code ADC, or composed "
                        "IVF+PQ (default)")
    a.add_argument("--k", type=int, default=10, help="neighbors per query")

    pl = mode("plan", run_plan,
              "crawl plan: robots filter + Crawl-delay politeness schedule")
    pl.add_argument("--frontier", required=True,
                    help="frontier parquet (host, url[, priority]) to "
                         "schedule")
    pl.add_argument("--robots", default=None,
                    help="optional robots parquet (host, robots body): "
                         "disallowed URLs drop, Crawl-delay drives the "
                         "per-host schedule")
    pl.add_argument("--output", required=True,
                    help="write (host, url, slot, delay_s, fetch_at_s) "
                         "fetch plan here")
    pl.add_argument("--default-delay", type=float, default=1.0,
                    help="seconds between fetches for hosts without a "
                         "Crawl-delay")

    m = mode("compact", run_compact, "small-file compaction of a parquet root")
    m.add_argument("--input", required=True, help="parquet root to compact")
    m.add_argument("--output", required=True,
                   help="write the compacted table here (never in place)")
    m.add_argument("--target-mb", type=int, default=128,
                   help="target output file size in MB")
    m.add_argument("--cluster-by", default=None,
                   help="optional cluster column: range-clustered "
                        "rewrite instead of the shuffle-free merge")
    return p


def main(argv: list[str] | None = None) -> int:
    try:
        args = build_parser().parse_args(argv)
    except SystemExit as e:  # 2 on a usage error, 0 after --help
        return e.code
    spark = None
    preexisting = SparkSession.getActiveSession() is not None
    try:
        args.check(args)
        spark = get_spark("wce-extract-job", master=args.master)
        spark.sparkContext.setLogLevel("WARN")
        result = args.run(spark, args)
    except UsageError as e:
        print(json.dumps({"error": str(e)}))
        return 2
    except UrlListError as e:
        # blob-trigger error-object semantics
        # (extract_blob_trigger.py:56-65)
        print(json.dumps(e.error_object))
        return 1
    finally:
        if spark is not None and not preexisting:
            spark.stop()  # don't tear down a caller-owned session
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
