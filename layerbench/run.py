#!/usr/bin/env python3
"""Layered extraction benchmark: one workload per invocation.

Run from the repository root:

    python3 layerbench/run.py --workload bulk_links --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same workload, then a traced session (Spark
event log on, a job description per action, spans around each layer
call) and reports the per-layer metrics.  Human-readable detail goes
to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  Full records
(detail, spans) land in ``.layerbench/results/``.  See README.md in
this directory for every metric, its layer and what it should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "web_content_extractor_spark"

WORKLOADS = ("bulk_links", "interleaved_write")
SETUP_REPS = 3  # setup_s is the median of this many full set-ups
HEAP = "2g"  # driver JVM heap, fixed (-Xms = -Xmx)
# untimed units run after set-up, before any timing: unit times keep
# falling for about 5 units (JIT of the scan, Arrow and write paths)
SETTLE_S = 12.0
SETTLE_UNITS = 4
ERR_RUN_ID = "layerbench"  # fixed run_id -> deterministic error rows
# in-process (no Spark) kernel sample per workload, in docs
KERNEL_SAMPLE = {"bulk_links": 150, "interleaved_write": 600}
URL_SAMPLE = 5000  # (base, href) pairs replayed by the URL timings


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[int, float] | None:
    """Highest nearest-rank percentile with at least ten samples beyond
    it, as (percentile, value); None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, sorted(values)[math.ceil(p * n / 100) - 1]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# --- session ----------------------------------------------------------------


def start_session(work: str, eventlog_dir: str | None = None):
    from web_content_extractor_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: an adaptively growing one drifts
        # both throughput (GC frequency) and RSS from run to run
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("layerbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, sampler) -> bool:
    """Stop Spark, end the gateway JVM and wait for every child process
    (JVM, Python daemon and workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    return sampler.wait_children_gone(timeout=30)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# --- workloads --------------------------------------------------------------


class Workload:
    """One workload's unit of work over its materialized corpus.

    A unit is one full pass over the corpus.  ``run(i)`` executes unit
    ``i`` and returns the digest of its output; ``check`` compares it
    with the first digest seen."""

    def __init__(self, spark, corpus, work: str):
        self.spark = spark
        self.corpus = corpus
        self.name = corpus.workload
        self.out = os.path.join(work, "out")
        self.digest: str | None = None
        # one input split per file: a file's open cost equals the split
        # size, so Spark never packs two files into one task (the
        # corpora are 2 files per core)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))

    def docs(self):
        from web_content_extractor_spark.sources.docs import read_docs

        return read_docs(self.spark, self.corpus.path, fmt="parquet")

    def run(self, i: int) -> str:
        from pyspark.sql import Observation

        from check import digest_exprs, digest_of
        from web_content_extractor_spark.operators.errors import (
            doc_errors,
            write_errors,
        )
        from web_content_extractor_spark.plans.pipeline import extract
        from web_content_extractor_spark.sinks.formatters import write_spans

        if self.name == "bulk_links":
            obs = Observation(f"out{i}")
            noop(extract(self.docs()).observe(obs, *digest_exprs("doc_id", "spans")))
            return digest_of(obs.get)
        out = os.path.join(self.out, f"unit{i}")
        ex = extract(self.docs(), with_stats=True, with_errors=True).persist()
        try:
            o_spans, o_errs = Observation(f"spans{i}"), Observation(f"errs{i}")
            write_spans(
                ex.select("doc_id", "spans").observe(
                    o_spans, *digest_exprs("doc_id", "spans")
                ),
                os.path.join(out, "spans"),
            )
            errs = doc_errors(ex, run_id=ERR_RUN_ID)
            write_errors(
                errs.observe(
                    o_errs,
                    *digest_exprs(
                        "doc_id", "stage", "reason", "target", "err_idx", spans=None
                    ),
                ),
                os.path.join(out, "errors"),
            )
        finally:
            ex.unpersist()
        return digest_of(o_spans.get) + "/" + digest_of(o_errs.get)

    def warm(self) -> None:
        """Untimed, unchecked extract over one input file per core: pays
        codegen, Python worker start and module imports before timing."""
        from web_content_extractor_spark.plans.pipeline import extract

        files = sorted(
            os.path.join(self.corpus.path, f)
            for f in os.listdir(self.corpus.path)
            if f.endswith(".parquet")
        )
        noop(extract(self.spark.read.parquet(*files[: cores()])))

    def check(self, digest: str) -> bool:
        if self.digest is None:
            self.digest = digest
        return digest == self.digest

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


def timed_loop(wl: Workload, sampler, seconds: float, min_units: int,
               tracer=None) -> dict:
    """Closed loop, one client: run units back to back for ``seconds``
    (at least ``min_units``).  Each sample is one unit's wall time from
    the action call to its return."""
    from procstat import cpu_stat, steal_fraction

    sc = wl.spark.sparkContext
    samples = []
    sampler.reset_peak()
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds or len(samples) < min_units:
        s0, c0 = cpu_stat(), sampler.cpu_s()
        action_ms = time.time() * 1000
        a = time.perf_counter()
        try:
            if tracer is not None:
                sc.setJobDescription(f"wl:pass:{i}")
                with tracer.span("workload.unit", unit=i):
                    digest = wl.run(i)
            else:
                digest = wl.run(i)
            ok = wl.check(digest)
        except Exception:
            traceback.print_exc()
            digest, ok = None, False
        dt = time.perf_counter() - a
        samples.append(
            {
                "unit": i,
                "wall_s": dt,
                "cpu_s": sampler.cpu_s() - c0,
                "docs": wl.corpus.n_docs if ok else 0,
                "ok": ok,
                "steal": steal_fraction(s0, cpu_stat()),
                "action_ms": action_ms,
                "digest": digest,
            }
        )
        wl.cleanup()
        i += 1
    if tracer is not None:
        sc.setJobDescription(None)
    return {"samples": samples, "peak_rss": sampler.peak_rss}


def loop_metrics(loop: dict) -> dict:
    ok = [s for s in loop["samples"] if s["ok"]]
    walls_ms = [s["wall_s"] * 1000 for s in loop["samples"]]
    t = tail(walls_ms)
    attempted = len(loop["samples"])
    return {
        "docs_per_s": median_or_zero(s["docs"] / s["wall_s"] for s in ok),
        "job_ms_p50": statistics.median(walls_ms),
        "job_ms_tail": {"pct": t[0], "ms": t[1]} if t else None,
        "job_ms_samples": attempted,
        "cpu_s_per_kdoc": median_or_zero(s["cpu_s"] / s["docs"] * 1000 for s in ok),
        "peak_rss_mb": loop["peak_rss"] / 2**20,
        "failed_ratio": (attempted - len(ok)) / attempted,
        "steal_median": median_or_zero(s["steal"] for s in loop["samples"]),
    }


# --- traced run: plan prefixes and in-process layer timings -----------------


def prefix_jobs(wl: Workload, out: str):
    """Cumulative plan prefixes over the corpus: (name, thunk returning
    a dict of counts observed by the action)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from web_content_extractor_spark.operators.errors import doc_errors, write_errors
    from web_content_extractor_spark.plans.pipeline import extract, tokenize
    from web_content_extractor_spark.sinks.formatters import write_spans

    def passthrough(batches):
        # the pandas conversion of (doc_id, spans) is paid in full;
        # only doc_id goes back, so return transfer stays small
        for pdf in batches:
            yield pdf[["doc_id"]]

    def scan():
        # hash the whole row: size(spans) alone reads one nested leaf
        # after column pruning, so it would not measure the scan
        noop(wl.docs().select(F.size("spans"), F.xxhash64("doc_id", "spans")))
        return {}

    def decode():
        noop(wl.docs().select("doc_id", "spans").mapInPandas(passthrough, "doc_id string"))
        return {}

    def tok():
        noop(tokenize(wl.docs()))
        return {}

    def full():
        obs = Observation(f"pfx_extract{time.monotonic_ns()}")
        noop(extract(wl.docs()).observe(obs, F.sum(F.size("spans")).alias("n")))
        return {"spans_out": obs.get["n"]}

    def write():
        path = os.path.join(out, "spans")
        write_spans(
            extract(wl.docs(), with_stats=True, with_errors=True).select(
                "doc_id", "spans"
            ),
            path,
        )
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        return {"bytes_written": size}

    def errors():
        obs = Observation(f"pfx_errors{time.monotonic_ns()}")
        errs = doc_errors(extract(wl.docs(), with_errors=True), run_id=ERR_RUN_ID)
        write_errors(errs.observe(obs, F.count(F.lit(1)).alias("n")), os.path.join(out, "errors"))
        return {"rows": obs.get["n"]}

    return [
        ("scan", scan),
        ("decode", decode),
        ("tokenize", tok),
        ("extract", full),
        ("write", write),
        ("errors", errors),
    ]


def prefix_rounds(wl: Workload, sampler, tracer, seconds: float, min_rounds: int,
                  out: str) -> list[dict]:
    sc = wl.spark.sparkContext
    rounds, t0, r = [], time.perf_counter(), 0
    while time.perf_counter() - t0 < seconds or r < min_rounds:
        rec = {}
        with tracer.span("layers.round", round=r):
            for name, job in prefix_jobs(wl, out):
                sc.setJobDescription(f"layer:{name}:{r}")
                c0 = sampler.cpu_s()
                a = time.perf_counter()
                with tracer.span(f"layer.{name}", round=r):
                    counts = job()
                rec[name] = {
                    "wall_s": time.perf_counter() - a,
                    "cpu_s": sampler.cpu_s() - c0,
                    **counts,
                }
                shutil.rmtree(out, ignore_errors=True)
        rounds.append(rec)
        r += 1
    sc.setJobDescription(None)
    return rounds


def _time_calls(fn, items, min_s: float = 0.2) -> float:
    """Mean seconds per call of ``fn(*item)`` over ``items`` (repeated
    until ``min_s`` has elapsed)."""
    calls, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(*it)
        calls += len(items)
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / calls


def in_process_layers(corpus, tracer) -> dict:
    """Single-core timings of the kernel layers on the workload's own
    docs, without Spark."""
    import pandas as pd

    from web_content_extractor_spark.functions import urlnorm
    from web_content_extractor_spark.functions.classify import rank_context_py
    from web_content_extractor_spark.functions.tokenizer import (
        tokenize_batches,
        tokenize_html,
    )

    n = KERNEL_SAMPLE[corpus.workload]
    stride = max(1, len(corpus.docs) // n)
    sample = corpus.docs[::stride][:n]
    frame = pd.DataFrame({"doc_id": [d for d, _ in sample], "spans": [s for _, s in sample]})
    with tracer.span("functions.tokenizer.tokenize_batches", docs=len(sample)):
        reps = []
        while sum(reps) < 0.5 or len(reps) < 2:
            a = time.perf_counter()
            out = pd.concat(list(tokenize_batches(iter([frame]))))
            reps.append(time.perf_counter() - a)
    html = [(s["text"], d) for d, spans in sample for s in spans if s["kind"] == "html" and s["text"]]
    with tracer.span("functions.tokenizer.tokenize_html", calls=len(html)):
        html_s = _time_calls(tokenize_html, html, 0.5) * len(html)
    cands = int(out["cand_urls"].map(len).sum())
    errs = int(out["parse_failures"].sum())
    pairs = corpus.pairs[:: max(1, len(corpus.pairs) // URL_SAMPLE)][:URL_SAMPLE]
    with tracer.span("functions.urlnorm.resolve", calls=len(pairs)):
        resolve_s = _time_calls(urlnorm.resolve, pairs)
    resolved = [(urlnorm.resolve(b, h),) for b, h in pairs]
    with tracer.span("functions.urlnorm.normalize", calls=len(resolved)):
        normalize_s = _time_calls(urlnorm.normalize, resolved)
    ranked = [
        (u, t)
        for us, ts, gs in zip(out["cand_urls"], out["cand_texts"], out["cand_tags"])
        for u, t, g in zip(us, ts, gs)
        if g != "media"
    ]
    with tracer.span("functions.classify.rank_context_py", calls=len(ranked)):
        rank_s = _time_calls(rank_context_py, ranked) if ranked else 0.0
    return {
        "functions.tokenizer.us_per_doc": statistics.median(reps) / len(sample) * 1e6,
        "functions.tokenizer.html_us_per_doc": html_s / len(sample) * 1e6,
        "functions.tokenizer.cands_per_doc": cands / len(sample),
        "functions.tokenizer.drop_ratio": errs / (cands + errs) if cands + errs else 0.0,
        "functions.urlnorm.resolve_us": resolve_s * 1e6,
        "functions.urlnorm.normalize_us": normalize_s * 1e6,
        "functions.classify.rank_us": rank_s * 1e6,
    }


def layer_metrics(rounds: list[dict], groups: dict, traced_loop: dict,
                  bytes_on_disk: int) -> tuple[dict, list]:
    """Per-layer metrics from prefix rounds, the event log and the traced
    workload units.  Also returns the prefix table rows."""
    def med(fn):
        return median_or_zero(fn(r) for r in rounds)

    def d(a, b, key="wall_s"):
        return med(lambda r: r[a][key] - r[b][key])

    def ev(name, fn):
        vals = [fn(groups[f"layer:{name}:{k}"]) for k in range(len(rounds))
                if f"layer:{name}:{k}" in groups]
        return median_or_zero(vals)

    passes = [groups[f"wl:pass:{s['unit']}"] for s in traced_loop["samples"]
             if f"wl:pass:{s['unit']}" in groups]
    submit = [
        g.first_launch_ms - s["action_ms"]
        for s in traced_loop["samples"]
        for g in [groups.get(f"wl:pass:{s['unit']}")]
        if g is not None and g.first_launch_ms is not None
    ]
    spans_out = med(lambda r: r["extract"]["spans_out"])
    written = med(lambda r: r["write"]["bytes_written"])
    m = {
        "sources.scan_s": med(lambda r: r["scan"]["wall_s"]),
        "sources.scan_cpu_s": med(lambda r: r["scan"]["cpu_s"]),
        # the full-row scan reads every column chunk; the event log's
        # input bytes miss the nested-column reads, so count the files
        "sources.bytes_read": bytes_on_disk,
        "plans.pipeline.decode_s": d("decode", "scan"),
        "plans.pipeline.decode_cpu_s": d("decode", "scan", "cpu_s"),
        "plans.pipeline.arrow_bytes_in": median_or_zero(g.python.get("arrow_bytes_in", 0) for g in passes),
        "plans.pipeline.arrow_bytes_out": median_or_zero(g.python.get("arrow_bytes_out", 0) for g in passes),
        "plans.pipeline.worker_start_s": median_or_zero(g.python.get("worker_start_ms", 0) / 1e3 for g in passes),
        "functions.tokenizer.stage_s": d("tokenize", "decode"),
        "functions.tokenizer.stage_cpu_s": d("tokenize", "decode", "cpu_s"),
        "operators.assemble.s": d("extract", "tokenize"),
        "operators.assemble.cpu_s": d("extract", "tokenize", "cpu_s"),
        "operators.assemble.spans_out": spans_out,
        "operators.errors.rows": med(lambda r: r["errors"]["rows"]),
        "operators.errors.s": d("errors", "tokenize"),
        "sinks.formatters.write_s": d("write", "extract"),
        "sinks.formatters.bytes_written": written,
        "sinks.formatters.bytes_per_span": written / spans_out if spans_out else 0.0,
        "exec.cpu_s": median_or_zero(g.cpu_s for g in passes),
        "exec.gc_s": median_or_zero(g.gc_s for g in passes),
        "exec.spill_bytes": sum(g.spill_bytes for g in passes),
        "exec.tasks": median_or_zero(g.tasks for g in passes),
        "exec.task_skew": median_or_zero(g.task_skew for g in passes),
        "driver.submit_ms": median_or_zero(submit),
    }
    full = med(lambda r: r["extract"]["wall_s"]) or 1.0
    table = []
    for label, name in (("scan + row hash", "scan"), ("+ pandas decode", "decode"),
                        ("+ tokenizer kernel", "tokenize"), ("full extract", "extract")):
        wall = med(lambda r: r[name]["wall_s"])
        table.append({
            "prefix": label,
            "wall_s": wall,
            "tree_cpu_s": med(lambda r: r[name]["cpu_s"]),
            "executor_cpu_s": ev(name, lambda g: g.cpu_s),
            "python_run_s": ev(name, lambda g: g.python.get("worker_run_ms", 0) / 1e3),
            "share_of_extract": wall / full,
        })
    return m, table


# --- main -------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (smoke test only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"layerbench: {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import gen
    from check import fixtures_check, planted_check
    from procstat import TreeSampler
    from tracing import Tracer, find_eventlog, parse_eventlog

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(ROOT, ".layerbench")
    work = os.path.join(base, "work", tag)
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    # fixed str hashing in the driver's children (JVM, Python workers):
    # per-process hash randomization shifts kernel speed between runs
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    sampler = TreeSampler().start()
    spark = None
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work)
        corpus = gen.materialize(
            gen.generate(args.workload, args.seed, args.scale),
            os.path.join(work, "inputs"),
        )
        wl = Workload(spark, corpus, work)
        wl.warm()
        setups.append(time.perf_counter() - t0)

    from web_content_extractor_spark.plans.pipeline import extract

    fx_ok, fx_n = fixtures_check(spark)
    bad_planted = planted_check(extract, wl.docs(), corpus.planted)
    checks = {
        "fixtures": f"{fx_ok}/{fx_n}",
        "planted_docs": len(corpus.planted),
        "planted_bad": bad_planted[:5],
    }
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores(), "input": corpus.stats, "setup_s_all": setups,
              "checks": checks}

    # settle: JIT and worker caches keep warming for a few units after
    # set-up; these units are checked but not timed
    settle = timed_loop(wl, sampler, SETTLE_S, SETTLE_UNITS)
    detail["settle_samples"] = settle["samples"]
    if not args.trace:
        loop = timed_loop(wl, sampler, args.seconds, 3)
        m = loop_metrics(loop)
        metrics = {
            "docs_per_s": m["docs_per_s"],
            "cpu_s_per_kdoc": m["cpu_s_per_kdoc"],
            "peak_rss_mb": m["peak_rss_mb"],
            "setup_s": statistics.median(setups),
        }
        detail.update(loop=m, samples=loop["samples"])
    else:
        tracer = Tracer(f"{tag}-{int(time.time())}")
        untraced = timed_loop(wl, sampler, args.seconds / 4, 2)
        spark.stop()
        evdir = os.path.join(work, "eventlog")
        with tracer.span("session.start"):
            spark = start_session(work, eventlog_dir=evdir)
            digest, wl = wl.digest, Workload(spark, corpus, work)
            wl.digest = digest
        with tracer.span("session.warm"):
            wl.warm()
        with tracer.span("workload"):
            loop = timed_loop(wl, sampler, args.seconds / 4, 2, tracer)
        with tracer.span("layers"):
            rounds = prefix_rounds(wl, sampler, tracer, args.seconds / 2, 2,
                                   os.path.join(work, "pfx"))
        with tracer.span("in_process"):
            kernel = in_process_layers(corpus, tracer)
        m_untraced, m = loop_metrics(untraced), loop_metrics(loop)
        ok = shutdown(spark, sampler)
        spark = None
        groups = parse_eventlog(find_eventlog(evdir))
        metrics, table = layer_metrics(rounds, groups, loop,
                                       corpus.stats["bytes_on_disk"])
        metrics.update(kernel)
        metrics["tracing.overhead_pct"] = (
            (m_untraced["docs_per_s"] / m["docs_per_s"] - 1) * 100
            if m["docs_per_s"] else 0.0
        )
        detail.update(loop=m, untraced_loop=m_untraced, samples=loop["samples"],
                      prefix_table=table, rounds=rounds, children_gone=ok)
        tracer.dump(os.path.join(results, f"{tag}-spans.json"))

    if spark is not None:
        detail["children_gone"] = shutdown(spark, sampler)
    sampler.stop()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    samples = detail["settle_samples"] + detail["samples"]
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    digest = wl.digest
    correct = fx_ok == fx_n and not bad_planted and failed == 0
    detail.update(digest=digest, correct=correct, attempted=attempted, failed=failed)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"on local[{cores()}]")
    print("input " + json.dumps(corpus.stats))
    print(f"checks fixtures {checks['fixtures']} planted "
          f"{len(corpus.planted) - len(bad_planted)}/{len(corpus.planted)} "
          f"digest {digest}")
    lm = detail["loop"]
    t = lm["job_ms_tail"]
    print(f"units {attempted} failed {failed} failed_ratio {lm['failed_ratio']:.4f} "
          f"steal_median {lm['steal_median']:.4f} job_ms_p50 {lm['job_ms_p50']:.1f} ms "
          + (f"job_ms_p{t['pct']} {t['ms']:.1f} ms" if t else "job_ms tail n/a (<11 samples)"))
    print("setup_s all " + " ".join(f"{s:.2f}" for s in setups))
    if args.trace:
        print(f"{'prefix':<20}{'wall_s':>9}{'tree_cpu_s':>12}{'exec_cpu_s':>12}"
              f"{'python_s':>10}{'share':>8}")
        for row in detail["prefix_table"]:
            print(f"{row['prefix']:<20}{row['wall_s']:>9.3f}{row['tree_cpu_s']:>12.2f}"
                  f"{row['executor_cpu_s']:>12.2f}{row['python_run_s']:>10.2f}"
                  f"{row['share_of_extract']:>8.2f}")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
