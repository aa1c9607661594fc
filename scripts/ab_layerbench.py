#!/usr/bin/env python
"""Interleaved A/B of two source trees on one layerbench workload.

For each seed, runs the same command in both trees, one after the
other, alternating which tree goes first (even seed positions run the
parent first):

    python3 layerbench/run.py --workload W --seed S --seconds 10 --trace 0

Usage:
    python scripts/ab_layerbench.py --parent DIR --change DIR \\
        --workload bulk_links --seeds 901 902 903 904 905 906 907 908 909 910

Prints one row per pair as it completes (each end-to-end metric of
``BENCHMARK.json``, the digests, the runs' median steal), then per
metric each side's median [q1, q3], the change's win count, whether
the claim rule holds (the change wins at least 9 of every 10 pairs and
its median beats the parent's by more than the parent's own q3 - q1),
whether the change's median is within the metric's regression bound of
the parent's, and whether the metric is unresolved (the parent's q3 - q1
exceeds that bound and not every change run beats every parent run).
A pair whose two runs' median host steal differs by more than
``STEAL_GAP`` is marked ``STEAL`` in its row: its faster run may only
have had the quieter host.  Under each metric's verdict a second line
gives the medians and win count over the unmarked pairs; the verdict
itself stays on all pairs.  A run that crashes, has ``correct`` false
or ``failed > 0`` loses its pair for every metric.  ``--out FILE``
keeps every run's record as JSON lines.  Exit 0 = every pair had equal
digests and no lost run.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

CHECKS = re.compile(r"^checks fixtures (\S+) planted (\S+) digest (\S+)$")
STEAL = re.compile(r"\bsteal_median (\S+)")
STEAL_GAP = 0.05  # a pair whose runs' median steal differs by more is marked


def run_tree(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One layerbench run in ``tree``: its result line, checks and steal."""
    cmd = [sys.executable, "layerbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    rec = {"tree": tree, "seed": seed, "rc": proc.returncode, "ok": False,
           "digest": None, "steal": None, "metrics": {}}
    lines = proc.stdout.splitlines()
    for line in lines:
        m = CHECKS.match(line)
        if m:
            rec.update(fixtures=m[1], planted=m[2], digest=m[3])
        m = STEAL.search(line)
        if m:
            rec["steal"] = float(m[1])
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["stderr_tail"] = proc.stderr[-2000:]
        return rec
    rec["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    rec["ok"] = (proc.returncode == 0 and result["correct"]
                 and result["failed"] == 0)
    return rec


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def wins(p: dict, c: dict, name: str, higher: bool) -> bool:
    if not (p["ok"] and c["ok"]):
        return False
    a, b = p["metrics"][name], c["metrics"][name]
    return b > a if higher else b < a


def steal_gap(p: dict, c: dict) -> bool:
    """True when the pair's two runs saw median host steal differing by
    more than ``STEAL_GAP`` (unknown steal marks nothing)."""
    if p["steal"] is None or c["steal"] is None:
        return False
    return abs(p["steal"] - c["steal"]) > STEAL_GAP


def summarize(pairs: list[tuple[dict, dict]], metrics: list[dict]) -> list[dict]:
    rows = []
    for spec in metrics:
        name, higher = spec["name"], spec["better"] == "higher"
        ok = [(p, c) for p, c in pairs if p["ok"] and c["ok"]]
        if not ok:
            rows.append({"metric": name, "pairs": len(pairs), "wins": 0, "holds": False,
                         "within_bound": False, "unresolved": True})
            continue
        pv = [p["metrics"][name] for p, _ in ok]
        cv = [c["metrics"][name] for _, c in ok]
        pq, cq = quartiles(pv), quartiles(cv)
        n_win = sum(wins(p, c, name, higher) for p, c in pairs)
        gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        separated = min(cv) > max(pv) if higher else max(cv) < min(pv)
        rows.append({
            "metric": name, "pairs": len(pairs), "wins": n_win,
            "parent": pq, "change": cq, "gain": gain, "parent_iqr": pq[2] - pq[0],
            "holds": n_win >= 0.9 * len(pairs) and gain > pq[2] - pq[0],
            "within_bound": gain >= -spec["bound"] * abs(pq[1]),
            "unresolved": (pq[2] - pq[0] > spec["bound"] * abs(pq[1])
                           and not separated),
        })
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent source tree")
    ap.add_argument("--change", required=True, help="changed source tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--out", help="append every run's record here (JSON lines)")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    names = [m["name"] for m in metrics]
    trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    print("seed  first   " + "  ".join(f"{n:>25}" for n in names)
          + "  digest  steal p/c", flush=True)
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        recs = {}
        for side in order:
            recs[side] = run_tree(trees[side], args.workload, seed, args.seconds)
            recs[side]["side"] = side
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": args.workload, **recs[side]}) + "\n")
        p, c = recs["parent"], recs["change"]
        pairs.append((p, c))
        cells = []
        for spec in metrics:
            n = spec["name"]
            pv, cv = p["metrics"].get(n, float("nan")), c["metrics"].get(n, float("nan"))
            mark = "+" if wins(p, c, n, spec["better"] == "higher") else "-"
            cells.append(f"{pv:>11.4g} {cv:>11.4g} {mark}")
        same = p["digest"] is not None and p["digest"] == c["digest"]
        lost = "" if p["ok"] and c["ok"] else "  LOST (run not ok)"
        gap = "  STEAL" if steal_gap(p, c) else ""
        print(f"{seed:<5} {order[0]:<7} " + "  ".join(cells)
              + f"  {'equal' if same else 'DIFFER'}  {p['steal']}/{c['steal']}{gap}{lost}",
              flush=True)

    print()
    calm = [(p, c) for p, c in pairs if not steal_gap(p, c)]
    for r, q in zip(summarize(pairs, metrics), summarize(calm, metrics)):
        if "parent" not in r:
            print(f"{r['metric']}: no pair with two good runs")
            continue
        pq, cq = r["parent"], r["change"]
        print(f"{r['metric']}: parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"wins {r['wins']}/{r['pairs']}  median gain {r['gain']:.4g} vs "
              f"parent IQR {r['parent_iqr']:.4g}  claim rule holds: {r['holds']}  "
              f"within regression bound: {r['within_bound']}  "
              f"unresolved: {r['unresolved']}")
        if "parent" in q:
            print(f"  {len(calm)} pairs without STEAL: parent {q['parent'][1]:.4g}  "
                  f"change {q['change'][1]:.4g}  wins {q['wins']}/{q['pairs']}")
        else:
            print(f"  {len(calm)} pairs without STEAL: none with two good runs")
    equal = all(p["digest"] is not None and p["digest"] == c["digest"] for p, c in pairs)
    clean = all(p["ok"] and c["ok"] for p, c in pairs)
    print(f"digests equal in every pair: {equal}  every run ok: {clean}")
    return 0 if equal and clean else 1


if __name__ == "__main__":
    sys.exit(main())
