"""The claim rule of scripts/ab_layerbench.py, on hand-made run records."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from ab_layerbench import steal_gap, summarize  # noqa: E402

METRICS = [
    {"name": "docs_per_s", "better": "higher", "bound": 0.25},
    {"name": "cpu_s_per_kdoc", "better": "lower", "bound": 0.25},
]


def rec(docs, cpu, ok=True, steal=0.0):
    return {"ok": ok, "steal": steal,
            "metrics": {"docs_per_s": docs, "cpu_s_per_kdoc": cpu}}


def test_claim_rule_counts_lost_pairs_and_needs_nine_tenths():
    pairs = [(rec(100 + i, 1.0), rec(150 + i, 0.8)) for i in range(10)]
    docs, cpu = summarize(pairs, METRICS)
    assert (docs["wins"], docs["holds"], docs["within_bound"]) == (10, True, True)
    assert (cpu["wins"], cpu["holds"]) == (10, True)

    # a bad change run loses its pair on every metric: 9/10 still holds
    pairs[0] = (rec(100, 1.0), rec(500, 0.1, ok=False))
    docs, cpu = summarize(pairs, METRICS)
    assert (docs["wins"], docs["holds"], cpu["wins"]) == (9, True, 9)

    # a second lost pair (a bad parent run counts too): 8/10 fails
    pairs[1] = (rec(10, 9.0, ok=False), rec(151, 0.8))
    assert [r["holds"] for r in summarize(pairs, METRICS)] == [False, False]


def test_claim_rule_needs_a_gain_above_the_parent_iqr():
    # the change wins every pair by 1 while the parent spreads over 40
    pairs = [(rec(100 + 10 * (i % 5), 1.0), rec(101 + 10 * (i % 5), 1.0)) for i in range(10)]
    docs, cpu = summarize(pairs, METRICS)
    assert docs["wins"] == 10 and not docs["holds"]
    assert docs["gain"] == 1 and docs["parent_iqr"] == 20
    assert cpu["wins"] == 0 and cpu["within_bound"]  # ties win nothing

    # 30% slower on the median is outside a 0.25 bound
    pairs = [(rec(100, 1.0), rec(70, 1.0)) for _ in range(10)]
    assert not summarize(pairs, METRICS)[0]["within_bound"]


def test_wide_parent_spread_is_unresolved_unless_the_runs_separate():
    # parent IQR 55 on a median of 105 exceeds the 0.25 bound
    parent = [100, 50, 150, 60, 140, 70, 130, 80, 120, 110]
    pairs = [(rec(p, 1.0), rec(p - 1, 1.0)) for p in parent]
    docs, cpu = summarize(pairs, METRICS)
    assert docs["within_bound"] and docs["unresolved"]
    assert not cpu["unresolved"]  # no spread at all

    # every change run above every parent run settles it
    pairs = [(rec(p, 1.0), rec(200 + p, 1.0)) for p in parent]
    assert not summarize(pairs, METRICS)[0]["unresolved"]


def test_steal_gap_marks_pairs_and_the_verdict_stays_on_all_pairs():
    # the change wins 8 calm pairs; in 2 more its run saw 0.27 and 0.14
    # steal against the parent's ~0 and lost
    pairs = [(rec(100, 1.0, steal=0.01), rec(120, 0.9, steal=0.02)) for _ in range(8)]
    pairs += [(rec(100, 1.0, steal=0.0), rec(70, 1.3, steal=0.27)),
              (rec(100, 1.0, steal=0.01), rec(80, 1.2, steal=0.14))]
    assert [steal_gap(p, c) for p, c in pairs] == [False] * 8 + [True, True]
    # a gap of exactly STEAL_GAP, or an unknown steal, marks nothing
    assert not steal_gap(rec(1, 1, steal=0.0), rec(1, 1, steal=0.05))
    assert not steal_gap(rec(1, 1, steal=None), rec(1, 1, steal=0.9))

    docs, _ = summarize(pairs, METRICS)
    assert (docs["wins"], docs["holds"]) == (8, False)  # 8/10 < 9/10
    calm, _ = summarize([(p, c) for p, c in pairs if not steal_gap(p, c)], METRICS)
    assert (calm["wins"], calm["pairs"], calm["change"][1]) == (8, 8, 120)
