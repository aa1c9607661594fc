"""Registry aging audit — certification must never silently age.

The driver's correctness gate verifies only the FIRST 50 ``queries()``
entries per round, so front-50 membership has to rotate.  This check
formalizes the policy the round-3/4 rotations applied by hand:

  for every registry entry, (next_round - last_green_round) <= MAX_AGE,
  where entries currently in the front-50 count as green NEXT round
  (the driver will produce their row), and rows-only entries (no
  oracle_sql) satisfy the policy with a rows-only row.

Run pre-snapshot:  python scripts/check_rotation.py [--as-of N]
Exit 0 = every entry will be within policy after the coming driver run;
exit 1 = some entry is aging out — rotate it into the front-50.

Round numbers come from the CORRECTNESS_r*.json artifacts in the repo
root; ``next_round`` is max(seen)+1.  ``--as-of N`` instead evaluates
the registry as the plan for round N using only the artifacts from
rounds < N — the form the committed tree is pinned against, so a later
driver artifact landing in the repo root does not retroactively fail
the committed plan (round 4's failure mode: the r04 artifact dropped
after the last commit and flipped next_round under the default rule).
"""

from __future__ import annotations

import argparse
import glob
import json
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402

MAX_AGE = 2  # a row older than this many rounds is stale
FRONT = 50  # driver gate window


def green(rec: dict, rows_only: bool = False) -> bool:
    """A driver row counts if rows matched and, when the driver ran a
    hash compare (oracled queries), the hash matched too.  For entries
    that genuinely have no ``oracle_sql`` twin (``rows_only=True``) the
    driver records ``err: "no_oracle"`` with the observed row count —
    that IS the rows-only row the policy docstring promises them, so it
    counts; for an oracled entry the same shape would mean the driver
    could not find the twin, which stays red."""
    if not isinstance(rec, dict):
        return False
    if rec.get("err"):
        return (
            rows_only
            and rec.get("err") == "no_oracle"
            and rec.get("spark_rows") is not None
        )
    if not rec.get("rows_match"):
        return False
    hm = rec.get("hash_match")
    return hm is None or bool(hm)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument(
        "--as-of", type=int, default=None, metavar="N",
        help="evaluate the registry as the plan for round N, using only "
             "the artifacts of rounds < N",
    )
    as_of = parser.parse_args(argv or []).as_of
    rounds: dict[int, dict] = {}
    for path in glob.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)\.json$", path)
        if m and (as_of is None or int(m.group(1)) < as_of):
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
    if not rounds:
        print("no CORRECTNESS_r*.json artifacts found")
        return 1
    next_round = max(rounds) + 1 if as_of is None else as_of

    names = list(entrymod.queries())
    no_oracle = set(names) - set(entrymod.oracle_sql())
    front = set(names[:FRONT])
    last: dict[str, int | None] = {}
    for name in names:
        seen = [
            r
            for r, d in sorted(rounds.items())
            if green(d.get(name, {}), rows_only=name in no_oracle)
        ]
        last[name] = seen[-1] if seen else None

    stale = []
    for name in names:
        eff = next_round if name in front else last[name]
        if eff is None or next_round - eff > MAX_AGE:
            stale.append((name, last[name], name in front))

    for name, lg, in_front in stale:
        print(
            f"STALE {name}: last green r{lg}, next r{next_round}, "
            f"front-50={in_front} -> rotate into the front-50"
        )

    # code-changed queries: a changed implementation makes the previous
    # driver row stale regardless of age (row age alone can't see it)
    changed = getattr(entrymod, "CHANGED_QUERIES", set())
    unknown = changed - set(names)
    for name in sorted(unknown):
        print(f"CHANGED-UNKNOWN {name}: listed in CHANGED_QUERIES but "
              f"not in the registry")
    misplaced = sorted((changed & set(names)) - front)
    for name in misplaced:
        print(
            f"CHANGED-NOT-FRONTED {name}: implementation changed this "
            f"round but sits outside the front-50 — its certification "
            f"predates the code"
        )
    stale.extend((n, last.get(n), False) for n in misplaced)
    stale.extend((n, None, False) for n in sorted(unknown))
    fresh = {n: (next_round if n in front else last[n]) for n in names}
    dist = {}
    for r in fresh.values():
        dist[r] = dist.get(r, 0) + 1
    print(
        f"entries={len(names)} front={len(front)} next=r{next_round} "
        f"green-by-round(after next run)={dict(sorted(dist.items(), key=lambda kv: str(kv[0])))} "
        f"stale={len(stale)}"
    )
    return 1 if stale else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
