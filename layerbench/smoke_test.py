"""Smoke test of the benchmark at a tiny corpus size.

    python3 -m pytest layerbench/smoke_test.py -q

Each case starts its own Spark JVM (about 40 s each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.03"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], 0) for w in BENCH["workloads"]] + [("interleaved_write", 1)],
)
def test_result_line(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in got.values())


def test_same_seed_same_digest() -> None:
    digests = []
    for _ in range(2):
        proc = _run(ROOT, "bulk_links", 0)
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = next(x for x in proc.stdout.splitlines() if x.startswith("checks "))
        digests.append(line.rsplit(" ", 1)[-1])
    assert digests[0] == digests[1]


def test_fails_without_the_engine() -> None:
    """Only BENCHMARK.json and the benchmark's own files: non-zero exit,
    no result line."""
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [*BENCH["command"], "--workload", "bulk_links", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=120,
            env={**os.environ, "PYTHONPATH": ""},
        )
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
