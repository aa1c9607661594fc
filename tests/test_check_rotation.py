"""Registry-aging checker: the certification-rotation policy itself.

Two rules, both enforced by scripts/check_rotation.py:
  1. no oracled entry's last driver-green row ages past MAX_AGE rounds
     (front-50 entries count as green next round);
  2. every query listed in __spark_entry__.CHANGED_QUERIES (its
     implementation changed this round) sits in the front-50 — row age
     alone cannot see a stale-by-code-change certification.
"""

import sys

import pytest

sys.path.insert(0, ".")
sys.path.insert(0, "scripts")

import __spark_entry__ as entrymod  # noqa: E402
import check_rotation  # noqa: E402


def test_current_registry_passes():
    """The committed registry is the plan for PLANNED_ROUND, evaluated
    against the artifacts that existed when it was written (--as-of).
    The unpinned default run is the builder's live pre-snapshot check;
    asserting it here is what reddened the round-4 tree the moment the
    driver dropped CORRECTNESS_r04.json after the final commit."""
    assert check_rotation.main(
        ["--as-of", str(entrymod.PLANNED_ROUND)]
    ) == 0


@pytest.mark.parametrize(
    "argv",
    [["--as-of"], ["--asof", "5"], ["5", "--as-of", "5"], ["--as-of", "r5"]],
)
def test_malformed_as_of_fails_loudly(argv):
    """A value-less, misspelled or misplaced --as-of must exit non-zero,
    never fall back silently to the default max(seen)+1 rule."""
    with pytest.raises(SystemExit) as exc:
        check_rotation.main(argv)
    assert exc.value.code != 0


def test_future_artifact_does_not_redden_committed_plan(
    monkeypatch, tmp_path
):
    """Dropping a synthetic next-round artifact into the tree (what the
    driver does after the builder's last commit) must not flip the
    committed plan's verdict."""
    import glob
    import json
    import shutil

    for p in glob.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, tmp_path / p)
    fake = {
        name: {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": "synthetic",
        }
        for name in list(entrymod.queries())[:3]
    }
    (tmp_path / f"CORRECTNESS_r{entrymod.PLANNED_ROUND + 1:02d}.json").write_text(
        json.dumps(fake)
    )
    monkeypatch.chdir(tmp_path)
    assert check_rotation.main(
        ["--as-of", str(entrymod.PLANNED_ROUND)]
    ) == 0


def test_rows_only_row_counts_only_without_oracle():
    """err=no_oracle + an observed row count is the rows-only green the
    policy promises unoracled entries — but the same row shape on an
    ORACLED entry means the driver failed to find its twin."""
    row = {"rows_match": None, "hash_match": None,
           "spark_rows": 25, "err": "no_oracle"}
    assert check_rotation.green(row, rows_only=True)
    assert not check_rotation.green(row, rows_only=False)
    assert not check_rotation.green(
        {**row, "spark_rows": None}, rows_only=True
    )


def test_changed_query_outside_front50_fails(monkeypatch, capsys):
    back_query = list(entrymod.queries())[check_rotation.FRONT]
    monkeypatch.setattr(
        entrymod, "CHANGED_QUERIES",
        set(entrymod.CHANGED_QUERIES) | {back_query},
    )
    assert check_rotation.main() == 1
    assert f"CHANGED-NOT-FRONTED {back_query}" in capsys.readouterr().out


def test_changed_query_not_in_registry_fails(monkeypatch, capsys):
    monkeypatch.setattr(
        entrymod, "CHANGED_QUERIES",
        set(entrymod.CHANGED_QUERIES) | {"no_such_query"},
    )
    assert check_rotation.main() == 1
    assert "CHANGED-UNKNOWN no_such_query" in capsys.readouterr().out


def test_all_changed_queries_exist():
    names = set(entrymod.queries())
    assert entrymod.CHANGED_QUERIES <= names


def test_no_duplicate_literal_registry_keys():
    """A rotation that promotes a query without deleting its old
    position leaves a duplicate dict-literal key: Python silently keeps
    the FIRST occurrence's position, so the dict-level uniqueness check
    passes while the dead back entry misleads the next rotation edit.
    Catch it at the source level."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(entrymod))
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "queries":
            for sub in ast.walk(node):
                if isinstance(sub, ast.Dict):
                    keys = [
                        k.value
                        for k in sub.keys
                        if isinstance(k, ast.Constant)
                    ]
                    dupes = sorted(
                        {k for k in keys if keys.count(k) > 1}
                    )
                    assert not dupes, f"duplicate registry keys: {dupes}"
            return
    raise AssertionError("queries() not found")
