"""Tests for the benchmark itself (not part of the package's test suite).

    python3 -m pytest e2e_bench -q

The smoke runs start Spark once per case (about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    return (not cmp.left_only and not cmp.right_only
            and not filecmp.cmpfiles(a, b, cmp.common_files,
                                     shallow=False)[1])


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = gen.generate(workload, 7, "tiny", str(tmp_path / "a"))
    b = gen.generate(workload, 7, "tiny", str(tmp_path / "b"))
    c = gen.generate(workload, 8, "tiny", str(tmp_path / "c"))
    assert _same_tree(a, b)
    assert not _same_tree(a, c)
    assert sorted(os.listdir(a)) == sorted(os.listdir(c))


def _literal(value, kind: str) -> str:
    """A value rendered the way the sync script renders its column."""
    if kind in ("i", "d"):
        return str(value)
    if kind == "t":
        return f"'{value} 00:00:00.000000'"
    return "'" + value.replace("'", "''") + "'"


def _script_from_expected(expected: dict) -> str:
    """A script the check must accept: DDL, then every planted change
    as a statement in section order, with the planted values."""
    lines = ["-- sync script"]
    for t in expected["drop"] + expected["create"]:
        lines.append(f"DROP TABLE IF EXISTS `{t}`;")
    for t in expected["create"]:
        lines.append(gen.create_statement(t))
    for kind in ("DELETE", "UPDATE", "INSERT"):
        for table, exp in sorted(expected["tables"].items()):
            pk = exp["pk"]
            cols = [c for c, _, _ in gen.TABLES[table][1]]
            for key in exp["keys"][kind]:
                where = " AND ".join(f"`{c}` = {v}"
                                     for c, v in zip(pk, key.split(",")))
                if kind == "DELETE":
                    lines.append(f"DELETE FROM `{table}` WHERE {where};")
                    continue
                lits = [_literal(v, k) for v, k in
                        zip(exp["rows"][kind][key], exp["kinds"])]
                if kind == "UPDATE":
                    sets = ", ".join(f"`{c}` = {v}" for c, v in
                                     zip(cols[len(pk):], lits[len(pk):]))
                    lines.append(f"UPDATE `{table}` SET {sets} "
                                 f"WHERE {where};")
                else:
                    lines.append(f"INSERT INTO `{table}` VALUES "
                                 f"({', '.join(lits)});")
    return "\n".join(lines) + "\n"


def _expected(tmp_path) -> dict:
    d = gen.generate("dump_sync", 3, "tiny", str(tmp_path / "in"))
    with open(os.path.join(d, "expected.json")) as fh:
        return json.load(fh)


def test_script_check_rejects_a_missing_delete(tmp_path):
    expected = _expected(tmp_path)
    text = _script_from_expected(expected)
    path = tmp_path / "sync.sql"
    path.write_text(text)
    checks.check_script(str(path), expected)

    lines = text.splitlines(keepends=True)
    first_delete = next(i for i, line in enumerate(lines)
                        if line.startswith("DELETE FROM"))
    del lines[first_delete]
    path.write_text("".join(lines))
    with pytest.raises(checks.CheckFailed, match="DELETE"):
        checks.check_script(str(path), expected)


@pytest.mark.parametrize("kind", ["UPDATE", "INSERT"])
@pytest.mark.parametrize("column", [3, 4, 6])
def test_script_check_rejects_a_changed_value(kind, column, tmp_path):
    """One value of one statement differs from the planted row: an
    orders decimal, date or string column."""
    expected = _expected(tmp_path)
    exp = expected["tables"]["orders"]
    row = next(iter(exp["rows"][kind].values()))
    changed = json.loads(json.dumps(expected))
    old = row[column]
    new = (old[:-1] + ("1" if old[-1] != "1" else "2")
           if exp["kinds"][column] != "t" else "1999-12-31")
    rows = changed["tables"]["orders"]["rows"][kind]
    next(iter(rows.values()))[column] = new
    path = tmp_path / "sync.sql"
    path.write_text(_script_from_expected(changed))
    with pytest.raises(checks.CheckFailed, match="value"):
        checks.check_script(str(path), expected)


def test_script_check_unescapes_and_normalizes(tmp_path):
    """Quotes doubled, a bare date and a decimal without its trailing
    zero are the planted values, not differences."""
    expected = _expected(tmp_path)
    exp = expected["tables"]["orders"]
    key, row = next(iter(exp["rows"]["INSERT"].items()))
    row[-1] = "o'brien back\\slash"
    row[3] = "10.50"
    path = tmp_path / "sync.sql"
    text = _script_from_expected(expected).replace(
        f"'{row[4]} 00:00:00.000000'", f"'{row[4]}'").replace(
        "10.50,", "10.5,")
    assert "'o''brien back\\slash'" in text and "10.5," in text
    path.write_text(text)
    checks.check_script(str(path), expected)


def _bench_names(section: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return sorted(m["name"] for m in json.load(fh)[section])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    section = "per_layer" if trace else "end_to_end"
    assert sorted(result["metrics"]) == _bench_names(section)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "e2e_bench")
    proc = subprocess.run(
        [sys.executable, "e2e_bench/run.py", "--workload", "dump_sync",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
