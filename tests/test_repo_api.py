"""Source guard for the entry points the rest of this suite never runs.

``scripts/*.py``, ``bench.py``, ``bench_vs_reference.py``,
``__spark_entry__.py`` and ``e2e_bench/*.py`` import names from the
package, pass keywords to them and (the benchmark) patch attributes of
its modules. A renamed function or a removed keyword would otherwise
only show up as a failed script or benchmark run. Each file is parsed,
never executed, and checked against the imported package:

- every ``from database_syncer_spark... import name`` resolves;
- every keyword passed to such a name is in its signature;
- every ``(module, "attr", wrapper)`` patch target that
  ``e2e_bench/workloads.py`` returns from ``traced_calls`` exists.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "database_syncer_spark"
ENTRY_FILES = sorted(
    [*ROOT.glob("scripts/*.py"), ROOT / "bench.py",
     ROOT / "bench_vs_reference.py", ROOT / "__spark_entry__.py",
     *ROOT.glob("e2e_bench/*.py")])
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
_MISSING = object()


def _resolve(module: str, name: str):
    """``from module import name`` without running the importing file:
    an attribute of the module, else a submodule; ``_MISSING`` if
    neither exists."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return _MISSING


def _scope_nodes(scope: ast.AST):
    """The nodes of one scope, not descending into nested scopes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _target(node: ast.expr, env: dict):
    """The package object a call or patch target names: ``name`` bound
    by an import, or ``module.attr`` on an imported module. ``None`` if
    the expression does not name the package; ``_MISSING`` for a module
    attribute that does not exist."""
    if isinstance(node, ast.Name):
        return env.get(node.id)
    if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
            and inspect.ismodule(env.get(node.value.id))):
        return getattr(env[node.value.id], node.attr, _MISSING)
    return None


def _bad_keywords(call: ast.Call, fn) -> list[str]:
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):  # builtins without a signature
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [k.arg for k in call.keywords
            if k.arg is not None and k.arg not in params]


def check_source(source: str, filename: str = "<src>") -> list[str]:
    """Every unresolved package import, missing module attribute and
    unknown keyword in ``source``, as ``file:line: problem`` lines."""
    problems: list[str] = []

    def visit(scope: ast.AST, outer: dict) -> None:
        env = dict(outer)
        nodes = list(_scope_nodes(scope))
        for node in nodes:
            if (isinstance(node, ast.ImportFrom) and node.level == 0
                    and (node.module or "").split(".")[0] == PKG):
                for alias in node.names:
                    obj = _resolve(node.module, alias.name)
                    if obj is _MISSING:
                        problems.append(
                            f"{filename}:{node.lineno}: {node.module} has "
                            f"no {alias.name}")
                    else:
                        env[alias.asname or alias.name] = obj
        for node in nodes:
            if not isinstance(node, ast.Call):
                continue
            fn = _target(node.func, env)
            if fn is _MISSING:
                problems.append(f"{filename}:{node.lineno}: calls "
                                f"{ast.unparse(node.func)}, which is gone")
            elif fn is not None:
                for k in _bad_keywords(node, fn):
                    problems.append(
                        f"{filename}:{node.lineno}: "
                        f"{ast.unparse(node.func)}() has no keyword {k!r}")
        for node in nodes:
            if isinstance(node, _SCOPES):
                visit(node, env)

    visit(ast.parse(source, filename), {})
    return problems


@pytest.mark.parametrize(
    "path", ENTRY_FILES, ids=[str(p.relative_to(ROOT)) for p in ENTRY_FILES])
def test_entry_point_package_names_exist(path):
    assert check_source(path.read_text(), str(path.relative_to(ROOT))) == []


def test_check_source_flags_gone_names_and_keywords():
    """The guard is not vacuous: a gone import, a gone module attribute
    and an unknown keyword each show up once."""
    src = (
        "def f(spark):\n"
        "    from database_syncer_spark.sources.dump import (\n"
        "        read_sql_dump, no_such_reader)\n"
        "    from database_syncer_spark.core import diff\n"
        "    diff.no_such_diff(1)\n"
        "    return read_sql_dump(spark, 'p', no_such_option=True)\n")
    problems = check_source(src)
    assert len(problems) == 3, problems
    for name in ("no_such_reader", "no_such_diff", "no_such_option"):
        assert sum(name in p for p in problems) == 1, (name, problems)


def test_benchmark_patch_targets_exist():
    """Every ``(module, "attr", wrapper)`` that a workload's
    ``traced_calls`` returns names an attribute the module still has:
    the benchmark patches it by name."""
    path = ROOT / "e2e_bench" / "workloads.py"
    tree = ast.parse(path.read_text(), str(path))
    targets = []
    for fn in ast.walk(tree):
        if not (isinstance(fn, ast.FunctionDef) and fn.name == "traced_calls"):
            continue
        env = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                for alias in node.names:
                    env[alias.asname or alias.name] = _resolve(
                        node.module, alias.name)
        for node in ast.walk(fn):
            if (isinstance(node, ast.Tuple) and len(node.elts) == 3
                    and isinstance(node.elts[0], ast.Name)
                    and isinstance(node.elts[1], ast.Constant)
                    and inspect.ismodule(env.get(node.elts[0].id))):
                targets.append((env[node.elts[0].id], node.elts[1].value))
    assert len(targets) >= 10, targets  # dump_sync 5, cdc 2, curate 6
    gone = [f"{m.__name__}.{a}" for m, a in targets if not hasattr(m, a)]
    assert gone == []
