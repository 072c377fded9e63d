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

A second guard reads every Python file of the repo the same way: each
defaulted parameter of a ``def`` in the package's ``pipeline``,
``streaming`` and ``queries`` directories must be set by some call, so
an option that nothing runs with a non-default value shows up here
instead of growing untested branches.
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


# --- every operator default is set somewhere -------------------------------

_GUARDED = tuple(f"{PKG}/{d}/" for d in ("pipeline", "streaming", "queries"))
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(fn: ast.AST) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return ([p.arg for p in pos[len(pos) - len(a.defaults):]]
            + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None])


def _passed(call: ast.Call, fn: ast.AST) -> dict | None:
    """{parameter: argument node} of a call to ``fn``; ``None`` when
    ``*args`` or ``**kwargs`` may set any parameter."""
    if (any(isinstance(a, ast.Starred) for a in call.args)
            or any(k.arg is None for k in call.keywords)):
        return None
    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    if pos[:1] in (["self"], ["cls"]):
        pos = pos[1:]
    got = dict(zip(pos, call.args))
    got.update((k.arg, k.value) for k in call.keywords)
    return got


def unset_defaults(sources: dict[str, str]) -> list[str]:
    """``path:line name(param)`` for each defaulted parameter of a
    ``def`` under the guarded directories that no call in ``sources``
    (``{repo-relative path: source}``) sets. Calls match defs by name.
    An argument that only passes on an enclosing def's own default
    (``f(k=k)``) sets the parameter only once that default is set."""
    trees = {path: ast.parse(src, path) for path, src in sources.items()}
    where, by_name = {}, {}
    for path, tree in trees.items():
        if path.startswith(_GUARDED):
            for fn in ast.walk(tree):
                if isinstance(fn, _DEFS) and _defaulted(fn):
                    where[fn] = path
                    by_name.setdefault(fn.name, []).append(fn)
    calls = []  # (call, the defs and lambdas around it, innermost last)

    def visit(node: ast.AST, scopes: list) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                f = child.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name in by_name:
                    calls.append((child, by_name[name], scopes))
            visit(child, scopes + [child]
                  if isinstance(child, (*_DEFS, ast.Lambda)) else scopes)

    for tree in trees.values():
        visit(tree, [])
    done = set()

    def sets(arg: ast.expr, scopes: list) -> bool:
        if isinstance(arg, ast.Name):
            for fn in reversed(scopes):
                a = fn.args
                if arg.id in [p.arg for p in (a.posonlyargs + a.args
                                              + a.kwonlyargs)]:
                    return (arg.id not in _defaulted(fn)
                            or (fn, arg.id) in done)
        return True

    grew = True
    while grew:
        grew = False
        for call, fns, scopes in calls:
            for fn in fns:
                got = _passed(call, fn)
                for p in _defaulted(fn):
                    if (fn, p) not in done and (
                            got is None or p in got and sets(got[p], scopes)):
                        done.add((fn, p))
                        grew = True
    return sorted(f"{where[fn]}:{fn.lineno} {fn.name}({p})"
                  for fn in where for p in _defaulted(fn)
                  if (fn, p) not in done)


def test_every_operator_default_is_set_by_a_caller():
    """A default that no caller, script, benchmark or test overrides is
    a constant: it belongs in the module as ``_NAME``, not in the
    signature."""
    sources = {
        p.relative_to(ROOT).as_posix(): p.read_text()
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") or part == "spark-warehouse"
                   for part in p.relative_to(ROOT).parts)}
    assert any(p.startswith(_GUARDED) for p in sources)
    assert unset_defaults(sources) == []


def test_unset_defaults_flags_unset_and_passed_on_defaults():
    """The setter guard is not vacuous: a default set by no call is
    named, so is one set only by passing on another unset default, and
    setting the outer one (or a ``**kwargs`` call) clears both."""
    lib = (f"{PKG}/pipeline/m.py",
           "def f(x, a=1, b=2, c=3):\n"
           "    return x\n"
           "\n"
           "def g(y, b=2):\n"
           "    return f(y, 5, b=b)\n")
    use = ("tests/t.py", "f(0, c=1)\n")
    got = unset_defaults(dict([lib, use]))
    assert got == [f"{PKG}/pipeline/m.py:1 f(b)",
                   f"{PKG}/pipeline/m.py:4 g(b)"], got
    assert unset_defaults(dict([lib, ("tests/t.py", "f(0, c=1)\ng(0, 7)\n")])
                          ) == []
    assert unset_defaults(dict([lib, ("tests/t.py", "g(0, **kw)\n")])) == [
        f"{PKG}/pipeline/m.py:1 f(c)"]
