"""Every defaulted parameter of the library is set by some caller.

A parameter with a default that no call in the tree ever passes is a
configuration that no test or benchmark covers: the branch it selects
is dead weight. This lint walks the AST (no Spark), collects every
defaulted parameter of every function under ``github_etl_spark/``
(outside ``plans/``, whose oracle queries are reference code), and
every call under the library, ``perfbench/``, ``tools/``, ``tests/``,
``bench.py`` and ``__spark_entry__.py``. A parameter counts as set when
a call to a function of that name passes it by keyword, by position
(methods offset by ``self``/``cls``), or through ``*args``/``**kwargs``.
Names defined more than once are skipped: a call cannot be tied to one
definition by name alone.

Run ``python tests/test_options_in_use.py`` to print the counts and
the offenders.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "github_etl_spark"
CALLER_PATHS = (
    LIB,
    ROOT / "perfbench",
    ROOT / "tools",
    ROOT / "tests",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)

# (function, parameter) -> why it stays although no caller sets it.
ALLOWED = {
    ("stream_github", "token"): "deployment setting: the GitHub credential",
    ("running_totals", "idle_evict_ms"): "the operator's only state bound",
    ("streaming_heavy_hitters", "idle_evict_ms"): "the operator's only state bound",
    ("streaming_bottomk_sample", "idle_evict_ms"): "the operator's only state bound",
}


def _py_files(path: Path):
    if path.is_file():
        yield path
    else:
        yield from sorted(path.rglob("*.py"))


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _defs(tree: ast.Module):
    """(name, node, is_method) for every function, nested ones too.
    A class's ``__init__`` is named after the class, since that is the
    name its callers use."""
    out = []

    def walk(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                walk(child, child)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                method = cls is not None and not static
                name = cls.name if (cls is not None and child.name == "__init__") else child.name
                out.append((name, child, method))
                walk(child, None)
            else:
                walk(child, cls)

    walk(tree, None)
    return out


def _defaulted(fn: ast.FunctionDef, method: bool):
    """(param, positional index or None) for each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if method and pos and pos[0].arg in ("self", "cls") else 0
    out = []
    for i, arg in enumerate(pos[len(pos) - len(a.defaults):], len(pos) - len(a.defaults)):
        out.append((arg.arg, i - skip))
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out.append((arg.arg, None))
    return out


def _callee(call: ast.Call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def scan():
    """(defaulted parameter count, offenders): offenders are
    ``(path:line, function, parameter)`` for each defaulted parameter
    that no call passes and that is not allowlisted."""
    defs = defaultdict(list)
    for path in _py_files(LIB):
        if "plans" in path.relative_to(LIB).parts:
            continue
        for name, fn, method in _defs(_parse(path)):
            defs[name].append((path, fn, method))

    kws = defaultdict(set)       # callee -> keyword names passed
    npos = defaultdict(int)      # callee -> most positional args passed
    splat = set()                # callee -> called with *args or **kwargs
    for root in CALLER_PATHS:
        for path in _py_files(root):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                name = _callee(node)
                if name is None:
                    continue
                for k in node.keywords:
                    if k.arg is None:
                        splat.add(name)
                    else:
                        kws[name].add(k.arg)
                if any(isinstance(a, ast.Starred) for a in node.args):
                    splat.add(name)
                npos[name] = max(npos[name], len(node.args))

    total, offenders = 0, []
    for name, sites in defs.items():
        for path, fn, method in sites:
            total += len(_defaulted(fn, method))
        if len(sites) > 1 or name in splat:
            continue
        path, fn, method = sites[0]
        for param, idx in _defaulted(fn, method):
            if param in kws[name] or (idx is not None and idx < npos[name]):
                continue
            if (name, param) in ALLOWED:
                continue
            offenders.append((f"{path.relative_to(ROOT)}:{fn.lineno}", name, param))
    return total, sorted(offenders)


def test_allowlist_is_small_and_each_entry_still_exists():
    assert len(ALLOWED) <= 4
    present = set()
    for path in _py_files(LIB):
        for name, fn, method in _defs(_parse(path)):
            present.update((name, p) for p, _ in _defaulted(fn, method))
    assert set(ALLOWED) <= present, sorted(set(ALLOWED) - present)


def test_every_defaulted_parameter_is_passed_by_some_call():
    _, offenders = scan()
    assert not offenders, "defaulted parameters no call passes:\n" + "\n".join(
        f"  {where} {fn}({param})" for where, fn, param in offenders
    )


if __name__ == "__main__":
    total, offenders = scan()
    for where, fn, param in offenders:
        print(f"{where} {fn}({param})")
    print(f"defaulted parameters: {total}; passed by no call: {len(offenders)}")
