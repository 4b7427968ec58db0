"""Every parameter of the library is a choice some caller makes.

A parameter with a default that no call in the tree ever passes is a
configuration that no test or benchmark covers: the branch it selects
is dead weight. A required column-name parameter (``*_col``) that every
call fills with the same string literal is the same waste the other way
round: the operator serves one schema, and each call site restates it.
This lint walks the AST (no Spark), collects the parameters of every
function under ``github_etl_spark/`` (outside ``plans/``, whose oracle
queries are reference code), and every call under the library,
``perfbench/``, ``tools/``, ``tests/``, ``bench.py`` and
``__spark_entry__.py``. A call passes a parameter by keyword or by
position (methods offset by ``self``/``cls``); a call through an import
alias (``from m import f as g``) is a call to ``f``, and
``functools.partial(f, a, k=v)`` is the call ``f(a, k=v)``. Names
defined more than once, and names some call reaches through
``*args``/``**kwargs``, are skipped: a call cannot be tied to one
definition by name alone, nor a splatted argument to one parameter.

Run ``python tests/test_options_in_use.py`` to print the counts and
the offenders of both scans.
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


def _params(fn: ast.FunctionDef, method: bool):
    """(param, positional index or None, has a default) for each
    parameter but ``*args``/``**kwargs``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if method and pos and pos[0].arg in ("self", "cls") else 0
    first_default = len(pos) - len(a.defaults)
    out = [(arg.arg, i - skip, i >= first_default) for i, arg in enumerate(pos)]
    out += [(arg.arg, None, d is not None) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
    return out


def _defaulted(fn: ast.FunctionDef, method: bool):
    """(param, positional index or None) for each defaulted parameter."""
    return [(p, i) for p, i, default in _params(fn, method) if default]


def _required_cols(fn: ast.FunctionDef, method: bool):
    """(param, positional index or None) for each parameter without a
    default whose name ends in ``_col``."""
    return [
        (p, i) for p, i, default in _params(fn, method)
        if not default and p.endswith("_col")
    ]


def _callee(call: ast.Call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _library_defs():
    """function name -> [(path, def node, is_method)], outside plans/."""
    defs = defaultdict(list)
    for path in _py_files(LIB):
        if "plans" in path.relative_to(LIB).parts:
            continue
        for name, fn, method in _defs(_parse(path)):
            defs[name].append((path, fn, method))
    return defs


def _partial_target(call: ast.Call):
    """For ``functools.partial(f, a, k=v)`` or ``partial(f, ...)``, the
    call it stands for: ``f(a, k=v)``; otherwise ``call`` itself."""
    if _callee(call) != "partial" or not call.args:
        return call
    return ast.Call(func=call.args[0], args=call.args[1:], keywords=call.keywords)


def _calls(sources=None):
    """(callee name -> [call nodes], callee names some call splats),
    over the caller paths, or over ``sources`` (source strings) when
    given. A ``partial`` counts as a call to the function it wraps."""
    if sources is None:
        trees = [_parse(path) for root in CALLER_PATHS for path in _py_files(root)]
    else:
        trees = [ast.parse(src) for src in sources]
    calls = defaultdict(list)
    splat = set()
    for tree in trees:
        aliases = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            node = _partial_target(node)
            name = _callee(node)
            if name is None:
                continue
            name = aliases.get(name, name)
            calls[name].append(node)
            if any(k.arg is None for k in node.keywords) or any(
                isinstance(a, ast.Starred) for a in node.args
            ):
                splat.add(name)
    return calls, splat


def _passed(call: ast.Call, param: str, idx):
    """The argument node ``call`` passes for ``param``, or None."""
    for k in call.keywords:
        if k.arg == param:
            return k.value
    if idx is not None and idx < len(call.args):
        return call.args[idx]
    return None


def _single_defs(defs, splat):
    """(name, path, def node, is_method) for each name defined once and
    never called through ``*args``/``**kwargs``."""
    for name, sites in defs.items():
        if len(sites) == 1 and name not in splat:
            yield (name, *sites[0])


def scan():
    """(defaulted parameter count, offenders): offenders are
    ``(path:line, function, parameter)`` for each defaulted parameter
    that no call passes and that is not allowlisted."""
    defs = _library_defs()
    calls, splat = _calls()
    total = sum(
        len(_defaulted(fn, method))
        for sites in defs.values()
        for _, fn, method in sites
    )
    offenders = []
    for name, path, fn, method in _single_defs(defs, splat):
        for param, idx in _defaulted(fn, method):
            if any(_passed(c, param, idx) is not None for c in calls[name]):
                continue
            if (name, param) in ALLOWED:
                continue
            offenders.append((f"{path.relative_to(ROOT)}:{fn.lineno}", name, param))
    return total, sorted(offenders)


def scan_required_cols():
    """(required ``*_col`` parameter count, offenders): offenders are
    ``(path:line, function, parameter, literal)`` for each required
    column-name parameter that some call passes and every call passes
    as the same string literal."""
    defs = _library_defs()
    calls, splat = _calls()
    total = sum(
        len(_required_cols(fn, method))
        for sites in defs.values()
        for _, fn, method in sites
    )
    offenders = []
    for name, path, fn, method in _single_defs(defs, splat):
        for param, idx in _required_cols(fn, method):
            values = {
                v.value if isinstance(v, ast.Constant) and isinstance(v.value, str)
                else None
                for v in (_passed(c, param, idx) for c in calls[name])
            }
            if len(values) == 1 and None not in values:
                offenders.append(
                    (f"{path.relative_to(ROOT)}:{fn.lineno}", name, param, values.pop())
                )
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


def test_partial_counts_as_a_call_to_the_wrapped_function():
    calls, splat = _calls([
        "import functools\n"
        "from functools import partial\n"
        "functools.partial(append, rows, 'fp', ingest_batch=3)\n"
        "partial(m.fold, spark, 'bands')\n"
        "partial(splatted, *args)\n"
    ])
    (append,) = calls["append"]
    assert _passed(append, "ingest_batch", None).value == 3
    assert _passed(append, "table", 1).value == "fp"
    (fold,) = calls["fold"]
    assert _passed(fold, "table", 1).value == "bands"
    assert _passed(fold, "batch", 2) is None
    assert "splatted" in splat


def test_no_column_name_parameter_is_the_same_literal_at_every_call():
    _, offenders = scan_required_cols()
    assert not offenders, (
        "required column-name parameters every call fills with one literal:\n"
        + "\n".join(f"  {where} {fn}({param}={lit!r})" for where, fn, param, lit in offenders)
    )


if __name__ == "__main__":
    total, offenders = scan()
    for where, fn, param in offenders:
        print(f"{where} {fn}({param})")
    print(f"defaulted parameters: {total}; passed by no call: {len(offenders)}")
    total, offenders = scan_required_cols()
    for where, fn, param, lit in offenders:
        print(f"{where} {fn}({param}={lit!r})")
    print(
        f"required *_col parameters: {total}; "
        f"the same literal at every call: {len(offenders)}"
    )
