"""The ingest-batch store layout has one owner, ``sinks/store.py``.

The dedup index, the span store and the IVF index share one on-disk
layout: a one-line JSON sidecar at ``<path>_meta`` or
``<path>_centroids``, and parquet partitioned by ``ingest_batch``,
appended by dynamic partition overwrite. This lint walks the AST of
every module under ``github_etl_spark/`` (no Spark) and fails when a
module other than the store module names a sidecar (a string constant
ending in ``_meta`` or ``_centroids``), or when a module outside
``sinks/`` sets ``partitionOverwriteMode``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "github_etl_spark"
STORE = LIB / "sinks" / "store.py"


def _strings(path: Path):
    """(line, value) of every string constant, f-string parts too."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.lineno, node.value


def _offenders(paths, hit) -> list[str]:
    assert paths, f"no modules found under {LIB}"
    return [
        f"{p.relative_to(ROOT)}:{line} {value!r}"
        for p in paths
        for line, value in _strings(p)
        if hit(value)
    ]


def test_only_the_store_module_names_a_sidecar():
    paths = [p for p in sorted(LIB.rglob("*.py")) if p != STORE]
    bad = _offenders(paths, lambda v: v.endswith(("_meta", "_centroids")))
    assert not bad, "sidecar named outside sinks/store.py:\n" + "\n".join(bad)


def test_only_sinks_set_partition_overwrite_mode():
    paths = [
        p for p in sorted(LIB.rglob("*.py"))
        if p.relative_to(LIB).parts[0] != "sinks"
    ]
    bad = _offenders(paths, lambda v: "partitionOverwriteMode" in v)
    assert not bad, "partitionOverwriteMode set outside sinks/:\n" + "\n".join(bad)
