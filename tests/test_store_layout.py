"""The ingest-batch store layout has one owner, ``sinks/store.py``.

The dedup index, the span store and the IVF index share one on-disk
layout: a one-line JSON sidecar at ``<path>_meta`` or
``<path>_centroids``, and parquet partitioned by ``ingest_batch``,
appended by dynamic partition overwrite. This lint walks the AST of
every module under ``github_etl_spark/`` (no Spark) and fails when a
module other than the store module names a sidecar (a string constant
ending in ``_meta`` or ``_centroids``), or when a module outside
``sinks/`` sets ``partitionOverwriteMode``.

The Spark tests at the end pin two promises of the layout: a store
built from no documents reads as empty and takes appends, and the
vector gate reads the IVF sidecar once per micro-batch.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "github_etl_spark"
STORE = LIB / "sinks" / "store.py"
SF = "/root/testdata/sf0.001"
DOC_WITH_SPANS = 1  # a sf0.001 document with kept-line spans


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


def _documents(spark):
    from github_etl_spark.tables import load_tables

    return load_tables(spark, SF, register=False)["documents"].select(
        "doc_id", "text"
    )


def test_stores_built_from_no_documents_check_and_append(spark, tmp_path):
    """A dedup index and a span store built from an empty corpus check
    one document as new; once it is appended as batch 0, the recheck
    finds it in the store."""
    from github_etl_spark.operators.curation import (
        span_index_append,
        span_index_build,
        span_index_check,
        span_index_store,
        span_verdict_rows,
        c4_kept_lines,
        c4_spans_from,
    )
    from github_etl_spark.operators.incremental import (
        dedup_batch_rows,
        dedup_index_append,
        dedup_index_build,
        dedup_index_check,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    doc = _documents(spark).where(F.col("doc_id") == DOC_WITH_SPANS)

    dedup = str(tmp_path / "dedup_index")
    dedup_index_build(empty, dedup)
    assert [r.verdict for r in dedup_index_check(spark, dedup, doc).collect()] == ["new"]
    dedup_index_append(spark, dedup, dedup_batch_rows(spark, dedup, doc), ingest_batch=0)
    assert [r.verdict for r in dedup_index_check(spark, dedup, doc).collect()] == [
        "exact_dup"
    ]

    spans = str(tmp_path / "span_index")
    span_index_build(empty, spans)
    (first,) = span_index_check(spark, spans, doc).collect()
    assert first.n_new > 0 and first.n_dup_corpus == 0, first
    rows = span_verdict_rows(
        c4_spans_from(c4_kept_lines(doc)), span_index_store(spark, spans, None)
    )
    new_keys = rows.where(F.col("verdict") == "new").select("span_key")
    span_index_append(spark, spans, new_keys, ingest_batch=0)
    (second,) = span_index_check(spark, spans, doc).collect()
    assert second.n_new == 0 and second.n_dup_batch == 0, second
    assert second.n_dup_corpus == first.n_dup_batch + first.n_new, (first, second)


def test_vector_gate_reads_the_ivf_sidecar_once_per_batch(
    spark, tmp_path, monkeypatch
):
    from github_etl_spark.multimodal.media import embed_text_vec
    from github_etl_spark.operators import similarity
    from github_etl_spark.streaming.vector_gate import make_vector_gate

    docs = _documents(spark)
    seed = embed_text_vec(docs.where(F.col("doc_id") % 4 == 0))
    index = str(tmp_path / "ivf")
    similarity.ivf_build_index(
        seed, index, id_col="doc_id", vec_col="vec",
        centroids=similarity.ivf_portable_seed_centroids(
            seed, "doc_id", "vec", 8
        ),
    )
    reads = []
    read_sidecar = similarity.read_sidecar
    monkeypatch.setattr(
        similarity, "read_sidecar",
        lambda *a: reads.append(a) or read_sidecar(*a),
    )
    gate = make_vector_gate(spark, index, str(tmp_path / "summary"))
    gate(docs.where(F.col("doc_id") % 4 == 1), 0)
    assert len(reads) == 1
    gate(docs.where(F.col("doc_id") % 4 == 2), 1)
    assert len(reads) == 2
