"""Streaming vector-index ingest gate (streaming/vector_gate.py): the
live foreachBatch chain ≡ the deterministic fold the oracle checks
(`vector_gate_replay`), index convergence, checkpoint-wipe replay, and
per-batch idempotence. The fold's VALUES are oracle-checked by the
driver; these tests pin the live machinery around it.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from github_etl_spark.multimodal.media import embed_text_vec
from github_etl_spark.operators.curation import web_gate_expr
from github_etl_spark.operators.similarity import (
    ivf_build_index,
    ivf_portable_seed_centroids,
)
from github_etl_spark.streaming.vector_gate import (
    make_vector_gate,
    stream_vector_gated,
    vector_fold_verdicts,
)
from github_etl_spark.tables import load_tables

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_tables(spark, SF, register=False)["documents"].select(
        "doc_id", "text"
    )


def _build_seed_index(spark, docs, index):
    """Index over the seed corpus' DERIVED vectors with the SAME
    portable centroids the fold uses — the precondition for the
    live ≡ fold pin."""
    seed = docs.where(
        (F.pmod(F.col("doc_id"), F.lit(4)) == 0)
        & web_gate_expr(F.col("text"))
    )
    sv = embed_text_vec(seed, "text", "doc_id")
    cents = ivf_portable_seed_centroids(sv, "doc_id", "vec", 8)
    ivf_build_index(
        sv, index, id_col="doc_id", vec_col="vec", centroids=cents
    )
    return cents


def _write_landing(path, batch_dfs):
    os.makedirs(path, exist_ok=True)
    for i, df in enumerate(batch_dfs):
        fp = os.path.join(path, f"ingest-{i}.json")
        with open(fp, "w") as f:
            for r in df.collect():
                f.write(
                    json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n"
                )
        os.utime(fp, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def _summary(spark, out, shift=1):
    """Published summaries as {(fold_batch, cell): n} — stream batch
    ids are 0,1,2 for fold batches 1,2,3 (landing order)."""
    return {
        (r.ingest_batch + shift, r.cell): r.n_docs
        for r in spark.read.parquet(out).collect()
    }


def _index_appends(spark, index, shift=1):
    """Appended index rows per (fold_batch, cell) — build rows
    (ingest_batch = −1) excluded."""
    df = (
        spark.read.parquet(index)
        .where(F.col("ingest_batch") >= 0)
        .groupBy("ingest_batch", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return {(r.ingest_batch + shift, r.cell): r.n for r in df.collect()}


def test_stream_matches_fold_and_index_converges(spark, tmp_path):
    """The live stream (3 JSON micro-batches) publishes exactly the
    deterministic fold's per-(batch, cell) counts; the index's
    appended partitions carry exactly the admitted rows; a checkpoint
    WIPE and full re-run converges bit-identically (every write
    republishes its own partitions)."""
    docs = _docs(spark)
    index = str(tmp_path / "vec_index")
    _build_seed_index(spark, docs, index)
    batches = [
        docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == b)
        for b in (1, 2, 3)
    ]
    land = str(tmp_path / "landing")
    _write_landing(land, batches)
    out = str(tmp_path / "summaries")
    ckpt = str(tmp_path / "ckpt")
    q = stream_vector_gated(
        spark, land, index, out, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    fold = {
        (r.ingest_batch, r.cell): r.n_docs
        for r in vector_fold_verdicts(docs).collect()
    }
    assert _summary(spark, out) == fold
    admitted = {k: v for k, v in fold.items() if k[1] != -1}
    assert _index_appends(spark, index) == admitted

    first_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    first_idx = sorted(
        map(tuple, spark.read.parquet(index).collect())
    )
    shutil.rmtree(ckpt)
    q = stream_vector_gated(
        spark, land, index, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first_out
    assert (
        sorted(map(tuple, spark.read.parquet(index).collect())) == first_idx
    )


def test_gate_replay_is_idempotent(spark, tmp_path):
    """Calling the gate twice with the same batch id republishes the
    same partitions: summary and index unchanged."""
    docs = _docs(spark)
    index = str(tmp_path / "vec_index")
    _build_seed_index(spark, docs, index)
    out = str(tmp_path / "summaries")
    gate = make_vector_gate(spark, index, out)
    batch = docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == 1)
    gate(batch, 7)
    first_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    first_idx = sorted(map(tuple, spark.read.parquet(index).collect()))
    gate(batch, 7)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first_out
    assert (
        sorted(map(tuple, spark.read.parquet(index).collect())) == first_idx
    )


def test_gate_requires_index_before_any_publish(spark, tmp_path):
    """A missing index sidecar fails BEFORE the summary write — no
    partial output may become visible (the span-gate
    validate-before-publish lesson)."""
    docs = _docs(spark)
    out = str(tmp_path / "summaries")
    gate = make_vector_gate(spark, str(tmp_path / "no_index"), out)
    with pytest.raises(FileNotFoundError):
        gate(docs.limit(5), 0)
    assert not os.path.exists(out)


def test_empty_batch_publishes_zero_row(spark, tmp_path):
    """An empty micro-batch publishes a single (−1, 0) summary row and
    touches no index partition."""
    docs = _docs(spark)
    index = str(tmp_path / "vec_index")
    _build_seed_index(spark, docs, index)
    before = spark.read.parquet(index).count()
    out = str(tmp_path / "summaries")
    gate = make_vector_gate(spark, index, out)
    gate(docs.where(F.lit(False)), 3)
    rows = spark.read.parquet(out).collect()
    assert [(r.cell, r.n_docs, r.ingest_batch) for r in rows] == [(-1, 0, 3)]
    assert spark.read.parquet(index).count() == before
