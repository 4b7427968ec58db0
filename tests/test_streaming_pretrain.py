"""Streaming pretraining composite (streaming/pretrain_gate.py): the
live foreachBatch chain ≡ the deterministic fold the oracle checks
(`pretrain_gate_replay`), store convergence with the direct batch
fold, checkpoint-wipe replay, per-batch idempotence, and the publish
order and failure handling of the concurrent store appends. The fold's
VALUES are oracle-checked by the driver; these tests pin the live
machinery around it.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from github_etl_spark.operators.curation import span_index_build
from github_etl_spark.operators.incremental import dedup_index_build
from github_etl_spark.streaming import pretrain_gate
from github_etl_spark.streaming.pipeline import _persisting
from github_etl_spark.streaming.pretrain_gate import (
    make_pretrain_gate,
    pretrain_fold_verdicts,
    stream_pretrain_gated,
)
from github_etl_spark.tables import load_tables

SF = "/root/testdata/sf0.001"


def _doc_batches(spark):
    """seed frame + the three ingest batches, doc_id % 4 — the same
    split as the oracle-checked `pretrain_gate_replay` row."""
    docs = load_tables(spark, SF, register=False)["documents"].select(
        "doc_id", "text"
    )
    seed = docs.where(F.col("doc_id") % 4 == 3)
    batches = [
        (tag, docs.where(F.col("doc_id") % 4 == i))
        for i, tag in enumerate(("A", "B", "C"))
    ]
    return seed, batches


def _write_landing(path, batch_dfs):
    """One JSON file per ingest batch, strictly increasing mtimes so
    the file stream's batch order is the list order."""
    os.makedirs(path, exist_ok=True)
    for i, df in enumerate(batch_dfs):
        fp = os.path.join(path, f"ingest-{i}.json")
        with open(fp, "w") as f:
            for r in df.collect():
                f.write(
                    json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n"
                )
        os.utime(fp, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def _store_state(spark, index, span_store):
    """Every row of all three store tables (partition column included)
    as sorted tuples — the bit-identical comparison unit."""
    state = {}
    for name, p in (
        ("fingerprints", f"{index}/fingerprints"),
        ("bands", f"{index}/bands"),
        ("spans", f"{span_store}/spans"),
    ):
        df = spark.read.parquet(p)
        state[name] = sorted(
            map(tuple, df.select(*sorted(df.columns)).collect())
        )
    return state


def _build_stores(seed, index, span_store):
    dedup_index_build(seed, index)
    span_index_build(seed, span_store)


def test_stream_matches_fold_and_batch_composite(spark, tmp_path):
    """The live stream (3 JSON micro-batches through one foreachBatch
    chain) publishes exactly the deterministic fold's verdicts, and
    leaves both membership stores bit-identical to running the gate
    body directly as a batch composite — then a checkpoint WIPE and
    full re-run converges to the same output and stores (every write
    republishes its own partition, every check masks it)."""
    seed, batches = _doc_batches(spark)
    index = str(tmp_path / "fp_index")
    span_store = str(tmp_path / "span_store")
    _build_stores(seed, index, span_store)

    land = str(tmp_path / "landing")
    _write_landing(land, [df for _, df in batches])
    out = str(tmp_path / "published")
    ckpt = str(tmp_path / "ckpt")
    q = stream_pretrain_gated(
        spark, land, index, span_store, out, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    tag_expr = F.create_map(
        F.lit(0), F.lit("A"), F.lit(1), F.lit("B"), F.lit(2), F.lit("C")
    )

    def read_out(path):
        return sorted(
            map(
                tuple,
                spark.read.parquet(path)
                .withColumn("ingest", tag_expr[F.col("ingest_batch")])
                .select(
                    "ingest", "doc_id", "passed_gate", "verdict", "n_near",
                    "n_kept", "keep_doc", "n_dup_corpus", "n_dup_batch",
                    "n_new",
                )
                .collect(),
            )
        )

    got = read_out(out)
    want = sorted(
        map(tuple, pretrain_fold_verdicts(seed, batches).collect())
    )
    assert got == want

    stream_state = _store_state(spark, index, span_store)

    # Direct batch fold (the batch composite): same gate body, same
    # batch ids, fresh stores — stores must end bit-identical.
    index2 = str(tmp_path / "fp_index2")
    span2 = str(tmp_path / "span_store2")
    _build_stores(seed, index2, span2)
    out2 = str(tmp_path / "published2")
    gate = make_pretrain_gate(spark, index2, span2, out2)
    for i, (_, df) in enumerate(batches):
        gate(df, i)
    assert _store_state(spark, index2, span2) == stream_state
    assert read_out(out2) == got

    # Checkpoint wipe: the stream restarts from batch 0 over the same
    # landing files against the ALREADY-POPULATED stores; own-partition
    # masking + partition republish converge to the identical state.
    shutil.rmtree(ckpt)
    q = stream_pretrain_gated(
        spark, land, index, span_store, out, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    assert _store_state(spark, index, span_store) == stream_state
    assert read_out(out) == got


def test_pretrain_gate_idempotent_replay(spark, tmp_path):
    """Calling the gate twice with the same batch id (foreachBatch's
    at-least-once delivery) republishes identical output and store
    partitions — including when the first attempt half-published the
    store appends (the crashed-attempt mask: the replay's checks
    exclude the batch's own partitions, so its verdicts can't be
    flipped by its own leftovers)."""
    seed, batches = _doc_batches(spark)
    index = str(tmp_path / "fp_index")
    span_store = str(tmp_path / "span_store")
    _build_stores(seed, index, span_store)
    out = str(tmp_path / "published")
    gate = make_pretrain_gate(spark, index, span_store, out)

    _, b0 = batches[0]
    gate(b0, 0)
    first = sorted(map(tuple, spark.read.parquet(out).collect()))
    state = _store_state(spark, index, span_store)
    gate(b0, 0)  # replay after a "crash" post-publish
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first
    assert _store_state(spark, index, span_store) == state


def _batch_partitions(index, span_store, batch_id):
    """The store tables that hold an ``ingest_batch=<batch_id>``
    partition directory."""
    return {
        name
        for name, table in (
            ("fingerprints", f"{index}/fingerprints"),
            ("bands", f"{index}/bands"),
            ("spans", f"{span_store}/spans"),
        )
        if os.path.isdir(os.path.join(table, f"ingest_batch={batch_id}"))
    }


def test_failed_output_publish_lands_no_store_partition(spark, tmp_path):
    """The output table is published before the concurrent store
    appends start: when that publish fails, no store holds a partition
    of the batch."""
    seed, batches = _doc_batches(spark)
    index = str(tmp_path / "fp_index")
    span_store = str(tmp_path / "span_store")
    _build_stores(seed, index, span_store)
    # A regular file where the output table belongs fails its write.
    blocked = str(tmp_path / "blocked")
    open(blocked, "w").close()
    gate = make_pretrain_gate(spark, index, span_store, blocked)
    with pytest.raises(Py4JJavaError):
        _persisting(gate)(batches[0][1], 4)
    assert _batch_partitions(index, span_store, 4) == set()


def test_failing_span_append_still_lands_the_index_appends(
    spark, tmp_path, monkeypatch
):
    """A failing span-key append does not stop the concurrent index
    appends: the batch's fingerprint and band partitions land, the
    span append's error is raised, and every persisted frame is
    released."""
    class SpanAppendFailed(RuntimeError):
        pass

    def failing_append(*args, **kwargs):
        raise SpanAppendFailed("span store unavailable")

    monkeypatch.setattr(pretrain_gate, "span_index_append", failing_append)
    seed, batches = _doc_batches(spark)
    index = str(tmp_path / "fp_index")
    span_store = str(tmp_path / "span_store")
    _build_stores(seed, index, span_store)
    out = str(tmp_path / "published")
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    gate = make_pretrain_gate(spark, index, span_store, out)
    with pytest.raises(SpanAppendFailed):
        _persisting(gate)(batches[0][1], 4)
    assert _batch_partitions(index, span_store, 4) == {"fingerprints", "bands"}
    assert spark.read.parquet(out).where("ingest_batch = 4").count() > 0
    assert cm.isEmpty(), "a failed span append leaked a CacheManager entry"
