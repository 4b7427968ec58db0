"""Materialized span store: inline-vs-materialized equality, append
semantics, crash-consistency errors, and the streaming span gate
(operators/curation.span_index_*, streaming/span_gate.py). The inline
path's VALUES are oracle-checked by the driver
(`span_dedup_incremental`); these tests pin the store lifecycle around
it — the same treatment tests/test_incremental.py gives the document-
level dedup index.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from github_etl_spark.operators.curation import (
    span_incremental_verdicts,
    span_index_append,
    span_index_build,
    span_index_check,
    span_verdict_rows,
    c4_kept_lines,
    c4_spans_from,
)
from github_etl_spark.tables import load_tables


def _split(spark):
    docs = load_tables(spark, "/root/testdata/sf0.001", register=False)[
        "documents"
    ]
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return corpus, batch


def _rows(df):
    return sorted(
        (r.doc_id, r.n_kept, r.keep_doc, r.n_dup_corpus, r.n_dup_batch, r.n_new)
        for r in df.collect()
    )


def test_span_index_check_matches_inline(spark, tmp_path):
    """The materialized store path must classify identically to the
    inline path — shared span_verdict_rows core, same store contents."""
    corpus, batch = _split(spark)
    inline = _rows(span_incremental_verdicts(corpus, batch))
    path = str(tmp_path / "span_index")
    span_index_build(corpus, path)
    indexed = _rows(span_index_check(spark, path, batch))
    assert inline == indexed
    # The fixture must actually exercise the classes or the test
    # proves nothing.
    assert sum(r[3] for r in indexed) > 0, "no dup_corpus spans in fixture"
    assert sum(r[5] for r in indexed) > 0, "no new spans in fixture"


def test_span_append_then_recheck(spark, tmp_path):
    """After appending the batch's new span keys, rechecking the SAME
    batch finds every span in the store: n_new and n_dup_batch drop to
    zero and n_dup_corpus absorbs them (totals per doc unchanged)."""
    corpus, batch = _split(spark)
    path = str(tmp_path / "span_index")
    span_index_build(corpus, path)
    bspans = c4_spans_from(c4_kept_lines(batch))
    store = spark.read.parquet(f"{path}/spans").select("span_key")
    rows = span_verdict_rows(bspans, store)
    new_keys = rows.where(F.col("verdict") == "new").select("span_key")
    n_new_total = new_keys.count()
    assert n_new_total > 0
    first = _rows(span_index_check(spark, path, batch))
    span_index_append(spark, path, new_keys, ingest_batch=0)
    second = _rows(span_index_check(spark, path, batch))
    by_id_first = {r[0]: r for r in first}
    for r in second:
        f = by_id_first[r[0]]
        assert r[4] == 0 and r[5] == 0, r  # n_dup_batch, n_new
        assert r[3] == f[3] + f[4] + f[5], (r, f)  # absorbed
        assert r[1] == f[1] and r[2] == f[2]  # stats unchanged
    # Append landed in its own partition (0), beside the build rows.
    store_n = spark.read.parquet(f"{path}/spans")
    assert store_n.where("ingest_batch = 0").count() == n_new_total


def test_span_check_missing_meta_raises(spark, tmp_path):
    _, batch = _split(spark)
    with pytest.raises(ValueError, match="meta sidecar"):
        span_index_check(spark, str(tmp_path / "nowhere"), batch)


def test_span_meta_keying_drift_raises(spark, tmp_path):
    """A store built under different keying constants must refuse to
    be probed — wrong-keyed membership would silently classify every
    span 'new'."""
    import json

    corpus, batch = _split(spark)
    path = str(tmp_path / "span_index")
    span_index_build(corpus, path)
    # Simulate a store built by an older code version.
    meta_dir = path + "_meta"
    import glob
    import os

    (meta_file,) = glob.glob(os.path.join(meta_dir, "part-*"))
    meta = json.loads(open(meta_file).read())
    meta["span_lines"] = meta["span_lines"] + 1
    open(meta_file, "w").write(json.dumps(meta) + "\n")
    # Drop the Hadoop checksum sidecar invalidated by the rewrite.
    crc = os.path.join(meta_dir, "." + os.path.basename(meta_file) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="Rebuild"):
        span_index_check(spark, path, batch)


def _doc_text(seed: str, n_words: int = 120) -> str:
    """n_words distinct words → ~20 derived lines → plenty of kept
    lines and spans, unique to `seed`."""
    return " ".join(f"{seed}tok{i:03d}" for i in range(n_words))


def _write_docs_json(path, rows):
    import json as _json
    import os

    os.makedirs(path, exist_ok=True)
    name = f"part-{abs(hash(str(rows))) % 10**8}.json"
    with open(os.path.join(path, name), "w") as f:
        for doc_id, text in rows:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_stream_span_gate_end_to_end(spark, tmp_path):
    """Two landing files → two micro-batches (maxFilesPerTrigger=1).
    A document repeated across the batches contributes its spans once:
    the second batch classifies them dup_corpus against the first
    batch's store append."""
    from github_etl_spark.streaming.span_gate import stream_span_gated

    corpus, _ = _split(spark)
    store = str(tmp_path / "span_store")
    span_index_build(corpus, store)
    land = str(tmp_path / "landing")
    dup = _doc_text("dup")
    _write_docs_json(land, [(9001, dup), (9002, _doc_text("fresh"))])
    _write_docs_json(land, [(9003, dup), (9004, _doc_text("other"))])
    out = str(tmp_path / "verdicts")
    q = stream_span_gated(
        spark, land, store, out, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    res = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(res) == {9001, 9002, 9003, 9004}
    first, second = sorted([res[9001], res[9003]], key=lambda r: r.ingest_batch)
    # First arrival of the dup text is new; the repeat is all dup_corpus.
    assert first.n_new > 0 and first.n_dup_corpus == 0
    assert second.n_new == 0 and second.n_dup_corpus == first.n_new
    # A later probe of the same text sees everything in the store.
    re = span_index_check(
        spark, store,
        spark.createDataFrame([(9100, dup)], "doc_id long, text string"),
    ).head()
    assert re.n_new == 0 and re.n_dup_corpus > 0


def test_span_gate_replay_is_idempotent(spark, tmp_path):
    """Calling the gate twice with the same batch id (the foreachBatch
    at-least-once replay) leaves output and store with exactly one
    copy: the replay excludes its own store partition, so verdicts are
    unchanged and every write republishes the same partitions."""
    from github_etl_spark.streaming.span_gate import make_span_gate

    corpus, _ = _split(spark)
    store = str(tmp_path / "span_store")
    span_index_build(corpus, store)
    out = str(tmp_path / "verdicts")
    gate = make_span_gate(spark, store, out)
    batch = spark.createDataFrame(
        [(9001, _doc_text("solo"))], "doc_id long, text string"
    )
    gate(batch, 7)
    first_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    first_n = spark.read.parquet(f"{store}/spans").count()
    assert first_out[0][5] > 0  # n_new on first pass
    gate(batch, 7)  # replay
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first_out
    assert spark.read.parquet(f"{store}/spans").count() == first_n
    # A LATER batch does see batch 7's spans (exclusion is per-id).
    v = span_index_check(spark, store, batch, exclude_batch=8).head()
    assert v.n_new == 0 and v.n_dup_corpus > 0


def test_span_check_exclude_batch_is_partition_pruned(spark, tmp_path):
    """The replay mask (`exclude_batch=N`) must reach the store scan
    as a PartitionFilter — a post-scan Filter would read every batch's
    files on a store with thousands of ingest partitions. Asserted on
    the LAZY store probe (the check itself checkpoints the hit set, so
    the store scan runs inside the checkpoint-time job and is absent
    from the final plan)."""
    import re

    from github_etl_spark.operators.curation import (
        span_index_store,
        span_store_hits,
    )

    corpus, batch = _split(spark)
    store = str(tmp_path / "span_store")
    span_index_build(corpus, store)
    bkeys = (
        c4_spans_from(c4_kept_lines(batch))
        .select("span_key")
        .distinct()
    )
    plan = (
        span_store_hits(span_index_store(spark, store, exclude_batch=3), bkeys)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # (The scan line's Location path is elided in toString, so match
    # on the partition column rather than the store's path.)
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "ingest_batch" in ln
    ]
    assert scans, plan[:1500]
    for ln in scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", ln)
        assert m and "ingest_batch" in m.group(1), ln
        assert "= 3" in m.group(1), ln


def test_span_index_fold_preserves_verdicts(spark, tmp_path):
    """Folding the store's per-ingest partitions into one fresh
    partition must not change any verdict (set semantics), must leave
    exactly ONE partition, and a re-run after a simulated crash
    (leftover source partition = duplicated superset) converges."""
    import os
    import shutil

    from github_etl_spark.operators.curation import span_index_fold
    from github_etl_spark.streaming.span_gate import make_span_gate

    corpus, batch = _split(spark)
    store = str(tmp_path / "span_store")
    span_index_build(corpus, store)
    out = str(tmp_path / "verdicts")
    gate = make_span_gate(spark, store, out)
    for b, seed in [(0, "alpha"), (1, "beta")]:
        gate(
            spark.createDataFrame(
                [(9000 + b, _doc_text(seed))], "doc_id long, text string"
            ),
            b,
        )
    before = _rows(span_index_check(spark, store, batch))
    # Simulate the crash window: copy one source partition aside so it
    # can be restored as a leftover AFTER the fold's deletes ran.
    src_dir = os.path.join(store, "spans", "ingest_batch=0")
    saved = str(tmp_path / "saved_part")
    shutil.copytree(src_dir, saved)
    n = span_index_fold(spark, store)
    assert n == 3  # build(-1) + two gate batches
    assert _rows(span_index_check(spark, store, batch)) == before
    parts = {
        r.ingest_batch
        for r in spark.read.parquet(f"{store}/spans")
        .select("ingest_batch").distinct().collect()
    }
    assert parts == {-2}  # min(-1,0,1) - 1
    # Crash leftover: restore the old partition → duplicated superset;
    # verdicts unchanged, and a re-run folds back to one partition.
    shutil.copytree(saved, src_dir)
    assert _rows(span_index_check(spark, store, batch)) == before
    assert span_index_fold(spark, store) == 2
    assert _rows(span_index_check(spark, store, batch)) == before


def test_fold_partitions_refuses_live_target(spark, tmp_path):
    from github_etl_spark.operators.curation import span_index_build
    from github_etl_spark.sinks.compact import fold_partitions

    corpus, _ = _split(spark)
    store = str(tmp_path / "span_store")
    span_index_build(corpus, store)
    with pytest.raises(ValueError, match="crash-safe"):
        fold_partitions(spark, f"{store}/spans", into_value=-1)
