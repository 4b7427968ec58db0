"""Incremental dedup index: inline-vs-materialized equality, append
semantics, crash-consistency errors (operators/incremental.py). The
inline path's VALUES are oracle-checked by the driver
(`dedup_incremental`); these tests pin the index lifecycle around it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from github_etl_spark.operators.incremental import (
    dedup_batch_rows,
    dedup_index_append,
    dedup_index_build,
    dedup_index_check,
    incremental_dedup_verdicts,
)
from github_etl_spark.tables import load_tables


def _split(spark):
    docs = load_tables(spark, "/root/testdata/sf0.001", register=False)[
        "documents"
    ]
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return corpus, batch


def test_index_check_matches_inline(spark, tmp_path):
    """The materialized index path must classify identically to the
    inline path — same stores, same joins, shared `_verdicts` core."""
    corpus, batch = _split(spark)
    inline = sorted(
        (r.doc_id, r.verdict, r.n_near)
        for r in incremental_dedup_verdicts(corpus, batch).collect()
    )
    path = str(tmp_path / "dedup_index")
    dedup_index_build(corpus, path)
    indexed = sorted(
        (r.doc_id, r.verdict, r.n_near)
        for r in dedup_index_check(spark, path, batch).collect()
    )
    assert inline == indexed
    verdicts = {v for _, v, _ in indexed}
    # The synthetic corpus contains dup families — all three classes
    # must actually occur or the test proves nothing.
    assert "new" in verdicts and ("exact_dup" in verdicts or "near_dup" in verdicts)


def test_append_survivors_then_recheck(spark, tmp_path):
    """After appending the batch's 'new' docs, rechecking the SAME
    batch finds every former-new doc exact_dup (its own fingerprint is
    now in the store) and no doc downgraded to 'new'."""
    corpus, batch = _split(spark)
    path = str(tmp_path / "dedup_index")
    dedup_index_build(corpus, path)
    first = dedup_index_check(spark, path, batch)
    new_ids = {r.doc_id for r in first.filter("verdict = 'new'").collect()}
    assert new_ids, "fixture must produce survivors"
    survivors = batch.join(
        F.broadcast(first.filter("verdict = 'new'").select("doc_id")), "doc_id"
    )
    dedup_index_append(
        spark, path, dedup_batch_rows(spark, path, survivors), ingest_batch=0
    )
    second = {r.doc_id: r.verdict for r in dedup_index_check(spark, path, batch).collect()}
    for i in new_ids:
        assert second[i] == "exact_dup", (i, second[i])
    assert "new" not in second.values()


def test_check_missing_meta_raises(spark, tmp_path):
    corpus, batch = _split(spark)
    with pytest.raises(ValueError, match="meta sidecar"):
        dedup_index_check(spark, str(tmp_path / "nowhere"), batch)


def test_build_applies_bucket_cap(spark, tmp_path):
    """A boilerplate corpus (many identical docs) must not materialize
    unbounded store buckets: the build cap keeps ≤ max_bucket_size
    members per (band, bucket)."""
    rows = [(i, "exactly the same boilerplate text repeated verbatim many times over")
            for i in range(50)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "boiler_index")
    dedup_index_build(corpus, path, max_bucket_size=8)
    sizes = (
        spark.read.parquet(f"{path}/bands")
        .groupBy("band", "bucket")
        .count()
        .agg(F.max("count"))
        .head()[0]
    )
    assert sizes <= 8, sizes
    # And a fresh identical doc is still caught despite the cap.
    batch = spark.createDataFrame(
        [(1000, rows[0][1])], "doc_id long, text string"
    )
    out = dedup_index_check(spark, path, batch).head()
    assert out.verdict == "exact_dup"


def test_short_docs_are_new_not_crash(spark, tmp_path):
    """Docs too short to shingle (and NULL text) produce no bands and
    no fingerprint match — classified 'new', present in the output."""
    corpus, _ = _split(spark)
    path = str(tmp_path / "short_index")
    dedup_index_build(corpus, path)
    batch = spark.createDataFrame(
        [(9001, "hi"), (9002, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r.verdict for r in dedup_index_check(spark, path, batch).collect()}
    assert out == {9001: "new", 9002: "new"}


def _write_docs_json(path, rows):
    import json as _json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"part-{abs(hash(str(rows))) % 10**8}.json"), "w") as f:
        for doc_id, text in rows:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_stream_dedup_gate_end_to_end(spark, tmp_path):
    """Two landing files → two micro-batches (maxFilesPerTrigger=1).
    A doc duplicated across the batches is admitted once: the second
    batch dedups against the first batch's index appends."""
    from github_etl_spark.streaming.dedup_gate import stream_dedup_gated

    corpus, _ = _split(spark)
    index = str(tmp_path / "index")
    dedup_index_build(corpus, index)
    land = str(tmp_path / "landing")
    dup_text = "a genuinely novel document about amphibious rovers crossing dunes"
    _write_docs_json(land, [(9001, dup_text), (9002, "fresh words entirely unrelated to anything beforehand xylophone")])
    _write_docs_json(land, [(9003, dup_text), (9004, "another wholly original piece regarding glacier acoustics survey")])
    out = str(tmp_path / "admitted")
    q = stream_dedup_gated(
        spark, land, index, out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(120)
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 9001 in admitted or 9003 in admitted
    assert not (9001 in admitted and 9003 in admitted), admitted
    assert {9002, 9004} <= admitted
    # The index now contains the admitted docs' fingerprints.
    re = dedup_index_check(
        spark,
        index,
        spark.createDataFrame([(9100, dup_text)], "doc_id long, text string"),
    ).head()
    assert re.verdict == "exact_dup"


def test_gate_replay_is_idempotent(spark, tmp_path):
    """Calling the gate twice with the same batch id (the foreachBatch
    at-least-once replay) leaves output and index with exactly one
    copy: the replay excludes its own index partition, so verdicts are
    unchanged and every write republishes the same partitions."""
    from github_etl_spark.streaming.dedup_gate import make_dedup_gate

    corpus, _ = _split(spark)
    index = str(tmp_path / "index")
    dedup_index_build(corpus, index)
    out = str(tmp_path / "admitted")
    gate = make_dedup_gate(spark, index, out)
    batch = spark.createDataFrame(
        [(9001, "one of a kind sentence about orbital kelp farming logistics")],
        "doc_id long, text string",
    )
    gate(batch, 7)
    first_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    first_fp = spark.read.parquet(f"{index}/fingerprints").count()
    gate(batch, 7)  # replay
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first_out
    assert spark.read.parquet(f"{index}/fingerprints").count() == first_fp
    # And a LATER batch does see batch 7's rows (exclusion is per-id).
    v = dedup_index_check(spark, index, batch, exclude_batch=8).head()
    assert v.verdict == "exact_dup"


def test_dedup_index_fold_preserves_verdicts(spark, tmp_path):
    """Folding both index stores into one fresh partition each leaves
    every verdict unchanged (membership + capped candidate screen both
    tolerate the fold) and one partition per store."""
    from github_etl_spark.operators.incremental import dedup_index_fold

    corpus, batch = _split(spark)
    path = str(tmp_path / "dedup_index")
    dedup_index_build(corpus, path)
    first = dedup_index_check(spark, path, batch)
    survivors = batch.join(
        F.broadcast(first.filter("verdict = 'new'").select("doc_id")),
        "doc_id",
    )
    dedup_index_append(
        spark, path, dedup_batch_rows(spark, path, survivors), ingest_batch=5
    )
    before = sorted(
        (r.doc_id, r.verdict, r.n_near)
        for r in dedup_index_check(spark, path, batch).collect()
    )
    assert dedup_index_fold(spark, path) == 4  # 2 stores x (-1, 5)
    after = sorted(
        (r.doc_id, r.verdict, r.n_near)
        for r in dedup_index_check(spark, path, batch).collect()
    )
    assert after == before
    for sub in ("fingerprints", "bands"):
        parts = {
            r.ingest_batch
            for r in spark.read.parquet(f"{path}/{sub}")
            .select("ingest_batch").distinct().collect()
        }
        assert parts == {-2}, (sub, parts)


def test_gate_appends_equal_the_from_text_derivation(spark, tmp_path):
    """The gate appends its survivors' slice of the batch relations it
    checked with. Those `ingest_batch=N` store rows must equal the
    fingerprints and band buckets derived afresh from the survivors'
    text with the sidecar's parameters, including a survivor too short
    to shingle (a fingerprint row, no band rows)."""
    from github_etl_spark.operators.dedup import minhash_band_buckets
    from github_etl_spark.operators.incremental import _fingerprints, _read_meta
    from github_etl_spark.streaming.dedup_gate import make_dedup_gate

    corpus, batch = _split(spark)
    index = str(tmp_path / "index")
    dedup_index_build(corpus, index)
    out = str(tmp_path / "admitted")
    short = spark.createDataFrame([(9001, "too short")], "doc_id long, text string")
    make_dedup_gate(spark, index, out)(
        batch.select("doc_id", "text").unionByName(short), 3
    )

    survivors = spark.read.parquet(out).drop("ingest_batch")
    assert 9001 in {r.doc_id for r in survivors.select("doc_id").collect()}
    meta = _read_meta(spark, index)

    def rows(df):
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))

    def appended(sub):
        return rows(
            spark.read.parquet(f"{index}/{sub}")
            .where(F.col("ingest_batch") == 3)
            .drop("ingest_batch")
        )

    fps = appended("fingerprints")
    assert fps == rows(_fingerprints(survivors))
    bands = appended("bands")
    assert bands == rows(
        minhash_band_buckets(
            survivors, meta["num_hashes"], meta["bands"], meta["shingle"]
        )
    )
    assert 9001 in {r[0] for r in fps}
    assert 9001 not in {r[2] for r in bands}  # sorted columns: band, bucket, doc, signature


@pytest.mark.parametrize("family", ["xxhash64", None])
def test_index_of_another_minhash_family_is_refused(spark, tmp_path, family):
    """An index whose sidecar names another MinHash family (the
    xxhash64 of earlier builds), or none, holds band buckets the
    current signatures never match: checking against it, directly or
    through a pretrain-gate micro-batch, raises ValueError naming
    dedup_index_build, and the gate publishes nothing."""
    import os

    from pyspark.errors import StreamingQueryException

    from github_etl_spark.operators.curation import span_index_build
    from github_etl_spark.sinks.store import META, read_sidecar, write_sidecar
    from github_etl_spark.streaming.pretrain_gate import stream_pretrain_gated

    corpus, batch = _split(spark)
    index = str(tmp_path / "index")
    dedup_index_build(corpus, index)
    span_index_build(corpus, str(tmp_path / "spans"))
    meta = read_sidecar(spark, index, META, "dedup_index_build")
    if family is None:
        del meta["hash_family"]
    else:
        meta["hash_family"] = family
    write_sidecar(spark, index, META, meta)

    with pytest.raises(ValueError, match="MinHash family.*dedup_index_build"):
        dedup_index_check(spark, index, batch)
    with pytest.raises(ValueError, match="MinHash family.*dedup_index_build"):
        dedup_batch_rows(spark, index, batch)

    land = str(tmp_path / "landing")
    _write_docs_json(land, [(9001, "a brand new document about tidal kite surveys in the fjord")])
    out = str(tmp_path / "published")
    q = stream_pretrain_gated(
        spark, land, index, str(tmp_path / "spans"), out,
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    with pytest.raises(StreamingQueryException, match="MinHash family.*dedup_index_build"):
        q.awaitTermination(120)
    q.stop()
    published = [f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    assert published == []
