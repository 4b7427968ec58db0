"""JSONL corpus ingestion (sources/corpus.py): explicit-schema reads,
quarantined malformed lines with provenance, transparent .gz decode."""

from __future__ import annotations

import gzip
import json

from github_etl_spark.sources.corpus import read_jsonl_corpus

SCHEMA = "doc_id bigint, text string, lang string"


def _write(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _doc(i, text="hello world", lang="en"):
    return json.dumps({"doc_id": i, "text": text, "lang": lang})


def test_reads_conforming_docs_with_provenance(spark, tmp_path):
    _write(tmp_path / "a.jsonl", [_doc(1), _doc(2)])
    _write(tmp_path / "b.jsonl", [_doc(3, lang="de")])
    docs, bad = read_jsonl_corpus(spark, str(tmp_path), SCHEMA)
    rows = {r.doc_id: r for r in docs.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3].lang == "de"
    assert rows[1].source_file.endswith("a.jsonl")
    assert bad.count() == 0


def test_quarantines_malformed_lines(spark, tmp_path):
    _write(
        tmp_path / "mixed.jsonl",
        [_doc(1), "{broken", _doc(2), '{"doc_id": "NaN-ish"}', "", "   "],
    )
    docs, bad = read_jsonl_corpus(spark, str(tmp_path), SCHEMA)
    assert sorted(r.doc_id for r in docs.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 2  # blank lines dropped, not quarantined
    assert all(r.source_file.endswith("mixed.jsonl") for r in bad_rows)
    assert {r.line for r in bad_rows} == {"{broken", '{"doc_id": "NaN-ish"}'}


def test_gzip_files_decode_transparently(spark, tmp_path):
    payload = "\n".join([_doc(10), _doc(11)]) + "\n"
    with gzip.open(tmp_path / "c.jsonl.gz", "wt") as f:
        f.write(payload)
    docs, bad = read_jsonl_corpus(spark, str(tmp_path), SCHEMA)
    assert sorted(r.doc_id for r in docs.collect()) == [10, 11]
    assert bad.count() == 0


def test_no_rows_lost(spark, tmp_path):
    lines = [_doc(i) for i in range(20)] + ["oops"] * 3
    _write(tmp_path / "d.jsonl", lines)
    docs, bad = read_jsonl_corpus(spark, str(tmp_path), SCHEMA)
    assert docs.count() + bad.count() == len(lines)


def test_corpus_to_training_pipeline_end_to_end(spark, tmp_path):
    """Raw JSONL (with junk lines) → quarantine → dedup → split →
    partitioned parquet: the new ingest front door composed with the
    existing training-pipeline operators."""
    from pyspark.sql import functions as F

    from github_etl_spark.operators.dedup import exact_dedup
    from github_etl_spark.operators.pipeline import hash_split

    lines = (
        [_doc(i, text=f"document number {i}") for i in range(30)]
        + [_doc(100 + i, text="duplicated body") for i in range(5)]
        + ["not json at all", '{"doc_id": {}}']
    )
    _write(tmp_path / "crawl.jsonl", lines)
    docs, bad = read_jsonl_corpus(spark, str(tmp_path), SCHEMA)
    assert bad.count() == 2

    keepers = exact_dedup(docs, ["text"])
    assert keepers.count() == 31  # 30 uniques + 1 keeper of the 5 dups
    # deterministic keeper: smallest doc_id of the duplicate group
    grp = keepers.where(F.col("text") == "duplicated body").head()
    assert (grp.keep_id, grp.n_dupes) == (100, 5)
    deduped = docs.join(
        keepers.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )

    split = hash_split(deduped, "doc_id")
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 31 and counts.get("train", 0) > 0

    out = str(tmp_path / "landed")
    split.write.partitionBy("split").mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == 31


def test_bzip2_files_decode_transparently(spark, tmp_path):
    """bzip2 is the SPLITTABLE compressed-text codec Hadoop ships
    (unlike .gz, a large .bz2 file fans out to many tasks) — the
    docstring's recommended landing codec must actually decode through
    the same front door, quarantine included."""
    import bz2

    payload = "\n".join([_doc(20), _doc(21), "{broken"]) + "\n"
    (tmp_path / "c.jsonl.bz2").write_bytes(bz2.compress(payload.encode()))
    docs, bad = read_jsonl_corpus(spark, str(tmp_path), SCHEMA)
    assert sorted(r.doc_id for r in docs.collect()) == [20, 21]
    assert bad.count() == 1
