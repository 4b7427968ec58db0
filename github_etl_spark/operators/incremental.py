"""Incremental dedup: check an ingest batch against a corpus index
(EXT — the 100 TB crawl-dedup shape; generalizes the reference's
existence-probe-before-load idempotency, reference main.py:573-601,
from partitions to documents).

At 100 TB you never re-dedup the whole corpus per ingest batch. The
corpus is summarized ONCE into two compact relations:

- a **fingerprint store** — one md5 set-hash per document
  (`fingerprint_expr`: casing/order/punctuation-invariant), and
- a **band-bucket store** — the MinHash LSH bucket relation
  (`minhash_band_buckets`), one row per document × band.

Each new batch is then classified against the stores with the BATCH
side broadcast: the store relations are scanned but never shuffled, so
per-ingest cost is one pass over each store plus work proportional to
the batch. Survivors append their own fingerprints/buckets, keeping
the index current without rebuilds. The batch side of both relations
is derived once (`dedup_batch_rows`): the check probes the stores with
it and the append writes the survivors' slice of it, so no batch
document is shingled or MinHashed twice.

Verdicts per batch document:

- ``exact_dup``  — fingerprint already in the corpus store;
- ``near_dup``   — shares an LSH band bucket with a corpus doc whose
  signature agreement ≥ threshold (exact-dup wins when both hold);
- ``new``        — neither (including short/empty docs that produce no
  shingles: they can't near-dup under the MinHash family, mirroring
  `minhash_signatures`).

The MinHash family (operators/dedup.py) is md5-based, so every step
is replayable in SQL and the whole batch-vs-corpus check is
oracle-verified value-for-value (`dedup_incremental` in
plans/ext.py). Skew: the probe side of both joins is the (small) batch, so a hot bucket costs store_bucket_size ×
batch_bucket_size rows — bounded by the batch; the build path
additionally applies the same deterministic `max_bucket_size` cap as
`minhash_lsh_candidates` so no store bucket is unbounded either.

Crash consistency: both stores live in the ingest-batch layout of
`sinks/store.py`. `dedup_index_build` writes the JSON meta sidecar
(hash parameters and the MinHash family's name) first and the build
rows into batch −1; `dedup_index_check`/`dedup_index_append` reuse
the sidecar, so check-time parameters cannot drift from build-time.
An index whose sidecar names another family, or none (one built
before the family had a name), holds buckets the current hashes never
match: reading its parameters raises ValueError. Every append
carries its micro-batch id and DYNAMIC-OVERWRITES exactly partition
`ingest_batch=N` of each store — replaying a crashed batch rewrites
its own store partition instead of double-appending, and
`dedup_index_check(..., exclude_batch=N)` masks the failed attempt's
rows so replayed verdicts are identical to the first attempt's
(`streaming.pipeline.stream_files`' docstring holds the full
exactly-once argument).
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint_expr
from ..session import run_concurrently
from ..sinks.store import (
    META,
    append_batch,
    batch_ids,
    fold,
    read_batches,
    read_sidecar,
    write_build,
    write_sidecar,
)
from .dedup import MINHASH_FAMILY, minhash_band_buckets, signature_agreement_expr

_DEFAULT_META = {
    "num_hashes": 32,
    "bands": 8,
    "shingle": 3,
    "hash_family": MINHASH_FAMILY,
    "max_bucket_size": 64,
}


def _fingerprints(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_id").alias("doc"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


def _verdicts(
    batch: DataFrame,
    batch_fp: DataFrame,
    batch_bands: DataFrame,
    corpus_fp: DataFrame,
    corpus_bands: DataFrame,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Shared classification core for the inline and materialized
    paths (so the two cannot diverge; the index roundtrip test asserts
    exact equality).

    Both joins broadcast the BATCH side: the corpus stores are scanned,
    never shuffled — the property that makes per-batch cost independent
    of corpus size (modulo the scan).
    """
    exact = (
        corpus_fp.select("fingerprint")
        .join(F.broadcast(batch_fp), "fingerprint")
        .select(F.col("doc"))
        .distinct()
        .withColumn("_exact", F.lit(True))
    )
    cand = (
        corpus_bands.select(
            F.col("doc").alias("corpus_doc"),
            F.col("signature").alias("sig_c"),
            "band",
            "bucket",
        )
        .join(
            F.broadcast(
                batch_bands.select(
                    F.col("doc").alias("batch_doc"),
                    F.col("signature").alias("sig_b"),
                    "band",
                    "bucket",
                )
            ),
            ["band", "bucket"],
        )
        # A pair colliding in several bands is one candidate; signatures
        # are per-doc constants, so the kept row is value-deterministic.
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    near = (
        cand.where(
            signature_agreement_expr("sig_b", "sig_c", num_hashes)
            >= F.lit(float(threshold))
        )
        .groupBy("batch_doc")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        batch.select(F.col("doc_id"))
        .join(exact, F.col("doc_id") == exact["doc"], "left")
        .join(near, F.col("doc_id") == near["batch_doc"], "left")
        .select(
            F.col("doc_id"),
            F.when(F.col("_exact"), F.lit("exact_dup"))
            .when(F.col("n_near") > 0, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
        )
    )


def incremental_dedup_verdicts(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Inline batch-vs-corpus dedup check (corpus relations computed on
    the fly). One row per batch document: (id, verdict, n_near).

    `n_near` counts distinct corpus docs that are LSH candidates with
    signature agreement ≥ threshold — reported for every doc (even
    exact dups) so the output is a pure function of the inputs.
    Corpus/batch ids are assumed disjoint (they are different tables in
    any real ingest); overlapping ids would self-match.
    """
    corpus_fp = _fingerprints(corpus)
    batch_fp = _fingerprints(batch)
    corpus_bands = minhash_band_buckets(corpus)
    batch_bands = minhash_band_buckets(batch)
    return _verdicts(
        batch, batch_fp, batch_bands, corpus_fp, corpus_bands,
        _DEFAULT_META["num_hashes"], threshold,
    )


def _capped_bands(bands_df: DataFrame, max_bucket_size: int) -> DataFrame:
    """Deterministic first-N members per (band, bucket) — the same skew
    cap `minhash_lsh_candidates` applies, so no store bucket is ever
    unbounded (a boilerplate bucket's overflow members are mutual
    near-dups of the kept ones; recall cost is negligible)."""
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("band", "bucket").orderBy("doc")
    )
    return (
        bands_df.withColumn("_rn", rn)
        .filter(F.col("_rn") <= max_bucket_size)
        .drop("_rn")
    )


def dedup_index_build(
    corpus: DataFrame,
    path: str,
    max_bucket_size: int = 64,
) -> None:
    """Materialize the dedup index: fingerprint store at
    `{path}/fingerprints`, band-bucket store at `{path}/bands`, hash
    parameters at `{path}_meta` (one-line JSON via the Spark text
    writer — works on any supported filesystem).

    The meta sidecar is written FIRST (`sinks.store.write_sidecar`):
    a crash mid-build leaves stores that `dedup_index_check` reads with
    the right parameters (possibly incomplete — rebuild), never stores
    silently probed with the wrong hash family.
    """
    meta = {**_DEFAULT_META, "max_bucket_size": max_bucket_size}
    write_sidecar(corpus.sparkSession, path, META, meta)
    write_build(_fingerprints(corpus), f"{path}/fingerprints")
    bands_df = minhash_band_buckets(corpus)
    write_build(_capped_bands(bands_df, max_bucket_size), f"{path}/bands")


def _read_meta(spark: SparkSession, path: str) -> dict:
    """The index's hash parameters; raises ValueError naming
    `dedup_index_build` when the sidecar records another MinHash family
    than the one this code hashes with, or none."""
    meta = read_sidecar(spark, path, META, "dedup_index_build")
    family = meta.get("hash_family")
    if family != MINHASH_FAMILY:
        raise ValueError(
            f"dedup index at {path!r} was built with MinHash family "
            f"{family!r}, not {MINHASH_FAMILY!r}: its band buckets cannot "
            "match this code's signatures. Rebuild it with dedup_index_build."
        )
    return {**_DEFAULT_META, **meta}


class BatchRows(NamedTuple):
    """One batch's side of a dedup index, under the index's hash
    parameters (``meta``): ``fingerprints`` (doc, fingerprint) and
    ``bands`` (doc, signature, band, bucket; one row per document ×
    band).
    `dedup_index_check` probes the stores with them and
    `dedup_index_append` writes them, so a gate derives them once per
    batch."""

    meta: dict
    fingerprints: DataFrame
    bands: DataFrame

    def map(self, fn) -> BatchRows:
        """Both relations passed through ``fn`` (e.g. a persist)."""
        return self._replace(
            fingerprints=fn(self.fingerprints), bands=fn(self.bands)
        )

    def of(self, ids: DataFrame) -> BatchRows:
        """The rows of the documents in ``ids`` (a ``doc_id`` frame): a
        left-semi join with the ids broadcast."""
        keep = F.broadcast(ids.select(F.col("doc_id").alias("doc")))
        return self.map(lambda df: df.join(keep, "doc", "left_semi"))


def dedup_batch_rows(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
) -> BatchRows:
    """Read the index's meta sidecar (raising
    `sinks.store.StoreMissing`, a ValueError, when the index is missing
    or incomplete) and derive ``batch``'s fingerprint and band
    relations with its parameters. Both relations are lazy."""
    meta = _read_meta(spark, path)
    return BatchRows(
        meta,
        _fingerprints(batch),
        minhash_band_buckets(
            batch, meta["num_hashes"], meta["bands"], meta["shingle"]
        ),
    )


def dedup_index_check(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    exclude_batch: int | None = None,
    rows: BatchRows | None = None,
) -> DataFrame:
    """Classify a batch against a materialized index. Hash parameters
    come from the index's meta sidecar — check-time code cannot drift
    from build-time bucketing. ``rows`` are the batch's relations from
    `dedup_batch_rows` when the caller already derived them (to append
    the survivors' slice afterwards); otherwise they are derived here.

    `exclude_batch` masks store rows from one `ingest_batch` partition
    (a partition-pruned filter, not a scan): a replayed streaming batch
    excludes its OWN id so a prior crashed attempt's half-published
    rows can't flip its verdicts (`streaming.pipeline.stream_files`).
    """
    if rows is None:
        rows = dedup_batch_rows(spark, path, batch)
    return _verdicts(
        batch, rows.fingerprints, rows.bands,
        read_batches(spark, f"{path}/fingerprints", exclude_batch),
        read_batches(spark, f"{path}/bands", exclude_batch),
        rows.meta["num_hashes"], 0.5,
    )


def dedup_index_append(
    spark: SparkSession,
    path: str,
    rows: BatchRows,
    ingest_batch: int,
) -> None:
    """Append surviving (verdict == 'new') documents' ``rows`` — their
    slice of the checked batch's `BatchRows` (``rows.of(new_ids)``) —
    to both stores so the next batch dedups against them. The two
    store writes are independent and run concurrently; both finish
    before this returns, and the first failure (fingerprints before
    bands) is then raised.

    Each write DYNAMIC-OVERWRITES exactly the `ingest_batch=N`
    partition of its store (`sinks.store.append_batch`) — a replayed
    streaming batch republishes its own partition instead of
    double-appending (idempotent under foreachBatch's at-least-once
    delivery). Negative ids are reserved for the build and folds
    (ValueError). The append is NOT re-capped: a cap is a per-build
    bound; appended buckets stay bounded because survivors are, by
    definition, not near-dups of existing members.
    """
    run_concurrently(
        [
            functools.partial(
                append_batch, rows.fingerprints, f"{path}/fingerprints",
                ingest_batch,
            ),
            functools.partial(
                append_batch, rows.bands, f"{path}/bands", ingest_batch
            ),
        ],
        2,
    )


def dedup_index_fold(spark: SparkSession, path: str) -> int:
    """Fold BOTH dedup-index stores' per-ingest partitions into one
    fresh partition each (`sinks.store.fold` — write-first crash-safe
    ordering; every intermediate state is a duplicated superset, which
    the membership probe and the capped band-bucket candidate screen
    both tolerate: duplicates add candidate pairs that dropDuplicates
    collapses). The two stores fold to the SAME fresh id so their
    partition layouts stay aligned: when either store has partitions
    to consolidate, both fold, even one that ingested a single batch.
    Returns the total partitions folded. Run on a QUIESCED stream only
    — folding erases batch identity, so `exclude_batch` replay masking
    no longer sees a replayed batch's rows. Verdicts are invariant
    under folding — pinned in tests/test_incremental.py."""
    _read_meta(spark, path)  # store must exist with valid params
    tables = [f"{path}/fingerprints", f"{path}/bands"]
    if max(len(batch_ids(t)) for t in tables) <= 1:
        return 0
    return fold(spark, *tables)
