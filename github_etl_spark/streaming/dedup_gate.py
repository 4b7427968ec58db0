"""Streaming document ingest with an incremental dedup gate (EXT).

The streaming shape of `operators/incremental.py`: document files land
in a directory; each micro-batch is classified against the
materialized dedup index, survivors (verdict == 'new') are published
to the output table AND to the index, so later micro-batches dedup
against everything already admitted — the continuous form of the
crawl-ingest dedup loop. Runs on `streaming.pipeline.stream_files`,
whose docstring holds the exactly-once argument; the own-partition
mask here is the index check's `exclude_batch=N` (without it, a
crashed attempt's survivors would re-classify exact_dup against
*themselves* and the replay would overwrite partition N with an empty
set — data loss).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import (
    dedup_batch_rows,
    dedup_index_append,
    dedup_index_check,
)
from ..session import persisted
from ..sinks.snapshot import publish_batch_partition
from .pipeline import DOC_SCHEMA, stream_files


def make_dedup_gate(spark: SparkSession, index_path: str, out_path: str):
    """The foreachBatch body, exposed for direct (test) invocation:
    classify → publish survivors to `out_path/ingest_batch=N` →
    publish survivors' fingerprints and bands to the index's batch-N
    partitions, the two store writes concurrently and only after the
    output. The batch's fingerprint and band relations are derived
    once (`incremental.dedup_batch_rows`, the batch's one sidecar
    read): the check probes with them and the append writes the
    survivors' slice. Calling it twice with the same batch id must be
    a no-op the second time (asserted in tests)."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        with ExitStack() as held:

            def hold(df: DataFrame) -> DataFrame:
                return held.enter_context(persisted(df))

            rows = dedup_batch_rows(spark, index_path, batch_df).map(hold)
            verdicts = dedup_index_check(
                spark, index_path, batch_df, exclude_batch=batch_id, rows=rows
            )
            new_ids = hold(
                verdicts.filter(F.col("verdict") == "new").select("doc_id")
            )
            publish_batch_partition(
                batch_df.join(F.broadcast(new_ids), "doc_id"), out_path, batch_id
            )
            dedup_index_append(
                spark, index_path, rows.of(new_ids), ingest_batch=int(batch_id)
            )

    return _gate


def stream_dedup_gated(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the dedup-gated ingest stream over JSON document files."""
    return stream_files(
        spark, landing_dir, DOC_SCHEMA,
        make_dedup_gate(spark, index_path, out_path),
        checkpoint_dir, max_files_per_trigger,
    )
