"""Streaming document ingest with an incremental SPAN dedup gate (EXT).

The streaming shape of the materialized span store
(operators/curation.span_index_*): document files land in a directory;
each micro-batch's three-sentence spans are classified against the
store, per-doc verdict summaries are published to the output table,
and the batch's NEW span keys are appended to the store — so later
micro-batches dedup against every span already admitted. The span-
family twin of streaming/dedup_gate.py (document-level MinHash gate).
Runs on `streaming.pipeline.stream_files`, whose docstring holds the
exactly-once argument; the own-partition mask here is the store
read's `exclude_batch=N` (without it, the first attempt's new spans
would re-classify dup_corpus against *themselves* and the replay
would publish different counts and an empty append).

No reference analog (the reference is a GitHub REST ETL,
/root/reference/main.py); EXT north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    _span_doc_summary,
    c4_kept_lines,
    c4_spans_from,
    span_index_append,
    span_index_store,
    span_verdict_rows,
)
from ..session import persisted
from ..sinks.snapshot import publish_batch_partition
from .pipeline import DOC_SCHEMA, stream_files


def make_span_gate(spark: SparkSession, store_path: str, out_path: str):
    """The foreachBatch body, exposed for direct (test) invocation:
    classify spans → publish per-doc summaries to
    `out_path/ingest_batch=N` → publish the batch's new span keys to
    the store's batch-N partition. Calling it twice with the same
    batch id must be a no-op the second time (asserted in tests).

    The verdict-rows frame feeds TWO consumers (summary + append), so
    it is persisted once — it is batch-sized (one row per batch span),
    never store-sized."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        # The store read validates its keying BEFORE classifying — the
        # batch's one sidecar read: without it, a store built under
        # older keying constants would mis-classify every span and
        # durably PUBLISH the wrong summary.
        store = span_index_store(spark, store_path, int(batch_id))
        bstats = c4_kept_lines(batch_df)
        rows = span_verdict_rows(c4_spans_from(bstats), store)
        with persisted(rows):
            publish_batch_partition(_span_doc_summary(bstats, rows), out_path, batch_id)
            span_index_append(
                spark,
                store_path,
                rows.where(F.col("verdict") == "new").select("span_key"),
                ingest_batch=int(batch_id),
            )

    return _gate


def stream_span_gated(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the span-dedup-gated ingest stream over JSON document
    files."""
    return stream_files(
        spark, landing_dir, DOC_SCHEMA,
        make_span_gate(spark, store_path, out_path),
        checkpoint_dir, max_files_per_trigger,
    )
