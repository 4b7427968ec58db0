"""Streaming PRETRAINING-ingest composite: ONE foreachBatch pipeline
chaining web-quality gate → fingerprint/MinHash dedup store →
three-sentence-span store → idempotent per-batch publish (EXT).

The streaming form of the batch pretraining path
(plans/curation.pipeline_pretraining_e2e's front half): documents land
in a directory; each micro-batch is (1) filtered by the combined
C4-page + Gopher gate (operators/curation.web_gate_expr — map-only),
(2) classified against the materialized dedup index
(operators/incremental.dedup_index_check), survivors (verdict ==
'new') admitted, (3) the survivors' spans classified against the
materialized span store (operators/curation.span_verdict_rows), and
(4) the publishes: first the per-doc verdict table, then, concurrently,
the three store appends — the survivors' fingerprints, their bands and
the new span keys. Composition is where this codebase keeps finding
bugs, so the chain itself — gate feeding the fp probe feeding the span
probe, and the publish order (output before any store) — is what this
module pins.

Runs on `streaming.pipeline.stream_files`, whose docstring holds the
exactly-once argument. What differs here: the chain has TWO store
probes, each masks the batch's own partition (`exclude_batch=N`), and
both stores' sidecars are read once per batch, before any write. The
gated documents' fingerprint and band relations are derived once
(`incremental.dedup_batch_rows`): the fp probe reads them and the
index append writes the survivors' slice of them.

`pretrain_fold_verdicts` is the DETERMINISTIC batch fold of the same
chain (inline store derivation, no disk) — the oracle-visible sibling
(plans/curation.pretrain_gate_replay) and the equality anchor the
pytest pins the live stream against, the `streaming_*_replay`
treatment.

No reference analog (the reference is a GitHub REST ETL,
/root/reference/main.py); EXT north-star surface.
"""

from __future__ import annotations

import functools
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    _span_doc_summary,
    c4_kept_lines,
    c4_spans_from,
    span_incremental_verdicts,
    span_index_append,
    span_index_store,
    span_verdict_rows,
    web_gate_expr,
)
from ..operators.incremental import (
    dedup_batch_rows,
    dedup_index_append,
    dedup_index_check,
    incremental_dedup_verdicts,
)
from ..session import persisted, run_concurrently
from ..sinks.snapshot import publish_batch_partition
from .pipeline import DOC_SCHEMA, stream_files

# Verdict for documents the web gate rejected (never reach either
# dedup probe; their fp/span columns stay NULL).
GATED = "gated"


def _compose_out(
    batch: DataFrame,
    gated: DataFrame,
    fp_verdicts: DataFrame,
    span_summary: DataFrame,
) -> DataFrame:
    """One row per INPUT batch document — the published schema shared
    by the live gate and the deterministic fold (so the pytest pin
    compares frames, not hand-rebuilt columns): gate outcome, fp-dedup
    verdict (NULL-guarded to 'gated'), and the span summary for
    admitted survivors (NULL for everything else — the span probe
    never ran for them)."""
    return (
        batch.select("doc_id")
        .join(
            gated.select("doc_id", F.lit(True).alias("__g")), "doc_id", "left"
        )
        .join(fp_verdicts, "doc_id", "left")
        .join(span_summary, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__g", F.lit(False)).alias("passed_gate"),
            F.coalesce("verdict", F.lit(GATED)).alias("verdict"),
            F.col("n_near").cast("long").alias("n_near"),
            F.col("n_kept").cast("int").alias("n_kept"),
            # int 0/1/NULL, not boolean: a NULLable bool round-trips as
            # None (Spark/Arrow) vs float NaN (DuckDB fetch_df) and the
            # driver's value hash sees those as different cells; NULL
            # ints land as NaN on BOTH sides.
            F.col("keep_doc").cast("int").alias("keep_doc"),
            F.col("n_dup_corpus").cast("long").alias("n_dup_corpus"),
            F.col("n_dup_batch").cast("long").alias("n_dup_batch"),
            F.col("n_new").cast("long").alias("n_new"),
        )
    )


def make_pretrain_gate(
    spark: SparkSession,
    index_path: str,
    span_store_path: str,
    out_path: str,
):
    """The foreachBatch body, exposed for direct (test) invocation.
    Calling it twice with the same batch id must be a no-op the second
    time (asserted in tests/test_streaming_pretrain.py). The store
    probes and appends are looked up as this module's globals at call
    time. The output table is published first; the fingerprint, band
    and span-key appends then run concurrently, and the first of their
    failures (in that order) is raised once all have finished."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        with ExitStack() as held:

            def hold(df: DataFrame) -> DataFrame:
                return held.enter_context(persisted(df))

            gated = hold(batch_df.where(web_gate_expr(F.col("text"))))
            # Both sidecars are read here, once each, before any durable
            # write: a missing or mis-keyed store fails before the output
            # table or the other store holds a row of this batch.
            span_store = span_index_store(
                spark, span_store_path, int(batch_id)
            )
            rows = dedup_batch_rows(spark, index_path, gated).map(hold)
            # output row + survivor filter
            fp = hold(dedup_index_check(
                spark, index_path, gated,
                exclude_batch=int(batch_id), rows=rows,
            ))
            new_ids = fp.where(F.col("verdict") == "new").select("doc_id")
            survivors = hold(gated.join(F.broadcast(new_ids), "doc_id"))
            bstats = c4_kept_lines(survivors)
            # summary + span append
            spans = hold(span_verdict_rows(c4_spans_from(bstats), span_store))
            out = _compose_out(
                batch_df, gated, fp,
                _span_doc_summary(bstats, spans),
            )
            publish_batch_partition(out, out_path, batch_id)
            # The store appends derive only from persisted frames and
            # write disjoint tables: run them side by side, all
            # finishing before the frames are released.
            run_concurrently(
                [
                    functools.partial(
                        dedup_index_append, spark, index_path,
                        rows.of(new_ids), ingest_batch=int(batch_id),
                    ),
                    functools.partial(
                        span_index_append, spark, span_store_path,
                        spans.where(F.col("verdict") == "new").select("span_key"),
                        ingest_batch=int(batch_id),
                    ),
                ],
                2,
            )

    return _gate


def stream_pretrain_gated(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    span_store_path: str,
    out_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the pretraining-ingest stream over JSON document files.
    `make_pretrain_gate` is looked up at call time."""
    return stream_files(
        spark, landing_dir, DOC_SCHEMA,
        make_pretrain_gate(spark, index_path, span_store_path, out_path),
        checkpoint_dir, max_files_per_trigger,
    )


def pretrain_fold_verdicts(
    seed: DataFrame,
    batches: list[tuple[str, DataFrame]],
) -> DataFrame:
    """Deterministic replay of the streaming composite as an N-ingest
    batch fold with INLINE store derivation — verdict-identical to
    running `make_pretrain_gate` over the same batch sequence against
    stores built from ``seed`` (pinned in
    tests/test_streaming_pretrain.py; the inline ≡ materialized store
    equalities are each pinned by their own roundtrip tests).

    ``seed`` is the already-curated corpus both stores were built from
    (the store-build contract: build-time input is trusted, the gate
    applies to INGESTED batches only). Both membership relations grow
    with each round's admitted survivors — which is exactly what the
    store appends hold: the fp index appends survivors'
    fingerprints/bands, the span store appends survivors' 'new' span
    keys, and distinct-spans-of(seed ∪ survivors) equals
    seed-spans ∪ appended-keys.

    Per-round scale shape: both probes broadcast the BOUNDED batch
    side (the incremental.py contract — the corpus/store relation is
    scanned, never shuffled, never collected); survivors are
    eager-checkpointed so round r+1's corpus is a materialized
    relation, not a 2^r-deep recomputation of every prior round's
    gate + probe chain."""
    from ..session import eager_checkpoint

    outs: list[DataFrame] = []
    corpus = seed.select("doc_id", "text")
    for tag, b in batches:
        gated = b.where(web_gate_expr(F.col("text")))
        fp = incremental_dedup_verdicts(corpus, gated)
        new_ids = fp.where(F.col("verdict") == "new").select("doc_id")
        survivors = eager_checkpoint(
            gated.select("doc_id", "text").join(F.broadcast(new_ids), "doc_id")
        )
        summary = span_incremental_verdicts(corpus, survivors)
        outs.append(
            _compose_out(b, gated, fp, summary).select(F.lit(tag).alias("ingest"), "*")
        )
        corpus = corpus.unionByName(survivors)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
