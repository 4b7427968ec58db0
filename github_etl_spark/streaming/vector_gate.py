"""Streaming VECTOR-INDEX ingest gate: web-quality gate → frozen
encoder → incremental IVF append, one foreachBatch body (EXT).

The third streaming store family. The fingerprint store
(streaming/dedup_gate.py) and the span store (streaming/span_gate.py)
gate INGEST against accreted membership state; this gate maintains the
RETRIEVAL side: documents land in a directory, each micro-batch is
filtered by the combined C4-page + Gopher gate
(operators/curation.web_gate_expr), survivors are encoded by the
frozen integer linear encoder (multimodal/media.embed_text_vec — the
verified documents→embeddings derivation), and the derived vectors are
appended to the materialized IVF index with the two halves of
operators/similarity.ivf_index_append (`ivf_index_assign`, then
`ivf_index_publish`) — the stale-centroid regime whose recall price
`sim_ivf_append_recall` pins.

Runs on `streaming.pipeline.stream_files`, whose docstring holds the
exactly-once argument. What differs here: per-batch verdicts depend on
NOTHING accreted — the gate is per-document, and cell assignment uses
the index's FROZEN sidecar centroids — so a replayed batch recomputes
identical rows with no own-partition exclusion mask.

`vector_fold_verdicts` is the DETERMINISTIC fold of the same chain
(portable md5 seed centroids over the seed corpus' derived vectors, no
disk) — the oracle-visible sibling (plans/curation.vector_gate_replay)
and the equality anchor the pytest pins the live stream against.

No reference analog (the reference is a GitHub REST ETL,
/root/reference/main.py); EXT north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal.media import embed_text_vec
from ..operators.curation import web_gate_expr
from ..operators.similarity import (
    ivf_cells,
    ivf_index_assign,
    ivf_index_publish,
    ivf_portable_seed_centroids,
)
from ..session import eager_checkpoint, persisted
from ..sinks.snapshot import publish_batch_partition
from .pipeline import DOC_SCHEMA, stream_files

# Summary bucket for documents the web gate rejected (they never reach
# the encoder or the index).
REJECTED_CELL = -1


def make_vector_gate(spark: SparkSession, index_path: str, out_path: str):
    """The foreachBatch body, exposed for direct (test) invocation:
    gate → encode → publish the per-(batch, cell) admission summary to
    `out_path/ingest_batch=N` → append the derived vectors to the
    index's batch-N partitions. Calling it twice with the same batch
    id must be a no-op the second time (asserted in tests).

    The sidecar is read once per batch, BEFORE any publish (the
    span-gate lesson: a missing/partial index must fail loudly before
    durable writes, not after the summary is already visible), and the
    vectors are assigned once: the summary and the append read the same
    assigned rows."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        keep = batch_df.where(web_gate_expr(F.col("text")))
        n = F.count(F.lit(1)).cast("long")
        # Each is read twice (summary + index append); batch-sized.
        with persisted(embed_text_vec(keep)) as vecs, persisted(
            ivf_index_assign(spark, index_path, vecs, "doc_id", "vec")
        ) as assigned:
            cells = assigned.groupBy("cell").agg(n.alias("n_docs"))
            # Rejected = batch rows the encoder never saw, counted
            # inside the summary write rather than by two side actions.
            rejected = batch_df.agg(n.alias("n_in")).crossJoin(
                vecs.agg(n.alias("n_vec"))
            ).select(
                F.lit(REJECTED_CELL).alias("cell"),
                (F.col("n_in") - F.col("n_vec")).alias("n_docs"),
            )
            publish_batch_partition(
                cells.unionByName(rejected), out_path, batch_id
            )
            ivf_index_publish(assigned, index_path, int(batch_id))

    return _gate


def stream_vector_gated(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the gated vector-ingest stream over JSON document files."""
    return stream_files(
        spark, landing_dir, DOC_SCHEMA,
        make_vector_gate(spark, index_path, out_path),
        checkpoint_dir, max_files_per_trigger,
    )


def vector_fold_verdicts(docs: DataFrame) -> DataFrame:
    """DETERMINISTIC fold of the gate chain, no disk: seed corpus =
    gated `id % 4 == 0` documents, centroids = the portable md5 seeds
    over the seed corpus' DERIVED vectors (the frozen-centroid regime
    a built index runs in); ingest batches 1..3 = `id % 4 == b`. Per
    batch: web gate → encode → integer-dot argmax cell (ties → lowest
    cell, `ivf_cells` — the kernel the live gate's `ivf_index_assign`
    runs), rejected documents land in cell −1.
    Emits (ingest_batch, cell, n_docs) — the same per-batch summaries
    the live gate publishes, derived as two map-only branch scans
    (kept → encode+assign, rejected → cell −1) into one bounded
    groupBy, with no per-batch loop: verdicts here depend on nothing
    accreted, which is exactly the property that makes the vector
    gate's replay story simpler than the membership gates'."""
    spark = docs.sparkSession
    seed = docs.where(
        (F.pmod(F.col("doc_id"), F.lit(4)) == 0)
        & web_gate_expr(F.col("text"))
    )
    sv = eager_checkpoint(embed_text_vec(seed))
    cents = ivf_portable_seed_centroids(sv, "doc_id", "vec", 8)
    empty = "ingest_batch long, cell int, n_docs long"
    if not cents:
        return spark.createDataFrame([], empty)
    ing = docs.where(F.pmod(F.col("doc_id"), F.lit(4)).isin([1, 2, 3]))
    kept = ing.where(web_gate_expr(F.col("text")))
    kv = eager_checkpoint(embed_text_vec(kept))
    assigned = kv.select(
        F.pmod(F.col("doc_id"), F.lit(4)).cast("long").alias("ingest_batch"),
        ivf_cells(kv, "vec", cents, 1)[0].alias("cell"),
    )
    rej = ing.where(~web_gate_expr(F.col("text"))).select(
        F.pmod(F.col("doc_id"), F.lit(4)).cast("long").alias("ingest_batch"),
        F.lit(REJECTED_CELL).cast("int").alias("cell"),
    )
    return (
        assigned.unionByName(rej)
        .groupBy("ingest_batch", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
