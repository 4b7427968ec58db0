"""Ingest-batch stores: the one on-disk layout behind the dedup index
(operators/incremental.py), the span store (operators/curation.py)
and the IVF index (operators/similarity.py).

The reference keeps its daily load idempotent by probing, deleting
and reloading one `(repo, snapshot_date)` partition (main.py:604-638,
829-839). A store generalizes that sink to an index that grows with
every ingest:

- a one-line JSON **sidecar** next to the data (``<path>_meta`` for
  the dedup index and the span store, ``<path>_centroids`` for the IVF
  index) holds the build parameters. It is written through the Spark
  text writer, so the layout works on any supported filesystem, and
  every check reads it before it probes, so check-time parameters
  cannot drift from build time. A missing or empty sidecar raises
  `StoreMissing`;
- each store table is parquet partitioned by ``ingest_batch`` (after
  any partition columns of its own, like the IVF's ``cell``). The
  build writes batch −1; a streaming ingest publishes micro-batch N as
  a dynamic overwrite of its own ``ingest_batch=N`` partitions, so a
  replayed batch republishes instead of double-appending; a check
  masks the batch it runs for, so a crashed attempt's half-published
  rows cannot flip the replay's verdicts (the exactly-once argument in
  `streaming.pipeline.stream_files`' docstring). Negative ids are
  reserved for the build and for folds;
- `fold` collapses the accreted per-batch partitions into one fresh
  negative id (`sinks.compact.fold_partitions`), on a quiesced stream.

Each store module derives its own relations and calls these functions
for everything that touches the layout.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compact import fold_partitions, partition_stats
from .snapshot import publish_batch_partition

# Sidecar suffixes: the dedup index and the span store keep their
# parameters at ``<path>_meta``, the IVF index its centroids at
# ``<path>_centroids``.
META = "_meta"
CENTROIDS = "_centroids"

BUILD_BATCH = -1


class StoreMissing(FileNotFoundError, ValueError):
    """A store's sidecar is missing or empty: the build never ran or
    did not finish. Both a `FileNotFoundError` and a `ValueError`,
    like `io.UnsupportedOperation(OSError, ValueError)`, so callers of
    either store family catch it by the class they always caught."""


def write_sidecar(spark: SparkSession, path: str, suffix: str, meta) -> None:
    """Write ``meta`` as the one-line JSON sidecar at ``path + suffix``.
    Builds call this before they write any data: a crash mid-build
    leaves a store read with the right parameters (possibly incomplete
    — rebuild), never one probed with the wrong ones."""
    spark.createDataFrame([(json.dumps(meta),)], "value string").coalesce(
        1
    ).write.mode("overwrite").text(path + suffix)


def read_sidecar(spark: SparkSession, path: str, suffix: str, builder: str):
    """The JSON value of the sidecar at ``path + suffix``; raises
    `StoreMissing` naming the sidecar and ``builder`` when it is
    missing or empty."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.text(path + suffix).head()
    except AnalysisException:  # path missing entirely
        row = None
    if row is None or not row[0]:
        raise StoreMissing(
            f"store at {path!r} has no meta sidecar at {path + suffix!r} "
            f"— incomplete build? Rebuild with {builder}."
        )
    return json.loads(row[0])


def write_build(df: DataFrame, table: str, *partition_cols: str) -> None:
    """Replace ``table`` with ``df`` as the build rows: partitioned by
    ``(*partition_cols, ingest_batch)``, all in batch −1.

    An empty ``df`` still leaves a table that reads as 0 rows and takes
    appends: a partitioned write of no rows leaves only ``_SUCCESS``,
    which a read cannot infer a schema from, so one empty parquet file
    goes into the build partition. The other partition columns, which
    have no value without rows, stay data columns of that file."""
    rows = df.withColumn("ingest_batch", F.lit(BUILD_BATCH).cast("long"))
    rows.write.mode("overwrite").partitionBy(
        *partition_cols, "ingest_batch"
    ).parquet(table)
    if not partition_stats(table):
        rows.drop("ingest_batch").limit(0).coalesce(1).write.parquet(
            f"{table}/ingest_batch={BUILD_BATCH}"
        )


def read_batches(
    spark: SparkSession, table: str, exclude_batch: int | None
) -> DataFrame:
    """``table``'s rows, without batch ``exclude_batch`` when one is
    given: a partition filter, so the masked batch's files are pruned,
    not scanned."""
    df = spark.read.parquet(table)
    if exclude_batch is None:
        return df
    return df.where(F.col("ingest_batch") != int(exclude_batch))


def append_batch(
    df: DataFrame, table: str, ingest_batch: int, *partition_cols: str
) -> None:
    """Publish ``df`` as batch ``ingest_batch`` of ``table``: a dynamic
    overwrite of exactly its ``(*partition_cols, ingest_batch=N)``
    partitions (`sinks.snapshot.publish_batch_partition`). Raises
    `ValueError` for a negative id, which would overwrite the build
    rows (−1) or folded rows (below −1)."""
    if int(ingest_batch) < 0:
        raise ValueError(
            f"ingest_batch {ingest_batch} is reserved: batch -1 holds the "
            f"build rows of {table!r} and lower ids hold folded rows; use "
            "a non-negative batch id"
        )
    publish_batch_partition(df, table, ingest_batch, *partition_cols)


def batch_ids(table: str) -> set[int]:
    """The ``ingest_batch`` ids present in ``table``, from its
    directory listing (no Spark job)."""
    return {int(p["partition"]["ingest_batch"]) for p in partition_stats(table)}


def fold(spark: SparkSession, *tables: str) -> int:
    """Fold every ``ingest_batch`` partition of each table into one
    fresh id, the same for all tables (below every id present and
    below −1), so sibling tables keep aligned layouts. Returns the
    number of partitions folded. Whether a fold is worth running is
    the caller's decision; this always folds.

    Crash-safe for membership stores by write order alone (see
    `sinks.compact.fold_partitions`); a store whose readers cannot
    tolerate a duplicated superset must guard the fold itself (the IVF
    index's fold marker). Run on a quiesced stream only: folding erases
    batch identity, so a replayed batch could no longer mask its own
    rows."""
    into = min(set().union(*map(batch_ids, tables)) | {BUILD_BATCH}) - 1
    return sum(
        len(fold_partitions(spark, t, into_value=into))
        for t in tables
    )
