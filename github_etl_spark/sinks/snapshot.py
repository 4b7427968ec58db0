"""Idempotent partitioned snapshot sink (SURVEY.md §2.1 S6-S9, §2.9 T4).

The reference implements daily-snapshot idempotence imperatively:
probe `(target_repository, snapshot_date)` with `SELECT 1 … LIMIT 1`
(reference main.py:552-601), then `DELETE FROM` each table for that
partition before reloading (main.py:604-638, driver decision
main.py:829-839). That probe-then-delete sequence races under parallel
writers (SURVEY.md §7.4 risk 5).

Spark-first re-expression: the pair IS the physical partition key of a
partitioned parquet layout, and idempotent reload is **dynamic
partition overwrite** — a single atomic-per-partition `overwrite` that
replaces exactly the partitions present in the incoming DataFrame and
leaves every other `(repo, date)` untouched. No delete step, no race
window, and re-running a failed load converges to the same state
(exactly-once per partition).

At 100 TB: each load writes one `(repo, date)` partition through a
single writer, so a partition directory holds one file per table (no
small-files problem), and reads with a partition predicate prune to
the single partition (`PartitionFilters` in the scan, zero data read
outside it).
"""

from __future__ import annotations

import datetime as _dt
import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import run_concurrently

# The reference's four output tables (data.yml:6-86).
SNAPSHOT_TABLES = ("pull_requests", "commits", "reviewers", "comments")

PARTITION_COLS = ("target_repository", "snapshot_date")


def _date_lit(snapshot_date: str | _dt.date):
    if isinstance(snapshot_date, _dt.date):
        snapshot_date = snapshot_date.isoformat()
    return F.lit(snapshot_date).cast("date")


def stamp(df: DataFrame, repo: str, snapshot_date: str | _dt.date) -> DataFrame:
    """Add the partition columns (P4 repo tag, P5 snapshot date).

    The reference stamps `target_repository` at transform time
    (main.py:461,478,503,525) and `snapshot_date` at load time
    (main.py:725-727), computed once per run (main.py:827) so a run
    crossing midnight stays consistent. We take the date as an explicit
    argument for the same reason — never `current_date()` here.
    """
    return df.withColumn("target_repository", F.lit(repo)).withColumn(
        "snapshot_date", _date_lit(snapshot_date)
    )


def write_snapshot(df: DataFrame, table_path: str) -> None:
    """Write one table's rows with dynamic partition overwrite (S9/T4).

    Only the `(target_repository, snapshot_date)` partitions present in
    `df` are replaced; all other partitions survive. `partitionOverwriteMode`
    is passed as a per-write option so the session conf is untouched.

    The rows are coalesced into one writer task, with no shuffle, so
    each partition directory gets one file rather than one per input
    partition (the small-files blowup of a multi-page scan). Every
    caller stamps one `(repo, date)` per call, so the single writer
    costs no parallelism: a repartition on the partition key would
    send every row to one reducer too, for one shuffle job more.
    """
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(table_path)
    )


def publish_batch_partition(
    df: DataFrame, path: str, batch_id: int, *partition_cols: str
) -> None:
    """Publish micro-batch ``batch_id``'s rows as the table's
    ``(*partition_cols, ingest_batch=batch_id)`` partitions with a
    dynamic partition overwrite: a replayed batch replaces its own
    partitions and touches no other, so at-least-once delivery
    republishes instead of double-appending (the exactly-once argument
    in streaming/pipeline.stream_files)."""
    (
        df.withColumn("ingest_batch", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "ingest_batch")
        .parquet(path)
    )


def snapshot_exists(
    spark: SparkSession,
    table_path: str,
    repo: str,
    snapshot_date: str | _dt.date,
) -> bool:
    """Existence probe (S8): partition-pruned `LIMIT 1` scan.

    The reference's `SELECT 1 … LIMIT 1` (main.py:573-579) with its
    missing-table → False behavior (main.py:589-601). Here the filter
    lands on partition columns, so Spark prunes to the one directory and
    the probe reads at most one row-group header — O(1) regardless of
    table size.
    """
    if not os.path.exists(table_path):
        return False
    try:
        df = spark.read.parquet(table_path)
    except Exception:
        # Directory exists but holds no readable parquet (crash during
        # the first-ever write left only _temporary/, or an empty-frame
        # write left just _SUCCESS) → "no snapshot", not an error.
        return False
    probe = df.where(
        (F.col("target_repository") == repo)
        & (F.col("snapshot_date") == _date_lit(snapshot_date))
    ).limit(1)
    return len(probe.take(1)) > 0


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    repo: str | None = None,
    snapshot_date: str | _dt.date | None = None,
) -> DataFrame:
    """Read a table, optionally pruned to one `(repo, date)` partition."""
    df = spark.read.parquet(table_path)
    if repo is not None:
        df = df.where(F.col("target_repository") == repo)
    if snapshot_date is not None:
        df = df.where(F.col("snapshot_date") == _date_lit(snapshot_date))
    return df


class SnapshotSink:
    """The four-table snapshot warehouse rooted at ``base_dir``.

    `load(tables, repo, snapshot_date)` is the engine's analog of the
    reference's probe→delete→reload driver step (main.py:829-839,
    load_data main.py:686-738): one idempotent dynamic-partition
    overwrite per table, empty tables skipped like the reference's
    empty-rows guard (main.py:719-723).
    """

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def load(
        self,
        tables: dict[str, DataFrame],
        repo: str,
        snapshot_date: str | _dt.date,
        lock: bool = True,
        lock_timeout: float = 600.0,
    ) -> None:
        """Write every table's `(repo, snapshot_date)` partition.

        The table writes are independent, so they run concurrently
        through `session.run_concurrently` (one driver thread per
        table). The partition lock is taken before the first write and
        released only after the last one has finished, raised or not,
        so a still-running write of one load never overlaps another
        load of the same `(repo, date)`. If a write fails, the others
        still finish and the first failure in table order is raised;
        a re-run replaces the partial snapshot. API concurrency: a
        table whose plan reads an unmaterialized GitHub scan re-runs
        that scan, now alongside the other tables' writes, so callers
        materialize the scan first (`streaming.pipeline.run_batch`
        checkpoints it); the writes then make no API call.
        """
        from .locking import PartitionLock

        # Each table write is atomic per partition, but the SNAPSHOT
        # spans four tables: without serialization two concurrent
        # writers to the same (repo, date) can interleave and leave a
        # torn snapshot (tables from different runs). The partition
        # lock serializes whole loads per (repo, date) — writers to
        # other partitions never contend (sinks/locking.py).
        plock = (
            PartitionLock(self.base_dir, repo, snapshot_date) if lock else None
        )

        def write(name: str, df: DataFrame) -> None:
            # No emptiness probe: take(1) would execute each table's
            # full transform DAG once just to check, and dynamic
            # partition overwrite of an empty frame replaces nothing —
            # the reference's skip-empty semantics for free.
            write_snapshot(stamp(df, repo, snapshot_date), self.path(name))
            if plock:
                plock.touch()  # long multi-table loads stay fresh

        if plock:
            plock.acquire(timeout=lock_timeout)
        try:
            run_concurrently(
                [functools.partial(write, name, df) for name, df in tables.items()],
                len(tables),
            )
        finally:
            if plock:
                plock.release()

    def exists(self, spark: SparkSession, repo: str, snapshot_date: str | _dt.date) -> bool:
        """True if ANY table holds the partition (reference probes only
        `pull_requests`, main.py:571 — we check all four so a partial
        prior failure still reads as present-and-replaceable)."""
        return any(
            snapshot_exists(spark, self.path(t), repo, snapshot_date)
            for t in SNAPSHOT_TABLES
        )


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    repo: str,
    snapshot_date: str | _dt.date,
    target_files: int = 1,
) -> None:
    """Rewrite one `(repo, date)` partition into `target_files` files.

    The streaming path writes a file-set per micro-batch (S7) under
    per-batch `ingest_batch=` sub-partitions, which accumulate small
    files; this is the standard post-stream compaction: read exactly
    that partition (pruned scan), coalesce, and replace it atomically
    with the same dynamic-partition-overwrite used for loads. Rows are
    unchanged — only the file layout.

    Partition-depth care: parquet partition discovery rejects a table
    whose dates mix directory depths, so when the table carries the
    streaming layout (`ingest_batch` present) the compacted rewrite
    keeps that level, collapsing everything into ONE NEGATIVE batch id
    chosen deterministically as -(max positive batch id + 1) — every
    date stays three levels deep whether compacted or live. The
    superseded dirs are then removed in a second step. Crash safety:
    re-running after a crash between write and cleanup recomputes the
    SAME target id (the positive dirs still exist), excludes only the
    target itself from the sources, and dynamic overwrite replaces the
    partial output — idempotent, the contract a VACUUM has. A
    transactional format (Delta/Iceberg) would make this one atomic
    commit; on plain parquet this is the standard trade. At scale, run
    per partition after the stream's snapshot date closes.
    """
    part = read_snapshot(spark, table_path, repo, snapshot_date)
    partition_cols = list(PARTITION_COLS)
    streaming_layout = "ingest_batch" in part.columns
    target_id = None
    if streaming_layout:
        ids = [r[0] for r in part.select("ingest_batch").distinct().collect()]
        live = [i for i in ids if i >= 0]
        if not live:
            return  # nothing new since the last compaction
        target_id = -(max(live) + 1)
        part = part.filter(F.col("ingest_batch") != target_id).withColumn(
            "ingest_batch", F.lit(target_id)
        )
        partition_cols.append("ingest_batch")
    compacted = part.coalesce(target_files)
    (
        compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(table_path)
    )
    if streaming_layout:
        _remove_superseded_batch_dirs(
            table_path, repo, snapshot_date, keep=f"ingest_batch={target_id}"
        )


def _escape_partition_value(value: str) -> str:
    """Hive-style partition-dir escaping for the chars Spark escapes
    (enough for repo slugs: '/' → %2F)."""
    out = []
    for ch in value:
        out.append(f"%{ord(ch):02X}" if ch in '"#%\'*/:=?\\\x7f{[]^' else ch)
    return "".join(out)


def _remove_superseded_batch_dirs(
    table_path: str, repo: str, snapshot_date: str | _dt.date, keep: str
) -> None:
    """Drop every `ingest_batch=` dir except `keep` for one (repo, date).

    Local-filesystem implementation; on HDFS/S3 this is the same listing
    + delete through the Hadoop FileSystem API.
    """
    import shutil

    if isinstance(snapshot_date, _dt.date):
        snapshot_date = snapshot_date.isoformat()
    date_dir = os.path.join(
        table_path,
        f"target_repository={_escape_partition_value(repo)}",
        f"snapshot_date={snapshot_date}",
    )
    if not os.path.isdir(date_dir):
        return
    for entry in os.listdir(date_dir):
        if entry.startswith("ingest_batch=") and entry != keep:
            shutil.rmtree(os.path.join(date_dir, entry), ignore_errors=True)
