"""Small-file compaction for partitioned parquet tables (EXT — the
table-maintenance operation every long-lived 100 TB layout needs).

Streaming/micro-batch ingest (foreachBatch appends, incremental dedup
gates) accretes many small files per partition; scan cost then scales
with FILE COUNT (task scheduling, footer reads, open/close overhead)
rather than bytes — the classic small-files problem. Compaction
rewrites fragmented partitions into ~target-size files, idempotently,
without touching healthy partitions.

Spark-first shape:
- fragmentation is measured from the FILESYSTEM (file counts/bytes per
  partition directory) — no data read to decide;
- only partitions exceeding ``max_files`` are rewritten: the read
  carries a partition-key filter (PartitionFilters prune everything
  else) and the write is dynamic partition overwrite — the same
  atomic-per-partition idempotence contract as the snapshot sink, so
  a crashed compaction re-run converges;
- output file sizing via ``maxRecordsPerFile`` (records-per-file
  derived from the measured on-disk bytes/row): deterministic
  ceil(rows/N) files per partition regardless of task layout, with
  one shuffle whose output is the final arrangement.

Delta/Iceberg expose this as OPTIMIZE / rewrite_data_files; this is
the plain-parquet equivalent on the engine's own snapshot layout.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def partition_stats(table_path: str) -> list[dict]:
    """Filesystem-level stats per leaf partition directory:
    ``{"partition": {col: value, ...}, "n_files": int, "bytes": int}``.

    Walks Hive-style ``col=value`` directories; no Spark job, no data
    read — the decision input for `compact_partitions`.
    """
    out = []
    for root, _dirs, files in os.walk(table_path):
        parquet = [f for f in files if f.endswith(".parquet")]
        if not parquet:
            continue
        rel = os.path.relpath(root, table_path)
        parts = {}
        ok = True
        for seg in [] if rel == "." else rel.split(os.sep):
            if "=" not in seg:
                ok = False
                break
            k, v = seg.split("=", 1)
            parts[k] = v
        if not ok:
            continue
        out.append(
            {
                "partition": parts,
                "n_files": len(parquet),
                "bytes": sum(
                    os.path.getsize(os.path.join(root, f)) for f in parquet
                ),
            }
        )
    return out


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    max_files: int = 4,
    target_file_bytes: int = 128 << 20,
) -> list[dict]:
    """Rewrite every partition holding more than ``max_files`` parquet
    files into ``ceil(bytes / target_file_bytes)`` files. Returns the
    stats of the partitions rewritten (empty list = nothing to do).

    Rows are preserved exactly (asserted in tests); healthy partitions
    are neither read nor written. The rewrite read pins a disjunction
    of partition-key equalities, so the scan prunes to exactly the
    fragmented partitions.
    """
    frag = [p for p in partition_stats(table_path) if p["n_files"] > max_files]
    if not frag:
        return []
    part_cols = list(frag[0]["partition"].keys())
    df = spark.read.parquet(table_path)
    pred = None
    for p in frag:
        clause = None
        for c in part_cols:
            eq = F.col(c).cast("string") == F.lit(p["partition"][c])
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
    fragmented = df.where(pred)
    # File sizing via maxRecordsPerFile — the deterministic splitter
    # (the writer cuts a new file every N records inside each
    # partition directory), so file count = ceil(partition_rows / N)
    # regardless of task layout. N is derived from the measured
    # on-disk bytes/row of the fragmented subset; the count() is one
    # pruned scan of exactly the partitions being rewritten.
    n_rows = fragmented.count()
    total_bytes = sum(p["bytes"] for p in frag)
    if n_rows == 0:
        return frag
    avg_row_bytes = max(1.0, total_bytes / float(n_rows))
    max_records = max(1, int(math.floor(target_file_bytes / avg_row_bytes)))
    # One task per rewritten partition keeps the shuffle output equal
    # to the final layout; the explicit width stops AQE from merging
    # partitions of DIFFERENT keys into one task (harmless for
    # correctness, but it would serialize the parquet encoding).
    out = fragmented.repartition(len(frag), *[F.col(c) for c in part_cols])
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records)
        .partitionBy(*part_cols)
        .parquet(table_path)
    )
    return frag


def fold_partitions(
    spark: SparkSession,
    table_path: str,
    into_value: int,
) -> list[dict]:
    """Fold EVERY ``ingest_batch`` value of a Hive-partitioned parquet
    table into ONE fresh value — the PARTITION-COUNT maintenance op
    for per-ingest stores (sinks/store.fold), complementing
    `compact_partitions`' per-partition small-file rewrite: a
    streaming gate adds one ``ingest_batch=N`` directory per
    micro-batch, and after thousands of batches scan cost is dominated
    by directory listing and per-partition footers, not bytes.
    ``ingest_batch`` must be the last partition level; partition
    columns above it (the IVF index's ``cell``) are kept, so each of
    their values folds to its own ``(…, ingest_batch=into_value)``
    directory.
    Returns the stats of the partitions folded (empty for a table with
    no partitions); a table with a single value is folded too — whether
    that is worth doing is the caller's decision.

    Crash-safe for SET-semantics tables with no transaction log, by
    write ordering alone: ``into_value`` must be a FRESH partition
    value (raises otherwise); the consolidated rows land there FIRST
    (a purely additive append — no existing file is touched), and only
    then are the source partition directories deleted. A crash at any
    point leaves the table a duplicated SUPERSET of the original —
    harmless for membership/probe semantics (distinct keys, semi-join
    probes, capped-bucket candidate screens) — and a re-run converges
    to the single folded partition. NOT safe for tables where row
    multiplicity matters; callers own that contract.

    Streaming caveat: folding erases batch identity, so a replayed
    micro-batch can no longer mask its own rows via ``exclude_batch``
    — run fold only on a QUIESCED stream (no in-flight batch that may
    replay), the standard constraint for compacting streaming state.

    Local-filesystem deletes (shutil), like the snapshot retention
    sweep — at cloud scale swap for the Hadoop FileSystem API.
    """
    import shutil

    stats = partition_stats(table_path)
    if not stats:
        return []
    levels = list(stats[0]["partition"])
    if levels[-1] != "ingest_batch" or any(
        list(p["partition"]) != levels for p in stats
    ):
        raise ValueError(
            "fold_partitions expects 'ingest_batch' as the last partition "
            f"level of every partition at {table_path!r}"
        )
    if str(into_value) in {p["partition"]["ingest_batch"] for p in stats}:
        raise ValueError(
            f"into_value {into_value} already exists at {table_path!r} — "
            "folding INTO a live partition is not crash-safe (a partial "
            "overwrite would lose its prior rows); pick a fresh value"
        )
    df = spark.read.parquet(table_path)
    (
        df.select(*[c for c in df.columns if c != "ingest_batch"])
        .distinct()
        .withColumn(
            "ingest_batch",
            F.lit(int(into_value)).cast(dict(df.dtypes)["ingest_batch"]),
        )
        .write.mode("append")
        .partitionBy(*levels)
        .parquet(table_path)
    )
    # Surface failed deletes instead of masking them (ADVICE r12):
    # attempt every source directory first, then raise listing the
    # stragglers — the table is a duplicated superset at that point
    # (harmless under membership semantics) and a re-run converges,
    # but a silent half-fold would leak storage forever.
    failed: list[str] = []
    for p in stats:
        src = os.path.join(
            table_path, *(f"{k}={v}" for k, v in p["partition"].items())
        )
        try:
            shutil.rmtree(src)
        except OSError as e:
            failed.append(f"{src}: {e}")
    if failed:
        raise RuntimeError(
            f"fold_partitions: consolidated rows are written to "
            f"ingest_batch={into_value} but {len(failed)} source "
            f"partition(s) could not be deleted (table is a duplicated "
            f"superset; re-run to converge): " + "; ".join(failed)
        )
    return stats
