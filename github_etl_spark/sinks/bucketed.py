"""Bucketed tables: pre-shuffled layouts for co-located joins.

At 100 TB the dominant recurring cost of the star-schema queries is the
fact-to-fact shuffle (e.g. lineitem ⋈ orders on orderkey, run by every
downstream mart). Bucketing pays that shuffle ONCE at write time:
`bucketBy(n, key)` hash-partitions rows into a fixed number of buckets
per table, and a join between two tables bucketed on the same key with
the same bucket count reads matching buckets side by side — **no
Exchange in the join plan at all** (asserted in tests). Sorting within
buckets additionally removes the per-task sort of a sort-merge join.

Spark requires the managed-table catalog for bucket metadata (a plain
`.parquet(path)` write drops it), hence `saveAsTable`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
) -> None:
    """Persist `df` as a managed table bucketed and sorted on `key`,
    replacing any table of that name. Bucket count must match across tables that will be
    co-join'd; pick it from target bucket size (~128-512 MB each at
    scale), not core count."""
    # One file per bucket: without this repartition each task writes
    # its own file into every bucket, and the scan only exposes the
    # sortBy ordering when a bucket is a single file — multi-file
    # buckets silently re-sort in the join.
    (
        df.repartition(buckets, df[key])
        .write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Inner-join two same-key, same-bucket-count tables. With bucketing
    metadata present Catalyst plans a shuffle-free (and with sorted
    buckets, sort-free) sort-merge join.

    The merge hint pins the sort-merge strategy: at test scale a small
    side would win a broadcast instead (also shuffle-free, but then the
    plan proves nothing about the bucketed layout); at real scale both
    sides exceed the broadcast threshold and SMJ is what Catalyst picks
    anyway."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table), key)
    )
