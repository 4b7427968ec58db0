"""Training-shard writer: deterministic pseudorandom layout (EXT).

Training loops want data that is (a) globally shuffled — no
source/time locality between neighboring examples — and (b) exactly
reproducible across reruns and cluster sizes. Both come from hashing,
not randomness:

- **shard assignment** is the portable md5 bucket
  (`portable_hash_bucket` — zero-shuffle, partitioning-independent,
  auditable off-cluster);
- **within-shard order** is the md5 hex of the id (the "shuffle key"),
  enforced with `sortWithinPartitions` after a `repartition` on the
  shard column, so each write task emits its shard's rows in final
  order — a range-free distributed sort: no global sort, no sampled
  boundaries, one shuffle total.

Reading shards `0..n-1` in order and concatenating yields THE
canonical permutation of the corpus — any run, any partitioning, any
cluster size. That determinism is what makes training restarts and
data ablations comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipeline import portable_hash_bucket

SHUFFLE_KEY = "_shuffle_key"


def shard_assignment(
    docs: DataFrame, n_shards: int = 8
) -> DataFrame:
    """Input plus (shard, _shuffle_key) — pure narrow expressions."""
    return docs.withColumn(
        SHUFFLE_KEY, F.md5(F.col("doc_id").cast("string"))
    ).withColumn("shard", portable_hash_bucket(F.col("doc_id"), n_shards))


def write_shuffled_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 8,
) -> None:
    """Write `docs` as `path/shard=K/` directories, globally shuffled,
    deterministically ordered within each shard.

    `repartition(n_shards, shard)` co-locates each shard's rows in one
    task (two shards may share a task on hash collision — the
    `partitionBy` writer still splits them into their own directories,
    and the (shard, key) sort keeps each file internally ordered).
    Parquet preserves row order within a file, so a reader that sorts
    a shard's files lexicographically streams the canonical order
    without any sort of its own.
    """
    sharded = shard_assignment(docs, n_shards=n_shards)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", SHUFFLE_KEY)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_canonical_order(spark, path: str) -> DataFrame:
    """The canonical permutation back: shards in index order, rows in
    shuffle-key order. The orderBy here is for SMALL consumers
    (validation, sampling); a training reader streams `shard=K` dirs
    sequentially and needs no sort."""
    return spark.read.parquet(path).orderBy("shard", SHUFFLE_KEY)
