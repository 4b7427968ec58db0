"""Parallelism guards for compute-heavy operators.

A small parquet table arrives as ONE input partition (one file, one
row-group), which is correct for scan-bound queries but serializes
operators whose per-row cost dwarfs their I/O (minhash = shingles ×
num_hashes hash evaluations per row). `ensure_parallelism` widens such
inputs to the cluster's parallelism with one cheap round-robin
shuffle; when the input is already wide (the 100 TB case — thousands
of scan partitions), it is a no-op, so the guard never *adds* a
shuffle at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism iff the plan
    currently has fewer partitions. Never narrows."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, replicate the small side.

    A hot key (the mega-PR problem — SURVEY.md §2.3) sends all its rows
    to one reducer in a plain shuffle join. Here the big side gets a
    deterministic salt in [0, salt_buckets) derived from xxhash64 over
    its whole row (stable across retries — no rand()/monotonic id), the
    small side is exploded once per salt value, and the join key becomes
    (key, salt): a hot key's rows now spread over `salt_buckets`
    reducers. Cost: small side × salt_buckets (it's the small side by
    assumption). Result is row-identical to the unsalted join.

    AQE's skew-join split handles moderate skew automatically; explicit
    salting is for the pathological key that exceeds what post-shuffle
    splitting can fix (e.g. one key > a whole executor's memory).

    Supported joins: inner / left / left_semi / left_anti — shapes
    where every output row is anchored on the (salted) big side. Right
    and full joins are rejected: an unmatched small-side row exists
    once per salt replica and would surface `salt_buckets` times.
    """
    from pyspark.sql import functions as F

    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; {how!r} would "
            "duplicate unmatched small-side rows per salt replica"
        )

    big_cols = [c for c in big.columns]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big_cols]), F.lit(salt_buckets))
    salted_big = big.withColumn("_salt", salt)
    replicated_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    joined = salted_big.join(replicated_small, [key, "_salt"], how)
    return joined.drop("_salt")
