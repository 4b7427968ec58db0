"""As-of (merge-asof) join as a DataFrame composition.

Spark has no native as-of join (reference: none either — this is an
IMPLIED/EXT operator, SURVEY.md §2.3 J5). The classic distributed
formulation: union both sides tagged, sort within the equi-key
partition by (time, side), and carry the latest right-side row forward
with last(ignorenulls) — ONE shuffle on the key, no per-group Python,
no cartesian blowup. This survives 100 TB because the shuffle is the
same one an equi-join would do, and the window sort is local to each
key partition (AQE handles skewed keys).

The right side's payload is carried as a SINGLE struct, not as
independent per-column last() calls: independent carries would mix
columns from different right rows whenever the matched row holds a
NULL in one payload column (a franken-row pandas merge_asof / DuckDB
ASOF would never produce).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right[right_time] <= left[left_time]``, matched on ``on``.

    Right columns (except the key) come back ``right_``-prefixed; left
    rows with no prior right row get NULLs (left-outer semantics).
    Ties on time resolve to "right row at the same instant matches"
    (inclusive), mirroring pandas merge_asof and DuckDB ASOF. Multiple
    right rows at the SAME (key, time) are broken deterministically by
    the payload struct's field order (largest wins), so results are
    stable across partitionings.
    """
    lcols = [c for c in left.columns if c not in (on, left_time)]
    rcols = [c for c in right.columns if c != on]
    payload_type = f"struct<{', '.join(f'{c}: {right.schema[c].dataType.simpleString()}' for c in rcols)}>"

    lhs = left.select(
        F.col(on),
        F.col(left_time).alias("_asof_time"),
        F.lit(1).alias("_asof_side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(payload_type).alias("_asof_payload"),
    )
    rhs = right.select(
        F.col(on),
        F.col(right_time).alias("_asof_time"),
        F.lit(0).alias("_asof_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(*[F.col(c) for c in rcols]).alias("_asof_payload"),
    )

    # side=0 (right) sorts before side=1 (left) at equal timestamps →
    # a right row at exactly left_time is visible to that left row.
    # The payload struct as the final sort key makes same-instant
    # right-row ties deterministic.
    w = (
        W.partitionBy(on)
        .orderBy(F.col("_asof_time"), F.col("_asof_side"), F.col("_asof_payload"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = lhs.unionByName(rhs).withColumn(
        "_asof_payload", F.last("_asof_payload", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("_asof_side") == 1)
        .select(
            F.col(on),
            F.col("_asof_time").alias(left_time),
            *[F.col(c) for c in lcols],
            *[F.col("_asof_payload")[c].alias("right_" + c) for c in rcols],
        )
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    delta: int,
) -> DataFrame:
    """Keyless band join: all (left, right) pairs with
    ``|left_val - right_val| <= delta``, values INTEGRAL (use exact
    integer cents/micros — an integer band has no float-boundary
    ambiguity for either engine).

    Without an equi key Spark can only plan a band predicate as a
    broadcast-nested-loop / cartesian product — O(n*m) comparisons and
    a single-executor broadcast at scale.  The standard fix (the same
    bucketization every interval-join engine uses, cf. Spark's own
    stream-stream time-interval join): quantize each value to a
    ``delta``-wide bucket, explode the LEFT side to its bucket and
    both neighbors (|a-b| <= delta implies bucket distance <= 1),
    equi-join on the bucket — a plain shuffled hash/merge join — and
    re-apply the exact band predicate.  Each qualifying pair is found
    EXACTLY once because the right row owns a single bucket.  Cost:
    3x left explode instead of n*m compare; plan-asserted no
    cartesian/BNLJ.
    """
    for df, col in ((left, left_val), (right, right_val)):
        kind = dict(df.dtypes)[col]
        if kind not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"band_join needs an integral value column, got "
                f"{col}={kind}; quantize to cents/micros first"
            )
    if delta <= 0:
        raise ValueError(f"delta must be positive, got {delta}")
    # The helper column must not collide with caller data (casefolded:
    # Spark resolves names case-insensitively by default).
    taken = {c.casefold() for c in left.columns} | {
        c.casefold() for c in right.columns
    }
    if "__band_bucket" in taken:
        raise ValueError(
            "band_join: an input already has a __band_bucket column; "
            "rename it before joining"
        )

    # EXACT integer floor-division, not F.floor(col/delta): the double
    # path silently loses precision above 2^53 (a true pair can land
    # buckets apart and vanish), defeating the integral-only contract.
    # (v - pmod(v, d)) is an exact multiple of d for either sign, so
    # the truncating `div` equals floor division.
    def _bucket(col: str):
        return F.expr(
            f"(CAST({col} AS BIGINT) - pmod({col}, {delta})) div {delta}"
        )

    lb = _bucket(left_val)
    rb = _bucket(right_val)
    l_exp = left.withColumn(
        "__band_bucket",
        F.explode(F.array(lb - 1, lb, lb + 1)),
    )
    r_b = right.withColumn("__band_bucket", rb)
    # Resolve the band predicate through the frame references, not bare
    # F.col(): when both sides carry the same value-column name (e.g.
    # each has `cents`) a bare name is AMBIGUOUS_REFERENCE after the
    # join; frame-qualified columns always bind to their own side.
    joined = l_exp.join(r_b, "__band_bucket").where(
        F.abs(l_exp[left_val] - r_b[right_val]) <= delta
    )
    return joined.drop("__band_bucket")
