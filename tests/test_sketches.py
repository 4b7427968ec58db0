"""Misra-Gries heavy hitters (operators/sketches.py): exactness vs the
plain GROUP BY, the measured completeness bound, and partitioning
invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from github_etl_spark.operators.sketches import (
    HeavyHitterBoundError,
    heavy_hitters,
)


def _exact(df, col, frac):
    import math

    n = df.where(F.col(col).isNotNull()).count()
    s = math.ceil(frac * n)
    return {
        (r["tok"], r["cnt"])
        for r in df.groupBy(F.col(col).cast("string").alias("tok"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("tok").isNotNull() & (F.col("cnt") >= s))
        .collect()
    }


def test_matches_exact_groupby_zipf(spark):
    # Zipf-ish: item i appears ~ 5000/i times
    items = spark.range(1, 200).select(
        F.explode(F.sequence(F.lit(1), (F.lit(5000) / F.col("id")).cast("int")))
        .alias("rep"),
        F.col("id").alias("item"),
    ).select("item")
    got = {
        (r["tok"], r["term_count"])
        for r in heavy_hitters(items, "item", 0.02).collect()
    }
    assert got == _exact(items, "item", 0.02)
    assert len(got) > 0


def test_bound_error_when_counters_too_small(spark):
    # near-uniform data + tiny counter budget → bound cannot hold. The
    # certified bound sums the per-partition error terms, so the input's
    # partition count is fixed rather than left to the session's cores.
    items = spark.range(0, 20000, numPartitions=8).select(
        (F.col("id") % 5000).alias("item")
    )
    with pytest.raises(HeavyHitterBoundError, match="increase counters"):
        heavy_hitters(items, "item", 0.0004, counters=8)


def test_zero_counters_rejected(spark):
    # counters=0 must be an error, not a silent fall-through to the
    # default budget (`counters or ...` would mask it)
    items = spark.range(0, 10).select(F.col("id").alias("item"))
    with pytest.raises(ValueError, match="counters must be positive"):
        heavy_hitters(items, "item", 0.1, counters=0)


def test_partitioning_invariance(spark):
    items = spark.range(0, 30000).select(
        (F.pmod(F.xxhash64("id"), F.lit(50)) * F.pmod(F.xxhash64("id"), F.lit(50)))
        .alias("item")
    )
    a = {
        (r["tok"], r["term_count"])
        for r in heavy_hitters(items.repartition(1), "item", 0.01).collect()
    }
    b = {
        (r["tok"], r["term_count"])
        for r in heavy_hitters(items.repartition(16), "item", 0.01).collect()
    }
    assert a == b == _exact(items, "item", 0.01)


def test_nulls_ignored(spark):
    items = spark.range(0, 1000).select(
        F.when(F.col("id") % 3 != 0, F.lit("x")).alias("item")
    )
    got = heavy_hitters(items, "item", 0.5).collect()
    assert {(r["tok"], r["term_count"]) for r in got} == {("x", 666)}


def test_all_same_item(spark):
    items = spark.range(0, 5000).select(F.lit("only").alias("item"))
    got = heavy_hitters(items, "item", 0.9, counters=4).collect()
    assert {(r["tok"], r["term_count"]) for r in got} == {("only", 5000)}


def test_empty_input_returns_empty(spark):
    items = spark.range(0).select(F.col("id").alias("item"))
    got = heavy_hitters(items, "item", 0.01)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["tok", "term_count"]


def _true_counts(rows):
    from collections import Counter

    return Counter(str(x) for x in rows)


def test_mg_summarize_bounds_hold(spark):
    from github_etl_spark.operators.sketches import mg_estimate, mg_summarize

    data = [i % 7 for i in range(3000)] + [0] * 500  # item "0" is hot
    df = spark.createDataFrame([(x,) for x in data], "item long")
    summ = mg_summarize(df, "item", counters=4)
    assert summ.where(F.col("tok").isNotNull()).count() <= 4 + 3  # ties tolerated
    true = _true_counts(data)
    for r in mg_estimate(summ).collect():
        assert r.count_lower <= true[r.tok] <= r.count_upper


def test_mg_merge_matches_union_bounds(spark):
    from github_etl_spark.operators.sketches import (
        mg_estimate,
        mg_merge,
        mg_summarize,
    )

    a_data = [i % 5 for i in range(1000)] + [1] * 300
    b_data = [i % 9 for i in range(1500)] + [1] * 400
    a = spark.createDataFrame([(x,) for x in a_data], "item long")
    b = spark.createDataFrame([(x,) for x in b_data], "item long")
    merged = mg_merge(
        mg_summarize(a, "item", 8), mg_summarize(b, "item", 8), 8
    )
    stats = merged.where(F.col("tok").isNull()).head()
    assert stats.nrows == len(a_data) + len(b_data)
    true = _true_counts(a_data + b_data)
    est = {r.tok: r for r in mg_estimate(merged).collect()}
    # the hottest item must survive the merge with valid bounds
    assert "1" in est
    for tok, r in est.items():
        assert r.count_lower <= true[tok] <= r.count_upper
    # absent items are bounded by dsum
    for tok, c in true.items():
        if tok not in est:
            assert c <= stats.dsum


def test_mg_merge_empty_is_identity(spark):
    from github_etl_spark.operators.sketches import mg_merge, mg_summarize

    data = [1, 1, 1, 2, 2, 3]
    df = spark.createDataFrame([(x,) for x in data], "item long")
    empty = spark.createDataFrame([], "item long")
    s = mg_summarize(df, "item", 8)
    m = mg_merge(s, mg_summarize(empty, "item", 8), 8)
    got = {
        (r.tok, r.lower)
        for r in m.where(F.col("tok").isNotNull()).collect()
    }
    want = {
        (r.tok, r.lower)
        for r in s.where(F.col("tok").isNotNull()).collect()
    }
    assert got == want


def test_bottomk_merge_equals_whole(spark):
    from github_etl_spark.operators.sketches import bottomk_merge, bottomk_sample

    df = spark.range(0, 10000).select(
        F.col("id").alias("rid"), (F.col("id") * 7 % 1000).cast("double").alias("v")
    )
    a = df.where(F.col("rid") < 5000)
    b = df.where(F.col("rid") >= 5000)
    whole = bottomk_sample(df, "v", "rid", 200)
    merged = bottomk_merge(
        bottomk_sample(a, "v", "rid", 200), bottomk_sample(b, "v", "rid", 200), 200
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_bottomk_quantile_accuracy(spark):
    from github_etl_spark.operators.sketches import bottomk_sample, sample_quantiles

    # uniform values 0..9999: true median 5000
    df = spark.range(0, 10000).select(
        F.col("id").alias("rid"), F.col("id").cast("double").alias("v")
    )
    s = bottomk_sample(df, "v", "rid", 400)
    row = sample_quantiles(s, "v", [0.5]).head()
    assert row.sample_n == 400
    assert abs(row.q_50 - 5000) < 800  # O(1/sqrt(k)) tolerance


def test_grouped_bottomk_merge_equals_whole(spark):
    from github_etl_spark.operators.sketches import bottomk_sample_grouped

    df = spark.range(0, 6000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 13 % 997).cast("double").alias("v"),
    )
    a, b = df.where(F.col("rid") < 3000), df.where(F.col("rid") >= 3000)
    whole = bottomk_sample_grouped(df, "v", "rid", ["g"], 50)
    halves = bottomk_sample_grouped(
        bottomk_sample_grouped(a, "v", "rid", ["g"], 50).unionByName(
            bottomk_sample_grouped(b, "v", "rid", ["g"], 50)
        ),
        "v",
        "rid",
        ["g"],
        50,
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, halves.collect()))


def test_grouped_quantiles_per_segment(spark):
    from github_etl_spark.operators.sketches import (
        bottomk_sample_grouped,
        grouped_sample_quantiles,
    )

    # group "0": values 0..999; group "1": values 10000..10999
    df = spark.range(0, 2000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 2).cast("string").alias("g"),
        ((F.col("id") / 2).cast("int") + F.when(F.col("id") % 2 == 1, 10000).otherwise(0))
        .cast("double")
        .alias("v"),
    )
    s = bottomk_sample_grouped(df, "v", "rid", ["g"], 200)
    rows = {r.g: r for r in grouped_sample_quantiles(s, "v", ["g"], [0.5]).collect()}
    assert rows["0"].sample_n == 200 and rows["1"].sample_n == 200
    assert 0 <= rows["0"].q_50 < 1000
    assert 10000 <= rows["1"].q_50 < 11000


def test_quantile_sketch_error_exact_side_matches_naive(spark):
    """The two-phase exact quantile (coarse bucket locate + in-bucket
    window) must equal the naive sorted-index quantile on data that
    straddles coarse-bucket boundaries, including ties and a segment
    smaller than one bucket."""
    import duckdb

    from github_etl_spark.plans.ext import quantile_sketch_error

    rows = quantile_sketch_error(spark, "/root/testdata/sf0.001").collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW j AS SELECT c.c_mktsegment, o.o_totalprice "
        "FROM read_parquet('/root/testdata/sf0.001/orders.parquet') o "
        "JOIN read_parquet('/root/testdata/sf0.001/customer.parquet') c "
        "ON o.o_custkey = c.c_custkey "
        "WHERE o.o_totalprice IS NOT NULL AND o.o_orderkey IS NOT NULL"
    )
    naive = {
        seg: (p50, p90)
        for seg, p50, p90 in con.execute(
            """
            SELECT c_mktsegment,
                   MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN v END),
                   MAX(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN v END)
            FROM (
              SELECT c_mktsegment,
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
                     row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY floor(o_totalprice * 100 + 0.5)) AS rn,
                     count(*) OVER (PARTITION BY c_mktsegment) AS n
              FROM j)
            GROUP BY 1
            """
        ).fetchall()
    }
    assert rows
    for r in rows:
        assert (r["exact_p50"], r["exact_p90"]) == naive[r["c_mktsegment"]]
