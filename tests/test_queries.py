"""Every catalog query vs its DuckDB oracle at sf0.001 (fast local mirror
of the driver's sf0.01 gate), plus sanity checks for rows-only queries."""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

from github_etl_spark.plans import QUERIES

from .oracle_harness import compare, duckdb_conn

ORACLE_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle)
# The two headline MinHash queries and the LSH and IVF top-k keep the plain
# run-and-schema check next to their oracle comparison: it fails on its
# own, with the query's name, when the Spark side breaks before any
# DuckDB replay is involved.
ROWS_ONLY_NAMES = sorted(
    [n for n, q in QUERIES.items() if not q.oracle]
    + ["dedup_incremental", "dedup_minhash_lsh", "sim_ivf_topk", "sim_lsh_topk"]
)

_conns = {}


def _conn(sf_dir):
    if sf_dir not in _conns:
        _conns[sf_dir] = duckdb_conn(sf_dir)
    return _conns[sf_dir]


def _assert_flat_schema(name, df):
    """Catalog-wide output contract: no Array/Map/Struct columns.

    The round driver canonicalizes every query result with pandas
    ``sort_values`` before value-hashing, which factorizes each output
    column — a complex-typed cell (numpy array / dict / Row) raises
    ``TypeError: unhashable type`` there. ``tokenize_encode``'s
    ``array<bigint>`` column passed the repr-sorting sim for five rounds
    and then ERRORED in CORRECTNESS_r06, so every catalog query's schema
    is checked here, on the frame its test builds anyway. Emit joined
    strings or exploded rows in the catalog form; keep rich types in the
    library operators."""
    bad = [
        f"{name}.{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        "complex-typed catalog outputs crash the driver's sort_values "
        f"canonicalization: {bad}"
    )


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    _assert_flat_schema(name, df)
    compare(df, _conn(sf_dir), q.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    _assert_flat_schema(name, df)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # Every declared oracle key must have a matching queries() key.
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)


def test_approx_distinct_accuracy(spark, sf_dir):
    """approx_count_distinct within its 2% target of the exact count."""
    from pyspark.sql import functions as F

    from github_etl_spark.tables import load_tables

    t = load_tables(spark, sf_dir)
    row = (
        t["lineitem"]
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()[0]
    )
    assert abs(row.approx - row.exact) / max(row.exact, 1) < 0.1


def test_hll_estimate_accuracy(spark):
    """HLL estimates must sit within ~3% of exact distinct counts at
    the default lgConfigK=12 (rel. stderr ≈ 1.6%)."""
    from github_etl_spark.plans import spark_queries

    from tests.conftest import SF_CORRECTNESS

    rows = spark_queries()["a4_hll_sketch"](spark, SF_CORRECTNESS).collect()
    union_row = [r for r in rows if r.l_returnflag == "ALL"]
    assert len(union_row) == 1
    for r in rows:
        if r.exact_distinct is not None:
            assert abs(r.estimate - r.exact_distinct) / r.exact_distinct < 0.03


def test_asof_join_carries_whole_right_row(spark):
    """Review regression: a matched right row with a NULL payload column
    must come back atomically (NULLs included), never as a mix of two
    right rows."""
    from github_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 3)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 1, 5.0, 7), (1, 2, None, 9)],
        "k long, rt long, price double, qty long",
    )
    [row] = asof_join(left, right, "k", "t", "rt").collect()
    assert row.right_qty == 9
    assert row.right_price is None  # from the t=2 row, not t=1's 5.0


def test_salted_join_rejects_right_and_full(spark):
    import pytest as _pytest

    from github_etl_spark.operators.partitioning import salted_join

    df = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(df, df, "k", how=how)
