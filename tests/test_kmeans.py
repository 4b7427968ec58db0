"""Distributed Lloyd's k-means (operators/kmeans.py).

The oracle replay itself is pinned by the driver contract
(kmeans_lloyd_stats vs the generated unrolled-SQL oracle); these tests
pin the engine-internal contracts the oracle can't see: the
expression-vs-Arrow assignment parity, determinism across runs, the
partition-of-corpus invariant, the integer-lattice mean formula, and
the empty-input shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from github_etl_spark.operators import kmeans as km
from github_etl_spark.operators.kmeans import (
    kmeans_cell_stats,
    lloyd_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_cell_stats_partitions_corpus(spark, emb):
    n = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).count()
    rows = kmeans_cell_stats(emb, k=8, iters=3).collect()
    assert 0 < len(rows) <= 8
    assert sum(r.n_members for r in rows) == n
    assert all(r.inertia >= 0 for r in rows)
    # centroid checksums obey the Cauchy-Schwarz-ish sanity bound
    # |m_sum|^2 <= dim * m_l2 (dim=64) — catches swapped columns.
    assert all(r.m_sum * r.m_sum <= 64 * r.m_l2 for r in rows)


def test_deterministic_across_runs(spark, emb):
    a = sorted(map(tuple, kmeans_cell_stats(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_cell_stats(emb, k=4, iters=2).collect()))
    assert a == b


def test_arrow_assignment_parity(spark, emb):
    """The Arrow matmul assignment (`_assignment`, every Lloyd step's)
    is bit-identical, distance and cell, to the first element of the
    inlined-expression ranking `_sq_dist_rank_expr` that plans/ext.py
    probes with — on every row, lowest cell on ties."""
    cents, q = lloyd_centroids(emb, k=6, iters=2)
    a = km._assignment(F.col("qv"), cents)
    e = km._sq_dist_rank_expr(F.col("qv"), cents)[0]
    rows = q.select(a["d"], a["cell"], e["d"], e["cell"]).collect()
    assert rows
    assert all((r[0], r[1]) == (r[2], r[3]) for r in rows)


def test_iters_zero_scores_seeds(spark, emb):
    """iters=0 skips training: the stats are the md5 seeds' Voronoi
    cells — and running MORE iterations never leaves the corpus
    unpartitioned (n_members still sums to n)."""
    n = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).count()
    rows = kmeans_cell_stats(emb, k=8, iters=0).collect()
    assert sum(r.n_members for r in rows) == n
    # 3 trained rounds should not do WORSE than raw seeds on total
    # inertia. Integer-lattice floor means are not textbook-monotone,
    # but a regression that breaks the update shows up here long
    # before it shows up as an oracle mismatch.
    i0 = sum(r.inertia for r in rows)
    i3 = sum(
        r.inertia for r in kmeans_cell_stats(emb, k=8, iters=3).collect()
    )
    assert i3 <= i0


def test_centroids_are_integer_lattice_means(spark, emb):
    """Re-derive the final centroids from the final assignment with
    plain Python floor-division and compare — pins the update formula
    (and the empty-cell carry) independently of the oracle."""
    cents, q = lloyd_centroids(emb, k=4, iters=2)
    a = km._assignment(F.col("qv"), cents)
    rows = q.select(a["cell"].alias("cell"), "qv").collect()
    # one more Lloyd update by hand
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(int(r.cell), []).append(list(r.qv))
    expect = []
    for c, old in enumerate(cents):
        members = by_cell.get(c)
        if not members:
            expect.append(list(old))
        else:
            n = len(members)
            expect.append(
                [sum(v[j] for v in members) // n for j in range(len(old))]
            )
    got, _ = lloyd_centroids(emb, k=4, iters=3)
    assert got == expect


def test_empty_corpus_schema(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    df = kmeans_cell_stats(empty, k=4, iters=2)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "cell",
        "n_members",
        "inertia",
        "m_sum",
        "m_l2",
    ]


def test_minibatch_merge_is_batchcount_invariant(spark, emb):
    """The merged update must not depend on HOW the corpus was split
    into ingest batches (associativity is the whole contract): 2-way
    and 5-way splits produce identical rows, and matches_full is 1
    everywhere."""
    from github_etl_spark.operators.kmeans import kmeans_minibatch_merge

    two = sorted(
        map(tuple, kmeans_minibatch_merge(emb, k=4, n_batches=2).collect())
    )
    five = sorted(
        map(tuple, kmeans_minibatch_merge(emb, k=4, n_batches=5).collect())
    )
    assert two == five
    assert all(r[-1] == 1 for r in two)
