"""Connected components (operators/graph.py) vs a pure-python
union-find ground truth, plus the cluster_assignment composition used
by the dedup_cluster_canonical catalog query."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from github_etl_spark.operators.graph import (
    cluster_assignment,
    connected_components,
)


def union_find(edges):
    """Ground truth: {node: component-min} via union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def run_cc(spark, edges, **kw):
    df = spark.createDataFrame(edges or [(None, None)], "src long, dst long")
    if not edges:
        df = df.filter(F.lit(False))
    out = connected_components(df, **kw)
    return {r["node"]: r["component"] for r in out.collect()}


CASES = [
    ("two_pairs", [(1, 2), (3, 4)]),
    ("triangle_plus_chain", [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)]),
    ("star", [(5, 1), (5, 2), (5, 3), (5, 4)]),
    # Path graphs are the worst case for naive min-propagation
    # (O(diameter) rounds); large/small-star must do it in O(log n).
    ("long_path", [(i, i + 1) for i in range(1, 64)]),
    ("reversed_path", [(i + 1, i) for i in range(1, 64)]),
    ("dup_and_self", [(1, 2), (2, 1), (1, 1), (2, 3)]),
    ("empty", []),
]


# local_finish=0 forces the distributed star iteration; the default
# takes the bounded-collect union-find shortcut on these small graphs.
# Both must produce identical labels.
@pytest.mark.parametrize("local_finish", [0, 200_000], ids=["distributed", "local"])
@pytest.mark.parametrize("name,edges", CASES, ids=[c[0] for c in CASES])
def test_components_match_union_find(spark, name, edges, local_finish):
    clean = [(a, b) for a, b in edges if a != b]
    assert run_cc(spark, edges, local_finish_edges=local_finish) == union_find(clean)


@pytest.mark.parametrize("local_finish", [0, 200_000], ids=["distributed", "local"])
def test_components_random_graphs(spark, local_finish):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 80))
        ]
        clean = [(a, b) for a, b in edges if a != b]
        assert (
            run_cc(spark, edges, local_finish_edges=local_finish) == union_find(clean)
        ), f"trial {trial}"


def test_local_finish_mid_iteration(spark):
    """A DENSE graph that starts above the threshold must cut over to
    the local finish only after star rounds compress away redundant
    edges — exercising union-find on a star-TRANSFORMED edge set, not
    the original input. 60 nodes fully meshed in 3 cliques = 3×C(20,2)
    = 570 distinct edges > 300; any star round collapses each clique
    toward its minimum (≤ ~60 edges), forcing the mid-loop cutover.
    (A sparse graph can never trigger it: connectivity keeps the edge
    count ≥ nodes-1 every round, so use redundancy, not size.)"""
    edges = [
        (base + i, base + j)
        for base in (0, 100, 200)
        for i in range(20)
        for j in range(i + 1, 20)
    ]
    got = run_cc(spark, edges, local_finish_edges=300)
    assert got == union_find(edges)


def test_roots_label_themselves(spark):
    out = run_cc(spark, [(7, 3), (3, 9)])
    assert out == {3: 3, 7: 3, 9: 3}


def test_cluster_assignment_covers_all_docs(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (6, 7)], "id_a long, id_b long"
    )
    out = cluster_assignment(docs, pairs)
    rows = {r["doc_id"]: (r["component_id"], r["is_canonical"]) for r in out.collect()}
    assert rows == {
        1: (1, True),
        2: (1, False),
        3: (3, True),  # singleton
        4: (4, True),
        5: (1, False),
        6: (6, True),
        7: (6, False),
    }
    # exactly one canonical per component, every doc assigned
    assert len(rows) == 7


def test_cluster_assignment_no_broadcast_path(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    out = cluster_assignment(docs, pairs, broadcast_components=False)
    rows = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert rows == {1: 1, 2: 2, 3: 1, 4: 4}


def test_reliable_checkpoint_identical_labels(spark, tmp_path):
    """checkpoint_dir= switches the per-round lineage truncation to a
    reliable checkpoint(); labels must be identical to the default
    localCheckpoint path, with the distributed star rounds forced."""
    edges = [(i, i + 1) for i in range(1, 64)] + [(100, 101), (101, 102)]
    ckpt = str(tmp_path / "cc_ckpt")
    got = run_cc(spark, edges, local_finish_edges=0, checkpoint_dir=ckpt)
    assert got == run_cc(spark, edges, local_finish_edges=0)
    import os

    assert os.path.isdir(ckpt)  # rounds actually wrote there


def test_session_checkpoint_dir_selects_reliable_path(spark, tmp_path):
    """A checkpoint dir configured on the SESSION (the production
    default: setCheckpointDir at startup) must switch the rounds to
    reliable checkpoint() without any per-call argument — the fragile
    localCheckpoint is only the no-directory-known local fast path."""
    import os

    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    ckpt = str(tmp_path / "session_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        edges = [(i, i + 1) for i in range(1, 64)]
        got = run_cc(spark, edges, local_finish_edges=0)
        assert got == run_cc(spark, edges, local_finish_edges=0)
        # rounds wrote reliable checkpoint files under the session dir
        assert any(files for _, _, files in os.walk(ckpt))
    finally:
        # restore: tests sharing the session must not inherit the dir
        if before is not None:
            sc.setCheckpointDir(before)
        else:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )


def test_triangle_count_k4(spark):
    from github_etl_spark.operators.graph import triangle_count

    # K4: every pair of 4 nodes — C(4,3)=4 triangles, 6 edges
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    row = triangle_count(edges).head()
    assert (row.n_triangles, row.n_edges, row.n_nodes) == (4, 6, 4)


def test_triangle_count_triangle_free(spark):
    from github_etl_spark.operators.graph import triangle_count

    # star + path: no triangles
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12), (12, 13)],
        "src long, dst long",
    )
    row = triangle_count(edges).head()
    assert row.n_triangles == 0
    assert row.n_edges == 8


def test_triangle_count_dedups_and_orientation(spark):
    from github_etl_spark.operators.graph import triangle_count

    # one triangle given with duplicated / reversed edges and a self-loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)], "src long, dst long"
    )
    row = triangle_count(edges).head()
    assert (row.n_triangles, row.n_edges, row.n_nodes) == (1, 3, 3)


def test_triangle_count_hub_graph(spark):
    from github_etl_spark.operators.graph import triangle_count
    from pyspark.sql import functions as F

    # hub 0 connected to 1..50, plus ring edges i—(i+1): triangle (0,i,i+1)
    hub = [(0, i) for i in range(1, 51)]
    ring = [(i, i + 1) for i in range(1, 50)]
    edges = spark.createDataFrame(hub + ring, "src long, dst long")
    row = triangle_count(edges).head()
    assert row.n_triangles == 49


def test_cooccurrence_edges_matches_self_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from github_etl_spark.operators.graph import cooccurrence_edges

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    got = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    want = a.join(b, "k").where(F.col("src") < F.col("dst")).select("src", "dst").distinct()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_cooccurrence_edges_group_cap(spark):
    from github_etl_spark.operators.graph import cooccurrence_edges

    rows = [(1, i) for i in range(10)] + [(2, 100), (2, 101), (2, 102)]
    df = spark.createDataFrame(rows, "g long, item long")
    capped = cooccurrence_edges(df, "g", "item", max_group_size=5)
    # group 1 (10 items) dropped, group 2 keeps its 3 pairs
    assert sorted(map(tuple, capped.collect())) == [
        (100, 101), (100, 102), (101, 102),
    ]


def test_per_call_checkpoint_dir_does_not_leak(spark, tmp_path):
    """A checkpoint_dir= argument is scoped to the call: the session's
    global checkpoint dir must be restored afterward, so an ad-hoc
    call cannot silently flip LATER operators onto the reliable path
    (or point them at a directory they never chose)."""
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    edges = [(1, 2), (2, 3)]
    run_cc(spark, edges, local_finish_edges=0,
           checkpoint_dir=str(tmp_path / "scoped_ckpt"))
    assert sc.getCheckpointDir() == before


# ---------------------------------------------------------------- pagerank


def _pr(spark, edges, **kw):
    from github_etl_spark.operators.graph import pagerank_fixed_point

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["deg"], r["rank_fp"])
        for r in pagerank_fixed_point(df, **kw).collect()
    }


def test_pagerank_path_graph_hand_computed(spark):
    # path 1-2-3, scale 10^6: base = 333333, teleport = 15*base.
    # round 1: s(1)=s(3)=r0(2)//2=166666, s(2)=333333+333333.
    # r1(1) = (4999995 + 85*166666)//100 = 191666
    # r1(2) = (4999995 + 85*666666)//100 = 616666
    got = _pr(spark, [(1, 2), (2, 3)], iterations=1, scale=10**6)
    assert got == {1: (1, 191666), 2: (2, 616666), 3: (1, 191666)}


def test_pagerank_zero_iterations_is_uniform(spark):
    got = _pr(spark, [(1, 2), (2, 3), (1, 3)], iterations=0, scale=10**6)
    assert all(r == 333333 for _, r in got.values())


def test_pagerank_symmetry_and_mass_conservation(spark):
    # star: center 0 with leaves 1..6 — all leaves must tie exactly,
    # and total fixed-point mass stays within the documented leak
    # bound (a handful of quanta per node per round).
    edges = [(0, i) for i in range(1, 7)]
    got = _pr(spark, edges, iterations=5)
    leaf_ranks = {got[i][1] for i in range(1, 7)}
    assert len(leaf_ranks) == 1
    assert got[0][1] > got[1][1]
    total = sum(r for _, r in got.values())
    assert abs(total - 10**12) < 10**7


def test_pagerank_repartition_invariant(spark):
    from github_etl_spark.operators.graph import pagerank_fixed_point

    edges = [(i, (i * 7) % 23 + 100) for i in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["rank_fp"]
         for r in pagerank_fixed_point(df, iterations=3).collect()}
    b = {r["node"]: r["rank_fp"]
         for r in pagerank_fixed_point(df.repartition(13), iterations=3).collect()}
    assert a == b


def test_pagerank_empty_graph(spark):
    got = _pr(spark, [], iterations=3)
    assert got == {}


def test_pagerank_rejects_non_integral_ids(spark):
    import pytest

    from github_etl_spark.operators.graph import pagerank_fixed_point

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(TypeError):
        pagerank_fixed_point(df)


def test_pagerank_reliable_checkpoints_cleaned(spark, tmp_path):
    """With a session checkpoint dir, every intermediate snapshot
    (edges, degrees, per-round ranks) must be deleted by the time the
    result is materialized — only the FINAL ranks checkpoint may
    remain (the no-copy-per-round/no-copy-per-call disk contract the
    iterative operators share)."""
    import os

    from github_etl_spark.operators.graph import pagerank_fixed_point

    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    ckpt = str(tmp_path / "pr_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 40)], "src long, dst long"
        )
        got = pagerank_fixed_point(df, iterations=3)
        assert got.count() == 40
        rdd_dirs = [
            os.path.join(r, d)
            for r, ds, _ in os.walk(ckpt)
            for d in ds
            if d.startswith("rdd-")
        ]
        assert len(rdd_dirs) == 1, rdd_dirs
    finally:
        if before is not None:
            sc.setCheckpointDir(before)
        else:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )


def test_er_fuzzy_entities_blocking_and_clusters(spark, tmp_path):
    """The ER composition on a crafted record table: near-identical
    names cluster within a block, identical names across blocks do NOT
    (blocking is a recall/cost trade, pinned explicit), singletons are
    their own canonical entity."""
    import pyarrow as pa

    from tests.conftest import sf_dir_with_table

    rows = [
        (1, "acme corp", 0),
        (2, "acme corp.", 0),   # dist 1 -> clusters with 1
        (3, "acme corp", 1),    # identical name, OTHER block -> singleton
        (4, "zzz unrelated", 0),
    ]
    sf = sf_dir_with_table(tmp_path, "supplier", pa.table({
        "s_suppkey": pa.array([r[0] for r in rows], pa.int64()),
        "s_name": pa.array([r[1] for r in rows]),
        "s_nationkey": pa.array([r[2] for r in rows], pa.int32()),
    }))
    from github_etl_spark.plans import QUERIES

    got = {r["s_suppkey"]: r.asDict()
           for r in QUERIES["er_fuzzy_entities"].fn(spark, sf).collect()}
    assert got[1]["entity_id"] == 1 and got[2]["entity_id"] == 1
    assert got[1]["cluster_size"] == 2 and got[2]["cluster_size"] == 2
    assert got[1]["is_canonical"] is True and got[2]["is_canonical"] is False
    assert got[3]["entity_id"] == 3 and got[3]["cluster_size"] == 1
    assert got[4]["is_canonical"] is True


def test_triangle_count_releases_caches(spark):
    """triangle_count must not leak CacheManager entries: the r13
    shape left the oriented-edge frame persisted forever (one
    MEMORY_AND_DISK entry per call in a long-lived session — VERDICT
    r13 item 3). The r14 shape materializes the 1-row result before
    returning and unpersists the frame. localCheckpoint blocks (the
    canonical edges, the 1-row result) are GC-bounded and don't
    register in the CacheManager, so after the call the CacheManager
    must be exactly as empty as before it."""
    from github_etl_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    spark.catalog.clearCache()  # persisted-frame baseline: empty
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    row = triangle_count(edges).head()
    assert (row.n_triangles, row.n_edges) == (1, 4)
    assert cm.isEmpty(), "triangle_count leaked a CacheManager entry"
