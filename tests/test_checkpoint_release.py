"""Iterative operators and the snapshot job free the checkpoints they
are done with.

``DataFrame.unpersist()`` does nothing for an eager checkpoint: the
CacheManager holds no entry for it, so its blocks stay registered in
the SparkContext's persistent RDDs until JVM garbage collection wakes
the ContextCleaner. Each test counts the persistent RDDs that one call
leaves registered (by id, so the cleaner freeing an earlier test's
leftovers cannot hide a leak): only the checkpoints the returned frame
still reads may remain.
"""

from __future__ import annotations

import pytest

from github_etl_spark.operators.graph import connected_components, pagerank_fixed_point
from github_etl_spark.operators.kmeans import kmeans_minibatch_merge
from github_etl_spark.operators.pipeline import bpe_learn_merges
from github_etl_spark.operators.wordpiece import wordpiece_learn
from github_etl_spark.streaming import pipeline
from tests.mock_github_server import MockGithub


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _docs(spark):
    words = ["lower", "newest", "widest", "low", "new", "wide", "slow", "snow"]
    rows = [(i, " ".join(words[(i + j) % len(words)] for j in range(5))) for i in range(40)]
    return spark.createDataFrame(rows, "id long, text string")


def _edges(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (2, 8), (8, 9)]
    return spark.createDataFrame(pairs, "src long, dst long")


def _vectors(spark):
    rows = [(i, [float((i * 7 + j) % 11) for j in range(4)]) for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize(
    "run, reads",
    [
        (lambda spark: bpe_learn_merges(_docs(spark), n_merges=8).collect(), 0),
        (lambda spark: wordpiece_learn(_docs(spark), n_merges=8).collect(), 0),
        (
            lambda spark: connected_components(_edges(spark), local_finish_edges=0).collect(),
            1,  # the final round's edge set
        ),
        (
            lambda spark: pagerank_fixed_point(
                _edges(spark), iterations=6, checkpoint_interval=1
            ).collect(),
            1,  # the last rank snapshot
        ),
        (
            lambda spark: kmeans_minibatch_merge(_vectors(spark), k=3).collect(),
            1,  # the quantized frame of the seed pass
        ),
    ],
    ids=[
        "bpe_learn", "wordpiece_learn", "connected_components", "pagerank",
        "kmeans_minibatch_merge",
    ],
)
def test_checkpoints_released(spark, run, reads):
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    assert run(spark)
    left = len(_persistent_rdds(spark) - before)
    assert left <= reads, f"{left} persistent RDDs left, the result reads {reads}"


@pytest.mark.parametrize(
    "repos",
    [["acme/widgets"], ["acme", "acme/widgets"]],
    ids=["lands", "failing_repo"],
)
def test_run_batch_releases_its_scans(spark, tmp_path, repos):
    """``run_batch`` frees every repo's checkpointed scan once its load
    has run, also when another repo's chain fails (``acme`` 404s when
    its scan is planned)."""
    before = _persistent_rdds(spark)
    with MockGithub() as mock:
        run = lambda: pipeline.run_batch(  # noqa: E731
            spark, repos, mock.url, str(tmp_path / "wh"), "2026-01-15", per_page=3
        )
        if len(repos) > 1:
            with pytest.raises(Exception, match="404"):
                run()
        else:
            run()
    assert not _persistent_rdds(spark) - before


def test_run_batch_releases_the_scan_when_its_load_fails(spark, tmp_path, monkeypatch):
    """A chain that fails after its scan is checkpointed still frees it."""

    def broken_transform(prs, repo):
        raise RuntimeError("transform failed")

    monkeypatch.setattr(pipeline, "transform", broken_transform)
    before = _persistent_rdds(spark)
    with MockGithub() as mock, pytest.raises(RuntimeError, match="transform failed"):
        pipeline.run_batch(
            spark, ["acme/widgets"], mock.url, str(tmp_path / "wh"), "2026-01-15", per_page=3
        )
    assert not _persistent_rdds(spark) - before
