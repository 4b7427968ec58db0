"""The IVF centroid sidecar is the ``{build_id, centroids}`` object
that `ivf_build_index` writes, with integer centroids; anything else is
refused by name."""

from __future__ import annotations

import json

import pytest

from github_etl_spark.operators.similarity import (
    _read_ivf_sidecar,
    ivf_build_index,
    ivf_index_append,
    ivf_query_index,
)


def test_bare_list_sidecar_raises(spark, tmp_path):
    path = str(tmp_path / "ivf")
    spark.createDataFrame([(json.dumps([[1.0, 0.0], [0.0, 1.0]]),)], "value string").coalesce(
        1
    ).write.text(path + "_centroids")
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ivf_build_index"):
        ivf_query_index(spark, path, queries)


def test_float_centroids_are_refused(spark, tmp_path):
    """A float index (the sample k-means quantizer's) would be truncated
    by the integer cell kernel: its sidecar is refused by query and
    append, and float centroids are refused by the build."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf")
    ivf_build_index(vecs, path)
    # The same index under float centroids, as an older build wrote it.
    _, build_id = _read_ivf_sidecar(spark, path)
    floats = [[1.0, 0.0], [0.0, 1.0]]
    sidecar = json.dumps({"build_id": build_id, "centroids": floats})
    spark.createDataFrame([(sidecar,)], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(path + "_centroids")
    with pytest.raises(ValueError, match="ivf_build_index"):
        ivf_query_index(spark, path, vecs)
    with pytest.raises(ValueError, match="ivf_build_index"):
        ivf_index_append(spark, path, vecs, ingest_batch=0)
    with pytest.raises(ValueError, match="ivf_build_index"):
        ivf_build_index(vecs, str(tmp_path / "built"), centroids=floats)
