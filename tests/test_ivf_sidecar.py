"""The IVF centroid sidecar is the ``{build_id, centroids}`` object
that `ivf_build_index` writes; anything else is refused by name."""

from __future__ import annotations

import json

import pytest

from github_etl_spark.operators.similarity import ivf_query_index


def test_bare_list_sidecar_raises(spark, tmp_path):
    path = str(tmp_path / "ivf")
    spark.createDataFrame([(json.dumps([[1.0, 0.0], [0.0, 1.0]]),)], "value string").coalesce(
        1
    ).write.text(path + "_centroids")
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ivf_build_index"):
        ivf_query_index(spark, path, queries)
