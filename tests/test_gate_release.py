"""Every frame a streaming gate persists is released: the four
foreachBatch bodies, run the way `streaming.pipeline.stream_files`
runs them (micro-batch persisted around the call), leave the session's
CacheManager empty after a normal batch, after a batch whose store or
index is missing, and after a batch whose publish fails once every
intermediate frame is persisted.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from github_etl_spark.multimodal.media import embed_text_vec
from github_etl_spark.operators.curation import span_index_build, web_gate_expr
from github_etl_spark.operators.incremental import dedup_index_build
from github_etl_spark.operators.similarity import (
    ivf_build_index,
    ivf_portable_seed_centroids,
)
from github_etl_spark.streaming.dedup_gate import make_dedup_gate
from github_etl_spark.streaming.pipeline import _persisting
from github_etl_spark.streaming.pretrain_gate import make_pretrain_gate
from github_etl_spark.streaming.span_gate import make_span_gate
from github_etl_spark.streaming.vector_gate import make_vector_gate
from github_etl_spark.tables import load_tables


# Each helper returns its gate over the stores under ``d``, built
# from ``seed`` first when ``build`` is set, publishing to ``out``.


def _dedup(spark, seed, d, out, build):
    if build:
        dedup_index_build(seed, f"{d}/index")
    return make_dedup_gate(spark, f"{d}/index", out)


def _span(spark, seed, d, out, build):
    if build:
        span_index_build(seed, f"{d}/spans")
    return make_span_gate(spark, f"{d}/spans", out)


def _vector(spark, seed, d, out, build):
    if build:
        vecs = embed_text_vec(
            seed.where(web_gate_expr(F.col("text"))), "text", "doc_id"
        )
        ivf_build_index(
            vecs, f"{d}/index", id_col="doc_id", vec_col="vec",
            centroids=ivf_portable_seed_centroids(vecs, "doc_id", "vec", 8),
        )
    return make_vector_gate(spark, f"{d}/index", out)


def _pretrain(spark, seed, d, out, build):
    if build:
        dedup_index_build(seed, f"{d}/index")
        span_index_build(seed, f"{d}/spans")
    return make_pretrain_gate(spark, f"{d}/index", f"{d}/spans", out)


@pytest.mark.parametrize(
    "make, missing_error",
    [
        (_dedup, ValueError),
        (_span, ValueError),
        (_vector, FileNotFoundError),
        (_pretrain, ValueError),
    ],
    ids=["dedup", "span", "vector", "pretrain"],
)
def test_gate_releases_persisted_frames(
    spark, sf_dir, tmp_path, make, missing_error
):
    docs = load_tables(spark, sf_dir, register=False)["documents"].select(
        "doc_id", "text"
    )
    seed = docs.where(F.col("doc_id") % 4 == 3)
    batch = docs.where(F.col("doc_id") % 4 == 0)
    spark.catalog.clearCache()  # persisted-frame baseline: empty
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()

    stores, out = str(tmp_path / "stores"), str(tmp_path / "out")
    _persisting(make(spark, seed, stores, out, build=True))(batch, 0)
    assert spark.read.parquet(out).count() > 0
    assert cm.isEmpty(), "a normal batch leaked a CacheManager entry"

    missing = str(tmp_path / "missing")
    with pytest.raises(missing_error):
        _persisting(make(spark, seed, missing, out, build=False))(batch, 1)
    assert cm.isEmpty(), "a batch without its store leaked a CacheManager entry"

    # A regular file where the output table belongs: the publish, the
    # first write, fails after every intermediate frame is persisted.
    blocked = str(tmp_path / "blocked")
    open(blocked, "w").close()
    with pytest.raises(Py4JJavaError):
        _persisting(make(spark, seed, stores, blocked, build=False))(batch, 1)
    assert cm.isEmpty(), "a failed publish leaked a CacheManager entry"
