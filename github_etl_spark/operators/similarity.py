"""Similarity search over an embedding column (EXT — SURVEY.md §2.11).

Brute-force cosine top-k is the correctness baseline: broadcast the
(small) query set against the corpus, dot products via higher-order
functions (zip_with/aggregate — JVM-side, no Python), rank with a
window. The scale path buckets the corpus with hyperplane LSH (integer
planes from md5, so DuckDB replays the buckets) and each query only
scans matching buckets — the same candidate-generation idea as MinHash
LSH but for cosine space. IVF has one coarse quantizer, the md5-ordered
integer seed vectors (`ivf_portable_seed_centroids`), and one cell
kernel (`ivf_cells`, an Arrow int64 matmul), shared by the inline and
materialized indexes, semantic dedup, IVF-PQ and the streaming vector
gate — so every IVF path replays in DuckDB.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegralType

from ..functions.rounding import round_det
from ..sinks.store import (
    CENTROIDS,
    append_batch,
    batch_ids,
    fold,
    read_sidecar,
    write_build,
    write_sidecar,
)
from .partitioning import ensure_parallelism


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a, b):
    """Σ aᵢ·bᵢ — sequential left fold, deterministic element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a):
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a, b):
    """NULL (not NaN) for a zero-norm side: 0/0 would give NaN, which
    Spark sorts as the LARGEST double — a single all-zeros embedding
    would otherwise outrank every true neighbor in a desc top-k. NULLs
    sort last under desc, dropping degenerate vectors to the bottom."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom != 0, dot_expr(a, b) / denom)


def _topk_per_query(scored, k: int):
    """Shared per-query top-k tail: deterministic rank (cosine desc,
    neighbor id asc — NULL cosines last), k rows per query."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_det("cosine_raw", 4).alias("cosine"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (it's the small side by construction),
    so the corpus is scanned exactly once with no shuffle before the
    final per-query top-k window — which runs on query_id partitions,
    i.e. parallelism = #queries. Self-matches are excluded.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("q_vec")
    )
    # Per-row cost is O(dim × #queries) — widen a narrow corpus scan
    # (no-op at scale, where the corpus arrives in many partitions).
    c = ensure_parallelism(corpus).select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
        )
    )
    return _topk_per_query(scored, k)


def md5_int_planes(
    dim: int, n_planes: int, table: int = 0
) -> list[list[int]]:
    """Integer hyperplane components derived from md5.

    Component (p, i) = first 4 hex digits of md5("lsh:{table}:{p}:{i}")
    as an int, recentered to [-32768, 32767]. md5 is the one hash Spark,
    DuckDB and Python's hashlib all share, so an oracle can inline the
    SAME constants (or re-derive them in SQL) and replay bucket
    assignment bit-for-bit — the trick the MinHash and SimHash
    families use (see operators/dedup.py), applied to cosine LSH.
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"lsh:{table}:{p}:{i}".encode()).hexdigest()[:4], 16)
            - 32768
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def portable_bucket_expr(vec, planes: list[list[int]]):
    """Cross-engine-exact LSH bucket id.

    Float hyperplanes would be unverifiable across engines: a dot
    product near zero can flip sign under a different float summation
    order, silently moving a vector to another bucket. This quantizes
    the vector to integers (`quantize_expr`) and dots it against
    INTEGER plane components, so the sign decision is exact integer
    arithmetic: associativity-free, overflow-safe (|component| < 2^15,
    |qv_i| ~ 1000, dims ~ 10^2 → sums ≪ 2^63), and reproducible in
    plain SQL.
    """
    qv = quantize_expr(vec)
    bits = []
    for p_idx, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(qv, F.array(*[F.lit(c) for c in p]), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << p_idx)).otherwise(F.lit(0)))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("long")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing a query's LSH
    bucket are scored. 2^n_planes buckets → expected candidate fraction
    2^-n_planes of the corpus per query per table.

    ``n_tables`` adds band repetitions (multi-table LSH): each table
    hashes with an independent hyperplane set, and a pair is a
    candidate if it collides in ANY table — recall rises ~(1-(1-p)^L)
    for per-table collision probability p, at L× candidate cost
    (recall-vs-tables monotonicity asserted in tests). Implemented as
    per-side bucket ARRAYS and an `exists(zip_with(=))` join predicate,
    so each pair is scored once (no union + distinct pass), and the
    query side stays a single broadcast.

    Buckets come from md5-derived INTEGER plane components over
    integer-quantized vectors (`portable_bucket_expr`), so bucket
    assignment is exact and DuckDB replays the whole bucket →
    candidate → cosine → top-k pipeline value-for-value (the catalog's
    `sim_lsh_topk`). NULL/empty vectors are dropped on both sides:
    they have no meaningful bucket (same contract as `ivf_topk`).
    """
    tables = [md5_int_planes(64, n_planes, table=t) for t in range(n_tables)]

    def bucket_arr(vec):
        return F.array(*[portable_bucket_expr(vec, planes) for planes in tables])

    valid = F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    corpus = corpus.where(valid)
    queries = queries.where(valid)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("q_vec"),
    ).withColumn("q_buckets", bucket_arr(F.col("q_vec")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("c_vec"),
    ).withColumn("c_buckets", bucket_arr(F.col("c_vec")))

    if n_tables == 1:
        # Single table: expose the bucket as a scalar equi-key so the
        # planner picks BroadcastHashJoin (the exists() predicate below
        # would force a nested-loop probe of every pair).
        collide = F.element_at(F.col("q_buckets"), 1) == F.element_at(
            F.col("c_buckets"), 1
        )
    else:
        collide = F.exists(
            F.zip_with(F.col("q_buckets"), F.col("c_buckets"), lambda a, b: a == b),
            lambda x: x,
        )
    scored = c.join(
        F.broadcast(q),
        collide & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# IVF: one coarse quantizer (md5 integer seeds), one cell kernel
# ---------------------------------------------------------------------------


def quantize_expr(vec):
    """vec → array<long>: floor(v*1000 + 0.5) per component. One double
    multiply + add then floor — bit-identical under IEEE in any engine,
    so integer arithmetic downstream is exactly replayable in SQL
    (`sql_quantize` is the DuckDB spelling)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5))
    )


def sql_quantize(expr: str) -> str:
    """`quantize_expr` as DuckDB SQL text over a list column (oracle
    lockstep)."""
    return (
        f"list_transform({expr}, "
        "v -> CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )


def _int_vec(df: DataFrame, vec_col: str):
    """``vec_col`` of ``df`` as the integer vector the IVF quantizer
    works in: an integral column as it is (already-integer encoder or
    pre-quantized output), any other one through `quantize_expr`."""
    if isinstance(df.schema[vec_col].dataType.elementType, IntegralType):
        return F.col(vec_col)
    return quantize_expr(F.col(vec_col))


def ivf_portable_seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[list[int]]:
    """The IVF coarse quantizer: the `n_centroids` corpus vectors
    ranked first by ``(md5(cast(id as string)), id)``, as integer
    vectors (`_int_vec`).

    No Lloyd iterations and no normalization — the whole selection is
    discrete (md5 hex ordering + integer quantization), so DuckDB can
    re-derive the SAME centroids from the same table with
    ``ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT n`` and replay cell
    assignment exactly (`sim_ivf_topk` in plans/ext.py) — the same bar
    `portable_bucket_expr` sets for LSH. Lloyd rounds from these seeds
    are operators/kmeans.py.

    orderBy+limit plans as a distributed top-k (no full sort); the
    driver transfer is bounded at `n_centroids` rows.
    """
    rows = (
        corpus.where(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
        )
        .select(F.col(id_col).alias("i"), _int_vec(corpus, vec_col).alias("qv"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(n_centroids)
        .collect()
    )
    return [list(r.qv) for r in rows]


def ivf_cells(df: DataFrame, vec_col: str, centroids: list[list[int]], n: int):
    """array<int>: per row of ``df``, the ``n`` cells whose centroids
    have the largest EXACT integer dot product with the row's integer
    vector (`_int_vec`), best first, ties to the LOWEST cell — the one
    cell kernel of every IVF path: assignment takes element 0 of n=1,
    probes explode n=nprobe.

    One Arrow-batched int64 matmul per batch and a stable argsort of
    −dot: the (cells × dim) matrix ships once per task instead of being
    inlined as cells·dim literals into generated code, so the cost
    stays flat in cell count (the 100 TB sizing rule, cells ∝ corpus).
    Exact: |qv_i|, |c_i| ~ 10³ and dim ~ 10² keep |dot| ≪ 2⁶³, so DuckDB
    replays the ranking with ``ORDER BY dot DESC, cell``.
    """
    cmat = np.asarray(centroids, dtype=np.int64)

    @pandas_udf("array<int>")
    def top(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype=object)
        m = np.stack(batch.to_numpy()).astype(np.int64, copy=False)
        order = np.argsort(-(m @ cmat.T), axis=1, kind="stable")[:, :n]
        return pd.Series(list(order.astype(np.int32)))

    return top(_int_vec(df, vec_col))


def _require_int_centroids(centroids: list, where: str) -> None:
    """Refuse float centroids: the cell kernel is int64, so a float
    index (one trained before the quantizer became the integer seeds)
    would be silently truncated rather than probed as built."""
    if not all(isinstance(x, int) for c in centroids for x in c):
        raise ValueError(
            f"non-integer IVF centroids in {where}: the quantizer is the "
            "integer md5 seeds (ivf_portable_seed_centroids); rebuild "
            "the index with ivf_build_index."
        )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest-centroid cell (the IVF
    "inverted list" id, `ivf_cells` n=1). At scale, write the result
    partitioned / bucketed BY CELL so probes prune to nprobe
    directories and the probe join needs no corpus shuffle. Vectors
    must be fixed-dimension (the embeddings contract); NULL / empty
    ones are dropped.
    """
    if not centroids:
        return corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("c_vec"),
            F.lit(None).cast("int").alias("cell"),
        ).filter(F.lit(False))
    # Degenerate vectors (NULL / empty) can't be assigned a cell — drop
    # them instead of letting a single bad row crash the Arrow matmul.
    corpus = corpus.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    )
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
        ivf_cells(corpus, vec_col, centroids, 1)[0].alias("cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    train_on: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine: score only corpus vectors whose
    cell is among the query's `nprobe` closest centroids.

    Every branch before the cosine (centroid selection, cell
    assignment, probe ranking) is exact integer / hash arithmetic a SQL
    oracle replays (`sim_ivf_topk`); only the final cosine scores are
    floats, rounded to 4 decimals by the shared `_topk_per_query` tail.

    ``train_on`` (default: the corpus) restricts centroid selection to
    a sub-frame while still assigning/scoring the full corpus — the
    inline form of querying an index built before later appends
    arrived (`ivf_index_append`'s stale-centroid regime,
    `sim_ivf_append_recall`).

    Cost per query ≈ (nprobe / n_centroids) of the corpus vs brute
    force; recall rises with nprobe (asserted in tests). The probed
    query set (query_id × nprobe cells) is broadcast, so the only wide
    operation is the final per-query top-k window.

    Degenerate vectors (NULL / empty array) are silently dropped on
    BOTH sides: a corpus row without a vector can't be assigned a cell
    and a query row without a vector can't rank cells, so such queries
    are simply absent from the result (fewer groups, not an error).
    Pre-filter and fail upstream if that should be a hard error.
    """
    cents = ivf_portable_seed_centroids(
        corpus if train_on is None else train_on, n_centroids=n_centroids
    )
    return _score_probed(
        ivf_assign(corpus, cents), _probed_queries(queries, cents, nprobe), k
    )


def _probed_queries(
    queries: DataFrame, centroids: list[list[int]], nprobe: int
) -> DataFrame:
    """(query_id, q_vec, cell) — one row per query × probed cell.

    Shared by the inline and materialized-index paths so their probe
    selection cannot diverge (the index roundtrip test asserts exact
    equality of results)."""
    vec = _as_double(F.col("embedding"))
    if not centroids:
        return queries.select(
            F.col("vec_id").alias("query_id"),
            vec.alias("q_vec"),
            F.lit(None).cast("int").alias("cell"),
        ).filter(F.lit(False))
    # A NULL/empty query vector can't rank cells — it contributes no
    # probes (mirrors the corpus-side degenerate-vector drop).
    queries = queries.where(
        F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    )
    return queries.select(
        F.col("vec_id").alias("query_id"),
        vec.alias("q_vec"),
        F.explode(ivf_cells(queries, "embedding", centroids, nprobe)).alias(
            "cell"
        ),
    )


def _score_probed(assigned: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Shared scoring tail: broadcast the probed queries against the
    cell-matched corpus vectors, cosine-score, per-query top-k."""
    scored = assigned.join(F.broadcast(q), ["cell"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
    )
    return _topk_per_query(scored, k)


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: list[list[int]] | None = None,
) -> list[list[int]]:
    """Materialize the IVF index `ivf_topk` computes inline: cell
    assignments written as parquet PARTITIONED BY cell, centroids as a
    one-line text sidecar at ``<path>_centroids``.

    The centroids are the corpus' md5 integer seeds
    (`ivf_portable_seed_centroids`); ``centroids`` overrides them with
    caller-supplied integer cells (e.g. seeds drawn from another
    frame — streaming/vector_gate.py). Float centroids raise
    ValueError: the cell kernel is integer.

    This is the 100 TB shape of the design note on `ivf_assign`: select
    the seeds once (one bounded top-k), assign once (one corpus pass),
    write once — then every query batch reads only its probed cell
    directories (static partition pruning, see `ivf_query_index`)
    instead of re-scoring the corpus. Both artifacts go through Spark
    writers, so the layout works on any supported filesystem, not just
    local disk.

    The two artifacts are stitched by a build fingerprint (md5 of the
    centroid list) embedded in BOTH: a `build_id` column in the
    assignment parquet and a `build_id` field in the sidecar JSON,
    which is written first (`sinks.store.write_sidecar`).
    `ivf_query_index` asserts they match, so a crash between the two
    writes (or a rebuild racing a reader) surfaces as a clear error
    instead of silently probing the wrong cells. Degenerate corpus
    vectors (NULL / empty) are dropped before assignment — they cannot
    be placed in a cell (see `ivf_assign`). Returns the centroids.
    """
    import hashlib
    import json

    if centroids is None:
        centroids = ivf_portable_seed_centroids(
            corpus, id_col, vec_col, n_centroids
        )
    _require_int_centroids(centroids, "the centroids= argument")
    build_id = hashlib.md5(
        json.dumps(centroids).encode("utf-8")
    ).hexdigest()
    write_sidecar(
        corpus.sparkSession, path, CENTROIDS,
        {"build_id": build_id, "centroids": centroids},
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col).withColumn(
        "build_id", F.lit(build_id)
    )
    # Build rows live in ingest_batch −1 under their cell;
    # `ivf_index_append` adds later vectors under their own batch
    # partition (second level, so `cell` pruning is unchanged).
    write_build(assigned, path, "cell")
    return centroids


def _read_ivf_sidecar(spark, path: str) -> tuple[list, str]:
    """(centroids, build_id) from the `ivf_build_index` sidecar —
    shared by the query, append and fold paths so a missing/partial
    build fails identically everywhere (`sinks.store.StoreMissing`, a
    FileNotFoundError naming the sidecar), and so does an index with
    float centroids (ValueError naming ivf_build_index)."""
    meta = read_sidecar(spark, path, CENTROIDS, "ivf_build_index")
    if not (isinstance(meta, dict) and {"build_id", "centroids"} <= meta.keys()):
        raise ValueError(
            f"IVF centroid sidecar of {path!r} is not a "
            "{build_id, centroids} object — not written by "
            "ivf_build_index; rebuild the index."
        )
    _require_int_centroids(meta["centroids"], f"the sidecar of {path!r}")
    return meta["centroids"], meta["build_id"]


def ivf_index_assign(
    spark, path: str, vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``vectors`` assigned to the cells of the IVF index at ``path``
    (its sidecar centroids, no retraining) and stamped with its build
    fingerprint: the rows `ivf_index_publish` appends. Reads the
    sidecar once, here and eagerly, so a streaming gate that calls this
    before its first write fails before it publishes anything. Raises
    ValueError for an empty-corpus build, whose index has no cell to
    assign a new vector to."""
    centroids, build_id = _read_ivf_sidecar(spark, path)
    if not centroids:
        raise ValueError(
            f"IVF index at {path!r} has no centroids (empty-corpus "
            "build) — appends cannot be assigned; rebuild with data"
        )
    return ivf_assign(vectors, centroids, id_col, vec_col).withColumn(
        "build_id", F.lit(build_id)
    )


def ivf_index_publish(assigned: DataFrame, path: str, ingest_batch: int) -> None:
    """Append ``assigned`` (`ivf_index_assign` rows) to the index at
    ``path`` as batch ``ingest_batch``: a dynamic overwrite of exactly
    the touched ``(cell, ingest_batch=N)`` partitions."""
    append_batch(assigned, path, ingest_batch, "cell")


def ivf_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    ingest_batch: int,
) -> None:
    """Incremental IVF maintenance: assign NEW vectors (``vec_id``,
    ``embedding``) to the EXISTING index's cells (sidecar centroids —
    no retraining, `ivf_index_assign`) and dynamic-overwrite exactly
    the touched ``(cell, ingest_batch=N)`` partitions
    (`ivf_index_publish`, through the append all three stores share).
    A replayed/retried append republishes its own partitions —
    idempotent under at-least-once delivery; `cell`-level directory
    pruning in `ivf_query_index` is untouched (ingest_batch is the
    SECOND partition level).

    The appended rows carry the sidecar's build fingerprint, so the
    build-vs-assignment consistency probe keeps working across
    appends; a rebuild (new build_id) racing an append surfaces as
    the usual mismatch error at query time.

    Centroids go STALE as the corpus drifts — that is a measured
    contract, not a hope: `sim_ivf_append_recall` (plans/ext.py) pins
    recall@5 of stale-centroid retrieval against a fresh rebuild,
    per query. Negative batch ids are reserved for build and folded
    rows (raises).

    At 100 TB: per-ingest cost is one batch-sized assignment pass
    (centroid scoring is Arrow-batched, map-only) + a write touching
    ≤ min(|batch|, n_centroids) cell directories; the index is never
    rewritten and never shuffled."""
    ivf_index_publish(
        ivf_index_assign(spark, path, new_vectors, "vec_id", "embedding"),
        path,
        ingest_batch,
    )


def _ivf_fold_marker(path: str) -> str:
    return path + "_folding"


def ivf_index_fold(spark, path: str) -> int:
    """Collapse the per-append ``ingest_batch`` partitions into ONE
    fresh batch id per cell — the partition-count maintenance op for
    an appended IVF index (after thousands of `ivf_index_append`
    micro-batches, scan cost is directory listing, not bytes), through
    the fold every store shares (`sinks.store.fold`) with one crucial
    addition: a half-folded VECTOR index is NOT a harmless superset.
    Duplicated vectors change query results (the same neighbor scores
    twice and occupies two top-k slots), so unlike the membership
    stores the fold is guarded by a MARKER: written FIRST, removed
    LAST, and `ivf_query_index` refuses to serve while it exists. A
    crash at any point leaves the marker; re-running the fold
    converges (it re-distincts every surviving row into a fresh batch
    id and deletes the rest) and re-enables queries.

    Returns the number of partitions folded (0 = nothing to do:
    a single batch id and no leftover marker). Run only with no
    in-flight append whose batch may replay — folding erases batch
    identity (the standard streaming-compaction caveat).

    Local-filesystem marker (os/shutil), like the snapshot retention
    sweep — at cloud scale swap for the Hadoop FileSystem API."""
    import shutil

    centroids, _bid = _read_ivf_sidecar(spark, path)
    if not centroids:
        return 0  # empty-corpus build: no cell, nothing to fold
    marker = _ivf_fold_marker(path)
    if len(batch_ids(path)) <= 1 and not os.path.exists(marker):
        return 0
    os.makedirs(marker, exist_ok=True)
    with open(os.path.join(marker, "MARKER"), "w") as f:
        f.write("folding\n")
    # A failed fold raises here and leaves the marker: queries keep
    # refusing until a re-run finishes the job.
    n = fold(spark, path)
    shutil.rmtree(marker)
    return n


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine against a materialized `ivf_build_index` layout.

    The probed cell set is computed from the (small) query batch and
    pushed as a STATIC ``cell IN (...)`` partition filter, so the scan
    touches only ``≤ queries×nprobe`` of the index's cell directories —
    no corpus shuffle, no full scan (asserted against the executed
    plan's PartitionFilters in tests). Probe selection and the scoring
    tail are the same helpers `ivf_topk` uses, so for the same
    centroids the results are identical to the inline path.

    Queries with NULL / empty vectors contribute no probes and are
    silently absent from the result (same contract as `ivf_topk`);
    pre-filter upstream if that should be an error. The sidecar and
    parquet `build_id` fingerprints must agree (see `ivf_build_index`)
    — a mismatch raises instead of probing against the wrong centroids.
    """
    centroids, build_id = _read_ivf_sidecar(spark, path)
    if os.path.exists(_ivf_fold_marker(path)):
        # A crashed ivf_index_fold leaves duplicated vectors — NOT a
        # harmless superset for top-k (a duplicate occupies two result
        # slots). Refuse until the fold is re-run to completion.
        raise RuntimeError(
            f"IVF index at {path!r} has an unfinished fold (marker "
            f"{_ivf_fold_marker(path)!r}) — re-run ivf_index_fold to "
            "converge before querying"
        )
    # Materialize the probed query set once (bounded: queries×nprobe
    # rows): it is consumed twice — the IN-list below and the scoring
    # join — and would otherwise re-run the centroid-scoring UDF per
    # consumer.
    q = _probed_queries(queries, centroids, nprobe).localCheckpoint(
        eager=True
    )
    # Bounded driver transfer: queries×nprobe ints. A static IN-filter
    # guarantees directory-level pruning (dynamic partition pruning
    # would also work but depends on join planning).
    cells = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    assigned = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    if "ingest_batch" in assigned.columns:
        # Batch identity is append-bookkeeping (idempotent replay),
        # not scoring input.
        assigned = assigned.drop("ingest_batch")
    if "build_id" in assigned.columns:
        # One tiny limit(1) probe per query batch (reads a single row
        # group): assignments and sidecar must come from the SAME
        # training run, else the probed cells are meaningless.
        row = assigned.select("build_id").limit(1).head()
        if row is not None and row[0] != build_id:
            raise ValueError(
                f"IVF index at {path!r} is inconsistent: assignment "
                f"parquet build_id={row[0]!r} != sidecar build_id="
                f"{build_id!r}. A rebuild crashed between the two "
                "writes or raced this reader; rebuild the index."
            )
        assigned = assigned.drop("build_id")
    return _score_probed(assigned, q, k)


def semantic_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    arXiv:2303.09540): cluster embeddings with the coarse quantizer,
    compare pairs only WITHIN a cell, keep cosine ≥ threshold.

    The relational form of the paper's k-means + within-cluster
    pairwise screen: cell assignment is one corpus pass (no shuffle of
    pair space), the pair join is cell-blocked — candidate volume is
    Σ cell_size², never corpus² — and raising `n_centroids` shrinks
    cells (the paper's k ≈ corpus/10k rule). Uses the PORTABLE seed
    quantizer (`ivf_portable_seed_centroids`) so cell assignment is
    exact integer arithmetic and the whole pipeline — centroids,
    assignment, pair generation, cosine screen — replays in the DuckDB
    oracle (`dedup_semantic`). Emits (id_a < id_b, cosine) edges;
    feed operators/graph.cluster_assignment for canonical keepers,
    exactly like the Jaccard pair family.
    """
    cents = ivf_portable_seed_centroids(corpus, n_centroids=n_centroids)
    live = F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    if not cents:
        return corpus.where(F.lit(False)).select(
            F.col("vec_id").alias("id_a"),
            F.col("vec_id").alias("id_b"),
            F.lit(None).cast("double").alias("cosine"),
        )
    # Norms are per-ROW, computed before the join: inlining cosine_expr
    # after the join would re-evaluate each side's norm once per PAIR —
    # 3 array aggregates per pair instead of 1 (measured 1.9×: 7.5 s →
    # 4.0 s at sf0.1). Values are bit-identical (same expression over
    # the same row).
    #
    # ensure_parallelism: the cell join broadcasts the small side, so
    # the B² pair explosion executes in the PROBE side's partitions —
    # and a compact corpus arrives as one input split (AQE's byte-based
    # sizing can't see that join OUTPUT ≫ join input here), serializing
    # the whole screen on one core. Widening the probe side spread it
    # over the cluster: measured 4.4 s → 2.8 s at sf0.1, identical
    # rows; no-op when the input is already wide (the 100 TB case).
    wide = ensure_parallelism(corpus.where(live))
    assigned = wide.select(
        F.col("vec_id").alias("vid"),
        _as_double(F.col("embedding")).alias("v"),
        ivf_cells(wide, "embedding", cents, 1)[0].alias("cell"),
    ).withColumn("nrm", norm_expr(F.col("v")))
    a = assigned.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = assigned.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    denom = F.col("na") * F.col("nb")
    return (
        a.join(b, ["cell"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # Same NULL-for-zero-norm contract as cosine_expr.
            F.when(
                denom != 0, dot_expr(F.col("va"), F.col("vb")) / denom
            ).alias("cosine_raw"),
        )
        .where(F.col("cosine_raw") >= F.lit(float(threshold)))
        .select("id_a", "id_b", round_det("cosine_raw", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-code ANN
# ---------------------------------------------------------------------------


def pq_codebooks_portable(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
) -> list[list[list[int]]]:
    """codebooks[s][j] = integer-quantized codeword j of subspace s —
    the portable-seed PQ codebook (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11 / the FAISS PQ shape).

    The seed set is the same md5-ordered top-ksub selection the
    portable IVF quantizer uses (`ivf_portable_seed_centroids`), sliced
    into m contiguous sub-vectors: deterministic, one bounded corpus
    top-k, and exactly re-derivable in SQL — so encoding AND scoring
    are oracle-checkable end to end. Production would run per-subspace
    k-means on a sample instead (swap this function; everything
    downstream is codebook-agnostic).
    """
    seeds = ivf_portable_seed_centroids(corpus, n_centroids=ksub)
    if not seeds:
        return []
    dim = len(seeds[0])
    sub = dim // m
    assert sub * m == dim, f"dim {dim} not divisible by m={m}"
    return [
        [seed[s * sub : (s + 1) * sub] for seed in seeds] for s in range(m)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[int]]],
    extra: dict | None = None,
) -> DataFrame:
    """(id, codes array<int>[m]) — each vector compressed to m nibble
    codes: per subspace, the codeword minimizing EXACT integer squared
    L2 distance to the quantized sub-vector (lowest code on ties).
    m=8 × ksub=16 → 8 codes of 4 bits: a 64-dim float vector becomes
    ~4 bytes of index payload — the memory trade that makes
    billion-vector serving fit on a cluster.
    """
    live = F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    if _pq_is_int_family(codebooks):
        vv = quantize_expr(F.col("embedding"))
    else:  # trained float codebooks — same shape, float arithmetic
        vv = _as_double(F.col("embedding"))

    # `extra` carries additional per-row expressions through the same
    # pass (e.g. the IVF cell in ivfpq_topk) — one corpus scan instead
    # of a self-join that would re-execute the encoding pipeline.
    # Single-parse SQL for the m×ksub distance tower (r13 idiom): the
    # Column-API form paid thousands of py4j round-trips PER CALL
    # (~6-8 s of driver time for the trained ksub=64 family) to build
    # an expression the parser assembles from one string in tens of
    # ms. The staged `__vv` projection also guarantees the quantized
    # vector is derived once per row regardless of how many subspace
    # slices reference it.
    staged = corpus.where(live).select(
        F.col("vec_id").alias("neighbor_id"),
        vv.alias("__vv"),
        *[expr.alias(name) for name, expr in (extra or {}).items()],
    )
    return staged.select(
        "neighbor_id",
        F.expr(_pq_codes_sql(codebooks)).alias("codes"),
        *[F.col(name) for name in (extra or {})],
    )


def _sql_num(c, int_family: bool) -> str:
    """A codeword component as a SQL literal of the SAME type the
    Column form produced: BIGINT for the portable int family (so the
    (a-b)*(a-b) arithmetic stays integer-exact), shortest-round-trip
    double otherwise."""
    return f"{int(c)}L" if int_family else repr(float(c)) + "D"


def _pq_codes_sql(codebooks) -> str:
    """SQL for the m nibble codes over a staged `__vv` column —
    argmin-by-(distance, index) per subspace, lowest code on ties
    (array_sort over (d, j) structs, exactly the Column form's
    ranking)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    int_family = _pq_is_int_family(codebooks)
    zero = "CAST(0 AS BIGINT)" if int_family else "0.0D"
    codes = []
    for s in range(m):
        sub_v = f"slice(__vv, {s * sub + 1}, {sub})"
        dists = ", ".join(
            f"aggregate(zip_with({sub_v}, array("
            + ", ".join(_sql_num(c, int_family) for c in cw)
            + f"), (a, b) -> (a - b) * (a - b)), {zero}, (acc, x) -> acc + x)"
            for cw in codebooks[s]
        )
        codes.append(
            f"array_sort(transform(array({dists}), (d, j) ->"
            " named_struct('d', d, 'j', CAST(j AS INT))))[0].j"
        )
    return f"array({', '.join(codes)})"


def _pq_lut_sql(codebooks, quant: int) -> str:
    """SQL for the per-query m×ksub dot-product LUT over a staged
    `__qf` (double) column — same left-fold dot as `dot_expr`, double
    literals precomputed in Python exactly as the Column form's
    F.lit(c / quant) did."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    int_family = _pq_is_int_family(codebooks)
    rows = []
    for s in range(m):
        sub_q = f"slice(__qf, {s * sub + 1}, {sub})"
        dots = ", ".join(
            f"aggregate(zip_with({sub_q}, array("
            + ", ".join(
                repr(float(c / float(quant) if int_family else c)) + "D"
                for c in cw
            )
            + "), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            for cw in codebooks[s]
        )
        rows.append(f"array({dots})")
    return f"array({', '.join(rows)})"


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    codebooks: list | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ top-k: corpus vectors are scored through
    their codes only — score(q, x) ≈ Σ_s LUT_q[s][codes_x[s]], where
    LUT_q[s][j] = dot(q_s, codeword_sj) is a per-query m×ksub table.

    Plan shape: codes are one narrow corpus pass (the scan that would
    read 4-byte payloads from a code table at scale); queries carry
    their LUTs as in-row arrays and are BROADCAST, so scoring is an
    in-row fold per (query, code-row) pair — no shuffle until the final
    per-query top-k window. Ranking is on the 4-decimal-rounded score
    (deterministic across engines; ties break on neighbor id). Compose
    with the IVF cell filter for IVF-PQ (score only probed cells).

    `codebooks` defaults to the portable seed family (oracle-checkable,
    modest recall); pass `pq_train_codebooks(...)` for the production
    per-subspace k-means family. `rerank=R` adds the FAISS two-stage
    serving shape: PQ shortlists the top R per query, then the exact
    cosine re-ranks only those ≤ queries×R rows (`pq_rerank_exact`) —
    measured recall at sf0.001 rises from 0.32 (trained, ksub=16,
    codes-only) to 0.74 (trained, ksub=64, rerank=20).
    """
    if codebooks is None:
        codebooks = pq_codebooks_portable(corpus)
    if not codebooks:
        return corpus.where(F.lit(False)).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0).alias("rank"),
            F.lit(None).cast("double").alias("score"),
        )
    codes = pq_encode(corpus, codebooks)
    live = F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    qf = _as_double(F.col("embedding"))
    q = queries.where(live).select(
        F.col("vec_id").alias("query_id"), qf.alias("__qf")
    ).select(
        "query_id",
        F.expr(_pq_lut_sql(codebooks, 1000)).alias("lut"),
        F.col("__qf").alias("q_vec"),
    )
    score = F.aggregate(
        F.zip_with(
            F.col("lut"),
            F.col("codes"),
            lambda row, c: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            round_det(score, 4).alias("score"),
            "q_vec",
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    topped = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= (rerank if rerank else k))
    )
    if rerank:
        return pq_rerank_exact(corpus, topped, k=k)
    return topped.select("query_id", "neighbor_id", "rank", "score")


def pq_train_codebooks(
    corpus: DataFrame,
    ksub: int = 16,
) -> list[list[list[float]]]:
    """Production PQ codebooks: per-subspace L2 k-means over a bounded,
    hash-selected corpus sample (one corpus top-k, driver transfer
    ≤ 4096 rows), with the deterministic farthest-first init — no RNG
    anywhere. Returns FLOAT
    codewords; `pq_encode`/`pq_topk` accept either family (trained
    floats for recall, portable ints for oracle replay)."""
    import numpy as np

    sample = (
        corpus.select(_as_double(F.col("embedding")).alias("v"))
        .where(F.size("v") > 0)
        .orderBy(F.xxhash64(F.col("v")))
        .limit(4096)
        .collect()
    )
    if not sample:
        return []
    x = np.array([r.v for r in sample], dtype=np.float64)
    dim = x.shape[1]
    m, iters = 8, 8  # subspaces; Lloyd rounds per subspace
    sub = dim // m
    assert sub * m == dim, f"dim {dim} not divisible by m={m}"
    books: list[list[list[float]]] = []
    for s in range(m):
        sx = x[:, s * sub : (s + 1) * sub]
        k_eff = min(ksub, len(sx))
        chosen = [0]
        d = np.linalg.norm(sx - sx[0], axis=1)
        for _ in range(1, k_eff):
            nxt = int(d.argmax())
            chosen.append(nxt)
            d = np.minimum(d, np.linalg.norm(sx - sx[nxt], axis=1))
        c = sx[chosen].copy()
        for _ in range(iters):
            assign = ((sx[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1)
            for j in range(len(c)):
                members = sx[assign == j]
                if len(members):
                    c[j] = members.mean(0)
        books.append(c.tolist())
    return books


def _pq_is_int_family(codebooks) -> bool:
    return isinstance(codebooks[0][0][0], int)


def pq_rerank_exact(
    corpus: DataFrame,
    shortlist: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact-cosine re-rank of a PQ shortlist (the FAISS two-stage
    serving shape): the shortlist — queries × R (query_id, neighbor_id)
    pairs — is BROADCAST against the corpus, so full vectors are read
    only for shortlisted ids and the exact cosine runs on ≤ queries×R
    rows. Expects the shortlist to carry `q_vec` (the query vectors)."""
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("c_vec"),
    )
    scored = c.join(
        F.broadcast(shortlist.select("query_id", "neighbor_id", "q_vec")),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
    )
    return _topk_per_query(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    codebooks: list | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ: the full FAISS serving composition — coarse quantizer
    prunes to `nprobe` cells per query, PQ codes score ONLY the
    surviving cells' rows, optional exact re-rank of the shortlist.

    Per-query cost ≈ (nprobe/n_centroids) × corpus CODE rows (4-byte
    payloads, not 256-byte vectors) + R full-vector reads when
    reranking — the shape that serves billions of vectors. Cell
    assignment and probe ranking are the IVF seed quantizer and cell
    kernel verbatim (`ivf_cells`), so with the default portable
    codebooks every discrete branch is the one the oracle-checked
    sim_ivf_topk / sim_pq_topk queries already verify; with
    nprobe == n_centroids this reduces exactly to `pq_topk` (asserted
    in tests).
    """
    cents = ivf_portable_seed_centroids(corpus, n_centroids=n_centroids)
    if codebooks is None:
        codebooks = pq_codebooks_portable(corpus)
    if not cents or not codebooks:
        return corpus.where(F.lit(False)).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0).cast("int").alias("rank"),
            F.lit(None).cast("double").alias("score"),
        )
    live = F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    codes = pq_encode(
        corpus, codebooks,
        extra={"cell": ivf_cells(corpus, "embedding", cents, 1)[0]},
    )
    qf = _as_double(F.col("embedding"))
    q = queries.where(live).select(
        F.col("vec_id").alias("query_id"),
        qf.alias("__qf"),
        F.explode(ivf_cells(queries, "embedding", cents, nprobe)).alias(
            "cell"
        ),
    ).select(
        "query_id",
        F.expr(_pq_lut_sql(codebooks, 1000)).alias("lut"),
        F.col("__qf").alias("q_vec"),
        "cell",
    )
    score = F.aggregate(
        F.zip_with(
            F.col("lut"),
            F.col("codes"),
            lambda row, c: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            round_det(score, 4).alias("score"),
            "q_vec",
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    topped = scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= (rerank if rerank else k))
    if rerank:
        return pq_rerank_exact(corpus, topped, k=k)
    return topped.select("query_id", "neighbor_id", "rank", "score")


def rp_distortion(emb: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random-projection DISTORTION contract:
    for consecutive-id vector pairs, the squared L2 distance in the
    k=16-dimensional md5-portable projection (the same
    integer plane family the LSH bucketer uses, `md5_int_planes`)
    versus the true squared distance — the "pairwise distances survive
    projection" guarantee a 100 TB user relies on when they shrink
    embeddings before ANN, measured as rows instead of cited as a
    theorem (the minhash_estimate_error idiom, applied to JL).

    INTEGER-EXACT cross-engine: vectors quantize to BIGINT once
    (floor(v*1000+0.5), the portable-LSH rule), plane components are
    md5-derived integers, every dot/square runs in BIGINT/DECIMAL(38)
    (HUGEINT in the oracle), and the reported ratio is one scaled
    integer division — no float sum whose ordering could flip a
    rounding. est/true ratio estimator: ``ratio_scaled =
    (proj_d2 * dim * 10^4) div (S_total * true_d2)`` with S_total =
    sum of ALL plane components squared (so proj_d2/(k*sigma^2) in
    exact arithmetic); 10^4 = 1.0. ``within_band`` flags ratio in
    [0.5, 2.0] — k=16 concentrates to ~±2*sqrt(2/k)≈0.7, so the band
    holds for the vast majority of pairs and a broken projection
    (wrong planes, dropped dims) floods it with zeros.

    Scale shape: map-only per-pair arithmetic after ONE sorted
    equi-self-join on (id, id+1); the plane table rides in the plan as
    literals (bounded by k*dim)."""
    planes = md5_int_planes(dim=64, n_planes=16, table=7)
    s_total = sum(c * c for p in planes for c in p)
    dim = len(planes[0])

    qv = quantize_expr(F.col("embedding"))
    base = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select(F.col("vec_id"), qv.alias("qv"))
    a = base.select(
        F.col("vec_id").alias("vec_id_a"), F.col("qv").alias("qa")
    )
    b = base.select(
        (F.col("vec_id") - 1).alias("vec_id_a"),
        F.col("vec_id").alias("vec_id_b"),
        F.col("qv").alias("qb"),
    )
    pairs = a.join(b, "vec_id_a")
    dq = F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x - y)
    pairs = pairs.select(
        "vec_id_a", "vec_id_b", dq.alias("dq")
    )
    true_d2 = F.aggregate(
        F.col("dq"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )

    def dr(p: list[int]):
        lit = F.array(*[F.lit(c).cast("long") for c in p])
        return F.aggregate(
            F.zip_with(F.col("dq"), lit, lambda x, c: x * c),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    proj = None
    for p in planes:
        sq = (dr(p).cast("decimal(38,0)")) * (dr(p).cast("decimal(38,0)"))
        proj = sq if proj is None else proj + sq
    out = pairs.select(
        "vec_id_a",
        "vec_id_b",
        true_d2.alias("true_d2"),
        proj.alias("__proj"),
    ).select(
        "vec_id_a",
        "vec_id_b",
        "true_d2",
        F.when(
            F.col("true_d2") > 0,
            F.expr(
                f"CAST((__proj * {dim * 10000}) div "
                f"(CAST({s_total} AS DECIMAL(38,0)) * true_d2) AS BIGINT)"
            ),
        ).alias("ratio_scaled"),
    )
    return out.select(
        "vec_id_a",
        "vec_id_b",
        "true_d2",
        "ratio_scaled",
        F.when(
            F.col("ratio_scaled").isNotNull()
            & (F.col("ratio_scaled") >= 5000)
            & (F.col("ratio_scaled") <= 20000),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("within_band"),
    )
