"""Distributed Lloyd's k-means over an embedding column (EXT —
SURVEY.md §2.11).

The second fixed-point iterative algorithm in the engine (after
PageRank, operators/graph.py) and the one a 100 TB vector pipeline
actually needs: the IVF coarse quantizer is the raw md5 integer seeds
(similarity.ivf_portable_seed_centroids); this operator runs Lloyd
iterations from those seeds over the FULL corpus with the classic
"small model, big data" Spark shape:

- the model (k × dim integers) lives on the driver and is inlined into
  the assignment expression as literals — NO join, NO broadcast frame;
- each iteration is ONE corpus scan: a map-only argmin assignment into
  a groupBy(cell) with per-dimension partial (map-side) sums, so the
  shuffle per iteration is k·(dim+1) longs per map partition — bytes,
  not data;
- the driver crossing per iteration is exactly k rows (the new
  centroid sums), bounded by construction.

Everything is EXACT integer arithmetic so a SQL oracle can replay the
whole fixed point value-for-value (the same bar the portable IVF /
LSH paths set): vectors are quantized with the shared
``quantize_expr`` (floor(v·1000 + 0.5) — bit-identical IEEE in any
engine), seeds are the md5-ordered first k vectors
(``ivf_portable_seed_centroids`` — discrete, re-derivable in SQL),
distances are integer squared-L2 sums (|qv_i| ~ 10³, dim 64 →
|d| ≪ 2⁶³), ties break to the LOWEST cell, and the centroid update is
the integer-lattice mean ``floor(Σ qvᵢ / n)`` (Python ``//`` on exact
BIGINT sums — replayed in SQL as ``(s - floormod(s, n)) / n``). A cell
that loses all members keeps its previous centroid (deterministic
k-means repair, no RNG).

Reference parity note: the reference repo (mozilla-conduit/github-etl,
main.py) has no clustering at all; this row exists for the north-star
LLM-data pipeline (IVF centroid training, semantic-dedup cell design).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import eager_checkpoint, release
from .partitioning import ensure_parallelism
from .similarity import ivf_portable_seed_centroids, quantize_expr

def _sq_dist_rank_expr(qv, centroids: list[list[int]]):
    """array<struct<d:long, cell:int>> sorted ascending — cells ranked
    by EXACT integer squared-L2 distance, lowest cell on ties. Its
    first element equals `_assignment` (tested); plans/ext.py ranks
    query probe cells with it."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    qv,
                    F.array(*[F.lit(int(c)) for c in cent]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for cent in centroids
        ]
    )
    return F.array_sort(
        F.transform(
            dists,
            lambda d, i: F.struct(
                d.alias("d"), i.cast("int").alias("cell")
            ),
        )
    )


def _sq_assign_arrow(qv, centroids: list[list[int]]):
    """min_c (d_c·k + c) via one Arrow-batched int64 matmul per batch —
    the scale form of ``_sq_dist_rank_expr(...)[0]`` with (d, cell)
    PACKED into one int64 (cell < k, so the packed minimum IS the
    lexicographic (d, cell) minimum — bit-identical tie-break to the
    expression form's ascending sort). d_c = |x|² − 2·x·C_cᵀ + |C_c|²
    is exact int64 for |qv_i| ~ 10³ (|d·k| ≲ dim·(2·quant·v_max)²·k ≪
    2⁶³). Packed because a struct-returning Series→DataFrame
    pandas_udf signature is unsupported in this PySpark."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.int64)
    csq = (cmat * cmat).sum(axis=1)
    k = len(centroids)

    @pandas_udf("long")
    def assign(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype="int64")
        m = np.stack(batch.to_numpy()).astype(np.int64, copy=False)
        d = (m * m).sum(axis=1, keepdims=True) - 2 * (m @ cmat.T) + csq
        return pd.Series((d * k + np.arange(k)).min(axis=1))

    return assign(qv)


def _assignment(qv, centroids: list[list[int]]):
    """struct<d, cell> for the nearest centroid, through the Arrow int64
    matmul: the expression form inlines the centroids as literals, so
    EVERY Lloyd iteration would generate (and whole-stage-compile) a
    fresh O(k·dim) codegen unit, while the matmul kernel is
    literal-free Python and pays only the Arrow batch crossing (guide
    §4.2; measured at sf0.1, k=8/dim=64/iters=3: 4.9 s → 3.4 s warm,
    bit-identical output)."""
    k = len(centroids)
    if not k:
        # No centroid (an empty corpus trains none) and the kernel
        # needs one: NULLs of the kernel's types.
        return F.struct(
            F.lit(None).cast("long").alias("d"),
            F.lit(None).cast("int").alias("cell"),
        )
    packed = _sq_assign_arrow(qv, centroids)
    cell = F.pmod(packed, F.lit(k))
    return F.struct(
        # (packed - cell) is an exact multiple of k and ≪ 2⁵³, so the
        # double division is exact
        ((packed - cell) / k).cast("long").alias("d"),
        cell.cast("int").alias("cell"),
    )


def _floordiv(s: int, n: int) -> int:
    """Integer-lattice mean component: Python // IS floor division on
    exact ints; the SQL replay uses (s - floormod(s, n)) / n, equal by
    construction (the numerator is an exact multiple of n)."""
    return s // n


def _sums_struct_expr(dim: int, prefix: str = ""):
    """``struct(sum(qv[0]) AS s0, ...)`` as ONE parsed expression.

    Built as a SQL string because the per-dim Column form costs ~5 py4j
    round-trips per dimension per call — at dim 64 and ~1.8 ms RTT in
    this sandbox that is ~0.6 s of pure driver-side construction per
    Lloyd iteration (measured r13); one ``F.expr`` parse is ~1 ms
    regardless of dim. ``prefix`` lets the merge path sum struct
    fields (``ss.s0``) instead of array elements."""
    if prefix:
        fields = ", ".join(f"sum({prefix}.s{j}) AS s{j}" for j in range(dim))
    else:
        fields = ", ".join(f"sum(qv[{j}]) AS s{j}" for j in range(dim))
    return F.expr(f"struct({fields})")


def _lut_expr(vals):
    """``element_at(array(<long literals>), cell + 1)`` as one parsed
    expression — same py4j-chatter avoidance as ``_sums_struct_expr``
    (the Column form is 3 round-trips per element)."""
    lits = ", ".join(f"{int(x)}L" for x in vals)
    return F.expr(f"element_at(array({lits}), cell + 1)")


def lloyd_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> tuple[list[list[int]], DataFrame]:
    """Run `iters` full-corpus Lloyd iterations from the portable md5
    seeds; returns (final integer centroids, the checkpointed quantized
    frame) so callers can score the fixed point without re-quantizing.

    Scale notes (the 100 TB question): the quantized frame is
    eager-checkpointed once and scanned iters+1 times (at cluster scale
    you would persist it — same policy knob as PageRank's edge frame,
    graph.py). Per iteration the only shuffle is the k-cell groupBy of
    per-dim sums, partial-aggregated map-side to k·(dim+1) longs per
    partition; the only driver crossing is the k aggregated rows.
    """
    q = corpus.where(
        F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    ).select(
        F.col("vec_id").alias("i"),
        quantize_expr(F.col("embedding")).alias("qv"),
    )
    # Widen a narrow scan before checkpointing: a small parquet corpus
    # arrives as ONE split, which would serialize every iteration's
    # assignment scan on a single core; at scale the scan is already
    # wide and this is a no-op (guide §2.5 input-skew rule, the same
    # ensure_parallelism guard the minhash/similarity operators use).
    q = eager_checkpoint(ensure_parallelism(q))
    # The IVF seeds over the ALREADY-quantized frame (`qv` is
    # integral, so it is taken as it is): discrete, bounded at k rows,
    # SQL-re-derivable.
    cents = ivf_portable_seed_centroids(q, "i", "qv", k)
    if not cents:
        return [], q
    dim = len(cents[0])
    for _ in range(iters):
        cell = _assignment(F.col("qv"), cents)["cell"]
        rows = (
            q.select(cell.alias("cell"), "qv")
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                _sums_struct_expr(dim).alias("ss"),
            )
            .collect()
        )
        by_cell = {int(r["cell"]): r for r in rows}
        cents = [
            [
                _floordiv(int(by_cell[c]["ss"][f"s{j}"]), int(by_cell[c]["n"]))
                for j in range(dim)
            ]
            if c in by_cell
            else old
            for c, old in enumerate(cents)
        ]
    return cents, q


def kmeans_cell_stats(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """The oracle-checkable fixed-point summary: one row per non-empty
    cell under the FINAL centroids — member count, exact integer
    inertia (Σ squared-L2 distances, accumulated in DECIMAL(38) and
    emitted BIGINT; |row d| ≪ 2⁶³ always, the cast bound is
    n·dim·quant² and is documented rather than silently wrapped), and
    the centroid checksums (Σ mᵢ, Σ mᵢ²) that pin every component of
    the trained model."""
    cents, q = lloyd_centroids(corpus, k=k, iters=iters)
    if not cents:
        return corpus.sparkSession.createDataFrame(
            [],
            "cell int, n_members long, inertia long, m_sum long, "
            "m_l2 long",
        )
    a = _assignment(F.col("qv"), cents)
    m_sum = [sum(c) for c in cents]
    m_l2 = [sum(x * x for x in c) for c in cents]
    return (
        q.select(a["cell"].alias("cell"), a["d"].alias("d"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.col("d").cast("decimal(38,0)"))
            .cast("long")
            .alias("inertia"),
        )
        # `NL` literals throughout the LUTs: m_l2 exceeds int32 at
        # dim·quant² scale and a mixed int/long literal array won't
        # resolve a common type.
        .withColumn("m_sum", _lut_expr(m_sum))
        .withColumn("m_l2", _lut_expr(m_l2))
    )


def kmeans_minibatch_merge(
    corpus: DataFrame,
    k: int = 8,
    n_batches: int = 3,
) -> DataFrame:
    """The MERGEABILITY contract behind incremental centroid
    maintenance: split the corpus into `n_batches` ingest batches
    (id % n_batches), compute each batch's per-cell partial state
    (count + per-dim sums) under the shared seeds, merge the partials,
    and take the integer-lattice mean — which must equal the
    full-corpus single Lloyd round EXACTLY, because integer sums are
    associative (the same argument the mergeable-sketch family makes
    for MG/HLL/bottom-k). Emits one row per member cell: the merged
    centroid's checksums plus ``matches_full`` (1 iff the merged
    centroid is bit-identical to the full-round centroid — the
    contract column, all-1 by construction unless the merge path
    breaks).

    At 100 TB this is the license to maintain centroids
    incrementally: per-ingest cost is one batch-sized assignment into
    a k·(dim+1)-long summary, stored per batch and merged on demand —
    no full-corpus rescan per model refresh."""
    cents, q = lloyd_centroids(corpus, k=k, iters=0)
    empty = (
        "cell int, n_members long, m_sum long, m_l2 long, "
        "matches_full int"
    )
    if not cents:
        return corpus.sparkSession.createDataFrame([], empty)
    dim = len(cents[0])
    cell = _assignment(F.col("qv"), cents)["cell"]
    partials = (
        q.select(
            F.pmod(F.col("i"), F.lit(n_batches)).alias("b"),
            cell.alias("cell"),
            "qv",
        )
        .groupBy("b", "cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sums_struct_expr(dim).alias("ss"),
        )
    )
    merged = partials.groupBy("cell").agg(
        F.sum("n").alias("n"),
        _sums_struct_expr(dim, prefix="ss").alias("ss"),
    )
    rows = merged.collect()  # bounded: ≤ k rows
    mc = {
        int(r["cell"]): [
            _floordiv(int(r["ss"][f"s{j}"]), int(r["n"])) for j in range(dim)
        ]
        for r in rows
    }
    full, full_q = lloyd_centroids(corpus, k=k, iters=1)
    release(full_q)
    m_sum = [sum(mc.get(c, [0])) for c in range(k)]
    m_l2 = [sum(x * x for x in mc.get(c, [0])) for c in range(k)]
    match = [int(c in mc and mc[c] == full[c]) for c in range(k)]

    return merged.select(
        "cell",
        F.col("n").cast("long").alias("n_members"),
        _lut_expr(m_sum).alias("m_sum"),
        _lut_expr(m_l2).alias("m_l2"),
        _lut_expr(match).cast("int").alias("matches_full"),
    )
