"""Property tests for the approximate dedup/similarity operators.

The DuckDB oracles pin the MinHash/SimHash/LSH operators' values.
These tests pin their *statistical* contracts: estimator accuracy
against exactly-computed ground truth, and candidate recall against
the exact operators.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from github_etl_spark.operators.dedup import (
    _shingles_sql,
    hamming_distance,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)


def _docs(spark):
    """Deterministic corpus with known duplicate structure: families of
    near-identical docs (small token edits) + unrelated filler."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill near the garden gate"
    )
    rows = []
    # Family A: base with 0/1/2-token tweaks → high pairwise jaccard.
    rows.append((0, base))
    rows.append((1, base.replace("quick", "swift")))
    rows.append((2, base.replace("lazy", "sleepy").replace("warm", "cold")))
    # Family B: a different sentence, twice verbatim.
    alt = (
        "distributed query engines shuffle partitioned data across the "
        "cluster network while the optimizer prunes unneeded columns"
    )
    rows.append((3, alt))
    rows.append((4, alt))
    # Filler: unrelated docs sharing no 3-gram with anything above.
    for i in range(5, 25):
        rows.append((i, f"document number {i} talks about topic {i * 7} "
                        f"and item {i * 13} exclusively in isolation {i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _true_jaccard(spark, df, a, b, shingle=3):
    sh = df.select("doc_id", F.expr(_shingles_sql(shingle)).alias("sh"))
    rows = {r.doc_id: set(r.sh) for r in sh.collect()}
    inter = len(rows[a] & rows[b])
    union = len(rows[a] | rows[b])
    return inter / union if union else 0.0


def test_minhash_estimates_track_true_jaccard(spark):
    df = _docs(spark)
    sigs = {r.doc_id: r.signature for r in minhash_signatures(df, 64).collect()}
    for a, b in [(0, 1), (0, 2), (3, 4), (0, 3)]:
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64.0
        true = _true_jaccard(spark, df, a, b)
        # 64 hashes → stderr ≈ sqrt(j(1-j)/64) ≤ 0.063; allow 3σ.
        assert abs(est - true) <= 0.2, (a, b, est, true)


def test_minhash_identical_docs_identical_signatures(spark):
    df = _docs(spark)
    sigs = {r.doc_id: r.signature for r in minhash_signatures(df).collect()}
    assert sigs[3] == sigs[4]


def test_lsh_recall_of_exact_near_dups(spark):
    df = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df.withColumn("blk", F.lit(1)), ["blk"], threshold=0.6
        ).collect()
    }
    assert exact  # the families above must yield exact near-dup pairs
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, 32, 8).collect()
    }
    # Banded LSH (8 bands × 4 rows) catches every pair with j ≥ 0.6
    # on this corpus; collision prob at j=0.6 is 1-(1-0.6^4)^8 ≈ 0.70
    # per band family — families here sit at j ≥ 0.7 where it's ≈ 0.9.
    recall = len(exact & cands) / len(exact)
    assert recall >= 0.9, (exact, cands)


def test_lsh_no_candidates_across_unrelated_docs(spark):
    df = _docs(spark)
    cands = minhash_lsh_candidates(df, 32, 8)
    filler_pairs = cands.filter((F.col("id_a") >= 5) & (F.col("id_b") >= 5)).count()
    assert filler_pairs == 0  # no shared shingles → no shared buckets


def test_simhash_orders_by_similarity(spark):
    df = _docs(spark)
    sh = simhash_signatures(df)
    sigs = {r.doc_id: r.simhash for r in sh.collect()}
    pairs = spark.createDataFrame(
        [(sigs[3], sigs[4]), (sigs[0], sigs[1]), (sigs[0], sigs[10])],
        "a long, b long",
    ).select(hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()
    d_same, d_near, d_far = (r.d for r in pairs)
    assert d_same == 0  # identical docs → identical simhash
    assert d_near < d_far  # near-dup family closer than unrelated doc


@pytest.mark.parametrize("num_hashes,bands", [(32, 8), (64, 16)])
def test_lsh_candidate_pairs_are_ordered_and_unique(spark, num_hashes, bands):
    df = _docs(spark)
    rows = minhash_lsh_candidates(df, num_hashes, bands).collect()
    seen = set()
    for r in rows:
        assert r.id_a < r.id_b
        assert (r.id_a, r.id_b) not in seen
        seen.add((r.id_a, r.id_b))
        assert 0.0 <= r.est_jaccard <= 1.0


# --------------------------------------------------------------- skew caps


def _boilerplate_corpus(spark, n_boiler=40, boiler_text=None):
    """n_boiler docs sharing a long boilerplate prefix with unique short
    tails, plus one genuinely-duplicated distinctive pair (1000, 1001)."""
    boiler = boiler_text or (
        "this message and any attachments are confidential and intended "
        "solely for the use of the individual or entity to whom they are "
        "addressed if you have received this email in error please notify "
        "the sender immediately and delete it from your system"
    )
    rows = [(i, f"{boiler} ticket {i * 17} ref {i * 31}") for i in range(n_boiler)]
    dup = "meeting notes for the quarterly roadmap review in building seven"
    rows += [(1000, dup), (1001, dup)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_bounds_pair_explosion(spark):
    """B identical docs land in ONE bucket per band; the cap must bound
    the pair expansion at C(cap, 2) instead of C(B, 2), keeping the
    lowest doc ids (deterministic)."""
    boiler = "identical boilerplate document body repeated across the corpus many times over"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(120)], "doc_id long, text string"
    )
    pairs = minhash_lsh_candidates(df, 32, 8, max_bucket_size=16)
    rows = pairs.collect()
    assert len(rows) == 16 * 15 // 2  # C(16,2), not C(120,2)=7140
    assert max(max(r.id_a, r.id_b) for r in rows) == 15  # first-N by doc id
    assert all(r.est_jaccard == 1.0 for r in rows)


def test_lsh_cap_does_not_change_small_buckets(spark):
    """On a diverse corpus (all buckets under the cap) the capped and
    uncapped candidate sets are identical."""
    df = _docs(spark)
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, 32, 8, max_bucket_size=64).collect()
    }
    huge_cap = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, 32, 8, max_bucket_size=10**6).collect()
    }
    assert capped == huge_cap


def test_jaccard_hot_shingle_cap_drops_boilerplate_pairs(spark):
    """With max_df, boilerplate-only overlap yields NO pairs (the hot
    grams are dropped before the join) while genuinely duplicated
    distinctive docs still pair at jaccard 1.0."""
    df = _boilerplate_corpus(spark).withColumn("blk", F.lit(1))
    pairs = ngram_jaccard_pairs(
        df, ["blk"], threshold=0.5, shingle=3, max_df=5
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1000, 1001)}
    assert pairs[0].jaccard == 1.0


def test_jaccard_uncapped_boilerplate_pairs_exist(spark):
    """Control for the test above: without the cap the boilerplate docs
    DO pair (their shared prefix dominates the short unique tails) —
    i.e. the cap is what removed them, not the fixture."""
    df = _boilerplate_corpus(spark, n_boiler=12).withColumn("blk", F.lit(1))
    pairs = ngram_jaccard_pairs(df, ["blk"], threshold=0.5, shingle=3, max_df=None)
    boiler_pairs = pairs.filter((F.col("id_a") < 1000) & (F.col("id_b") < 1000)).count()
    assert boiler_pairs > 0


# ------------------------------------------------------------- similarity ANN


def _emb_tables(spark):
    from github_etl_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", register=False)
    emb = t["embeddings"]
    return emb, emb.orderBy("vec_id").limit(10)


def test_ivf_recall_vs_brute_force(spark):
    from github_etl_spark.operators.similarity import brute_force_topk, ivf_topk

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # nprobe=4/16 cells; clustered fixtures


def test_ivf_nprobe_monotone_recall(spark):
    from github_etl_spark.operators.similarity import brute_force_topk, ivf_topk

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(nprobe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=nprobe).collect()
        }
        return len(exact & got) / len(exact)

    # Probing every cell IS brute force (recall 1.0); more probes never hurt.
    r2, r16 = recall(2), recall(16)
    assert r16 == 1.0
    assert r2 <= r16


def test_ivf_assign_covers_all_rows(spark):
    from github_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_portable_seed_centroids,
    )

    emb, _ = _emb_tables(spark)
    cents = ivf_portable_seed_centroids(emb, n_centroids=8)
    assert len(cents) == 8
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    cells = [r.cell for r in assigned.select("cell").distinct().collect()]
    assert all(0 <= c < 8 for c in cells)


# ------------------------------------------------------- review regressions


def test_zero_vector_never_outranks_real_neighbors(spark):
    """A zero-norm embedding must sort to the bottom (NULL cosine), not
    the top (NaN sorts as the largest double)."""
    from github_etl_spark.operators.similarity import brute_force_topk

    rows = [(i, [float(i), 1.0, 0.5]) for i in range(1, 6)]
    rows.append((99, [0.0, 0.0, 0.0]))  # degenerate vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where("vec_id = 1")
    top = brute_force_topk(emb, queries, k=3).collect()
    assert all(r.neighbor_id != 99 for r in top)
    assert [r.rank for r in top] == [1, 2, 3]


def test_lsh_multi_table_recall_monotone(spark):
    """Band repetitions: more tables → candidate superset → recall of
    brute-force top-k never decreases."""
    from github_etl_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(n_tables):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_bucketed_topk(
                emb, queries, k=5, n_planes=2, n_tables=n_tables
            ).collect()
        }
        return len(exact & got) / len(exact)

    # Measured sweep on this fixture (planes=2): L=1→0.32, L=2→0.60,
    # L=4→0.90, L=8→1.0 — the (1-(1-p)^L) shape.
    r1, r4 = recall(1), recall(4)
    assert r1 <= r4
    assert r4 >= 0.8, (r1, r4)


def test_ivf_index_roundtrip_matches_inline(spark, tmp_path):
    """Materialized index (build → query) must return exactly the
    inline ivf_topk results for the same centroids, and the probe scan
    must touch only the probed cell directories (partition pruning)."""
    from github_etl_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_topk,
    )

    emb, queries = _emb_tables(spark)
    path = str(tmp_path / "ivf_index")
    ivf_build_index(emb, path, n_centroids=16)

    out = ivf_query_index(spark, path, queries, k=5, nprobe=4)
    got = {(r.query_id, r.neighbor_id, r.rank, r.cosine) for r in out.collect()}
    inline = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4).collect()
    }
    assert got == inline

    # Pruning: with a small probe set (2 queries × nprobe=2 of 16
    # cells) the index scan must carry a static cell partition filter
    # over a strict subset of cells. inputFiles() can't show this (it
    # lists the relation pre-pruning), so assert on the executed plan.
    import re

    few = queries.limit(2)
    pruned = ivf_query_index(spark, path, few, k=5, nprobe=2)
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan[:2000]
    probed = m.group(1).split(",")
    assert 0 < len(probed) <= 4  # ≤ queries × nprobe, < all 16 cells


def test_ivf_index_empty_corpus_roundtrip(spark, tmp_path):
    """Building an index from an empty corpus must still produce a
    readable layout, and querying it returns 0 rows (not an
    UNABLE_TO_INFER_SCHEMA crash)."""
    from github_etl_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    emb, queries = _emb_tables(spark)
    empty = emb.filter("false")
    path = str(tmp_path / "ivf_empty")
    assert ivf_build_index(empty, path) == []
    out = ivf_query_index(spark, path, queries, k=5, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "cosine",
    ]


def test_ivf_index_build_id_mismatch_raises(spark, tmp_path):
    """A sidecar from one training run paired with assignments from
    another must raise, not silently probe wrong cells (the two writes
    in ivf_build_index are not atomic)."""
    import json

    from github_etl_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    emb, queries = _emb_tables(spark)
    path = str(tmp_path / "ivf_torn")
    centroids = ivf_build_index(emb, path, n_centroids=16)
    # Simulate a torn rebuild: same centroids, foreign build_id (as a
    # rebuild racing this reader would leave behind).
    sidecar = json.dumps({"build_id": "deadbeef" * 4, "centroids": centroids})
    spark.createDataFrame([(sidecar,)], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(path + "_centroids")
    with pytest.raises(ValueError, match="inconsistent"):
        ivf_query_index(spark, path, queries, k=5, nprobe=4).collect()


def test_ivf_index_missing_sidecar_raises(spark, tmp_path):
    """Missing sidecar → clear FileNotFoundError naming the path, not
    an opaque NoneType TypeError."""
    from github_etl_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    emb, queries = _emb_tables(spark)
    path = str(tmp_path / "ivf_nosidecar")
    ivf_build_index(emb, path, n_centroids=8)
    import shutil

    shutil.rmtree(path + "_centroids")
    with pytest.raises(FileNotFoundError, match="_centroids"):
        ivf_query_index(spark, path, queries, k=5, nprobe=2)


def test_lsh_portable_family_contract(spark):
    """Integer-plane LSH: ≤k rows per query, decent recall vs brute
    force, and NULL/empty vectors are dropped on both sides rather than
    bucketed or crashed."""
    from github_etl_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )

    emb, queries = _emb_tables(spark)
    got = lsh_bucketed_topk(emb, queries, k=5, n_planes=4).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 5 for v in per_q.values())
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in got}
    # A single 16-bucket table is a coarse filter — recall here only
    # guards against a broken bucket expression (e.g. all-distinct or
    # all-equal buckets), not retrieval quality (the multi-table
    # monotonicity test owns that).
    assert len(exact & approx) / len(exact) >= 0.1

    # Degenerate vectors: present in neither query groups nor neighbors.
    bad = spark.createDataFrame(
        [(10_000_000, None), (10_000_001, [])],
        "vec_id long, embedding array<float>",
    )
    got2 = lsh_bucketed_topk(
        emb.unionByName(bad.withColumn("label", F.lit(0))
                        if "label" in emb.columns else bad,
                        allowMissingColumns=True),
        queries.unionByName(bad, allowMissingColumns=True),
        k=5,
        n_planes=4,
    ).collect()
    ids = {r.query_id for r in got2} | {r.neighbor_id for r in got2}
    assert not ids & {10_000_000, 10_000_001}


def test_jaccard_tokens_staging_table(spark, tmp_path):
    """tokens_path: results identical to the unstaged run, and the
    downstream plan reads ONLY the staging parquet — the corpus is
    scanned exactly once (by the staging write), the fault-tolerant
    shape for extreme scale."""
    from github_etl_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", register=False)[
        "documents"
    ].withColumn("blk", F.lit(1))
    plain = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, ["blk"], threshold=0.5, max_df=100).collect()
    }
    staged_path = str(tmp_path / "tokens_staging")
    staged_df = ngram_jaccard_pairs(
        docs, ["blk"], threshold=0.5, max_df=100,
        tokens_path=staged_path,
    )
    staged = {(r.id_a, r.id_b, r.jaccard) for r in staged_df.collect()}
    assert staged == plain and staged

    plan = staged_df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, plan[:2000]
    assert "tokens_staging" in plan


def test_ivf_portable_seed_centroids_deterministic(spark):
    """Portable centroid selection is a pure function of the table:
    same result across calls and across a repartitioned input (the
    md5 ordering is data-derived, not partitioning-derived)."""
    from github_etl_spark.operators.similarity import (
        ivf_portable_seed_centroids,
    )

    emb, _ = _emb_tables(spark)
    a = ivf_portable_seed_centroids(emb, n_centroids=8)
    b = ivf_portable_seed_centroids(emb.repartition(7), n_centroids=8)
    assert a == b
    assert len(a) == 8
    assert all(isinstance(x, int) for c in a for x in c)


def test_ivf_portable_recall_vs_brute_force(spark):
    from github_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            emb, queries, k=5, n_centroids=16, nprobe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Seed centroids are unclustered (no Lloyd rounds), so the bar is
    # lower than the trained quantizer's — but probing 4/16 cells must
    # still recover a meaningful fraction of true neighbors.
    assert recall >= 0.3, recall


def test_ivf_portable_full_probe_equals_brute_force(spark):
    """With nprobe == n_centroids every cell is probed, so the portable
    IVF pipeline must reduce to exact brute force — pins the
    assignment/probe plumbing against dropped or double-counted
    candidates."""
    from github_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb, queries = _emb_tables(spark)
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(emb, queries, k=5).collect()
    )
    full = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(
            emb, queries, k=5, n_centroids=8, nprobe=8
        ).collect()
    )
    assert exact == full


def _bruteforce_pairs(spark, emb, threshold=0.4):
    from pyspark.sql import functions as F

    from github_etl_spark.operators.similarity import _as_double, cosine_expr

    a = emb.select(F.col("vec_id").alias("id_a"), _as_double("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), _as_double("embedding").alias("vb"))
    return {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .where(cosine_expr(F.col("va"), F.col("vb")) >= threshold)
        .collect()
    }


def test_semantic_neardup_single_cell_equals_bruteforce(spark):
    """n_centroids=1 puts everything in one cell — the screen must
    degenerate to the exact all-pairs result."""
    from github_etl_spark.operators.similarity import semantic_neardup_pairs

    emb, _ = _emb_tables(spark)
    exact = _bruteforce_pairs(spark, emb)
    got = {
        (r.id_a, r.id_b)
        for r in semantic_neardup_pairs(emb, threshold=0.4, n_centroids=1).collect()
    }
    assert got == exact and exact


def test_semantic_neardup_cells_bound_candidates_with_recall(spark):
    """Cell blocking only compares within-cell, so every returned pair
    is a true near-dup (precision 1 by construction); with few, coarse
    cells recall on the fixture stays meaningful (seed centroids are
    untrained — the verifiability trade; production would raise
    n_centroids only with the k-means quantizer)."""
    from github_etl_spark.operators.similarity import semantic_neardup_pairs

    emb, _ = _emb_tables(spark)
    exact = _bruteforce_pairs(spark, emb)
    got = {
        (r.id_a, r.id_b)
        for r in semantic_neardup_pairs(emb, threshold=0.4, n_centroids=4).collect()
    }
    assert got <= exact
    assert len(got) / len(exact) >= 0.3, (len(got), len(exact))


def test_pq_codes_are_bounded_and_deterministic(spark):
    from github_etl_spark.operators.similarity import (
        pq_codebooks_portable,
        pq_encode,
    )

    emb, _ = _emb_tables(spark)
    books = pq_codebooks_portable(emb, m=8, ksub=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    a = {r.neighbor_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    b = {
        r.neighbor_id: list(r.codes)
        for r in pq_encode(emb.repartition(7), books).collect()
    }
    assert a == b
    assert all(0 <= c < 16 for codes in a.values() for c in codes)
    assert all(len(codes) == 8 for codes in a.values())


def test_pq_topk_recall_vs_brute_force(spark):
    """PQ is lossy twice over here: 8 nibble codes for 64 dims AND the
    portable seed codebooks the oracle can replay (untrained). The
    compressed ranking must still beat noise; the trained/reranked
    production path carries the real recall bar (next test)."""
    from github_etl_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.1, recall


def test_pq_trained_rerank_recall(spark):
    """The production serving shape — per-subspace k-means codebooks
    (ksub=64) + exact re-rank of the PQ top-20 shortlist — must reach
    real recall (numpy replay of this config measures 0.74)."""
    from github_etl_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
        pq_train_codebooks,
    )

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    books = pq_train_codebooks(emb, ksub=64)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(
            emb, queries, k=5, codebooks=books, rerank=20
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ivfpq_full_probe_equals_pq(spark):
    """With nprobe == n_centroids every cell survives, so IVF-PQ must
    reduce exactly to plain PQ — pins the cell plumbing."""
    from github_etl_spark.operators.similarity import ivfpq_topk, pq_topk

    emb, queries = _emb_tables(spark)
    a = sorted(map(tuple, pq_topk(emb, queries, k=5).collect()))
    b = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, queries, k=5, n_centroids=8, nprobe=8
            ).collect(),
        )
    )
    assert a == b


def test_ivfpq_trained_rerank_recall(spark):
    """The full serving composition — trained codebooks, cell pruning,
    exact re-rank — keeps meaningful recall while scoring only
    nprobe/n_centroids of the code rows."""
    from github_etl_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        pq_train_codebooks,
    )

    emb, queries = _emb_tables(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    books = pq_train_codebooks(emb, ksub=64)
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            emb, queries, k=5, n_centroids=8, nprobe=4,
            codebooks=books, rerank=20,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.3, recall


def test_arrow_cell_assignment_matches_expression(spark):
    """The Arrow cell kernel (`ivf_cells`) ranks cells exactly as a
    pure-Python reference over the collected rows does: exact integer
    dot product, best first, lowest cell on ties — for assignment (n=1)
    and probes (n=4), at 16 and 96 cells, and with one constructed tie
    (a centroid repeated under a higher cell id)."""
    from github_etl_spark.operators.similarity import (
        ivf_cells,
        ivf_portable_seed_centroids,
    )
    from github_etl_spark.tables import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    live = emb.where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    rows = {
        r.vec_id: [int(math.floor(float(v) * 1000 + 0.5)) for v in r.embedding]
        for r in live.select("vec_id", "embedding").collect()
    }
    assert rows

    def reference(qv, cents, n):
        dots = [sum(a * b for a, b in zip(qv, c)) for c in cents]
        return sorted(range(len(cents)), key=lambda j: (-dots[j], j))[:n]

    for n_cells in (16, 96):
        cents = ivf_portable_seed_centroids(emb, n_centroids=n_cells)
        assert len(cents) == n_cells
        # Cell n_cells ties cell 0 on every row; the kernel must rank
        # cell 0 first.
        cents = cents + [cents[0]]
        for n in (1, 4):
            got = {
                r.vec_id: list(r.cells)
                for r in live.select(
                    "vec_id", ivf_cells(live, "embedding", cents, n).alias("cells")
                ).collect()
            }
            want = {i: reference(qv, cents, n) for i, qv in rows.items()}
            assert got == want, (n_cells, n)
            # The tie is live: some row ranks cell 0 (and so its twin)
            # among its top n.
            assert any(0 in c for c in got.values()), (n_cells, n)


# ------------------------------------------------- URL canonical dedup


def test_canonicalize_url_rule_chain(spark):
    """Each canonicalization rule, exercised on a literal where it is
    the deciding rule — plus stacked-noise cases. These literals pin
    the SPARK side; the catalog oracle pins Spark==DuckDB on the same
    chain, so between them the rule spec cannot drift on either side."""
    from github_etl_spark.functions.urls import canonicalize_url

    cases = [
        # (raw, canonical)
        ("https://Example.com/A/b", "example.com/A/b"),  # scheme off, host lower, path case kept
        ("HTTP://WWW.Example.COM/x", "example.com/x"),  # scheme case, www., host case
        ("example.com/x#frag", "example.com/x"),  # fragment
        ("  example.com/x  ", "example.com/x"),  # whitespace trim
        ("example.com/x/", "example.com/x"),  # trailing slash
        ("example.com/x/?id=2", "example.com/x?id=2"),  # slash before query
        ("example.com/x?utm_source=a", "example.com/x"),  # lone utm
        ("example.com/x?utm_source=a&id=2", "example.com/x?id=2"),  # utm first
        ("example.com/x?id=2&utm_campaign=b", "example.com/x?id=2"),  # utm last
        (
            "example.com/x?a=1&utm_a=1&utm_b=2&b=2",
            "example.com/x?a=1&b=2",
        ),  # several mid-query utm params (the 'g'-flag case)
        ("example.com:8080/x", "example.com:8080/x"),  # port preserved
        ("ftp://files.example.com/pub", "files.example.com/pub"),  # any scheme
        (
            " HTTPS://WWW.Ex.COM/Docs/9/?utm_source=n&ref=en#sec ",
            "ex.com/Docs/9?ref=en",
        ),  # everything stacked
        ("wwwx.example.com/x", "wwwx.example.com/x"),  # 'www.' only, not 'www*'
    ]
    df = spark.createDataFrame([(i, raw) for i, (raw, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select("i", canonicalize_url("url").alias("c")).collect()}
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, f"{raw!r}: got {got[i]!r}, want {want!r}"
    # NULL propagates, never throws
    nulls = spark.createDataFrame([(1, None)], "i long, url string")
    assert nulls.select(canonicalize_url("url").alias("c")).head()["c"] is None


def test_url_dedup_collapses_variant_groups(spark):
    """Synthesized URLs must actually collapse: some canonical group
    has multiple docs AND multiple distinct raw variants, and keepers
    are the group-min doc_id."""
    import pyspark.sql.functions as F

    from github_etl_spark.functions.urls import canonicalize_url, synthesize_urls
    from github_etl_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    urls = synthesize_urls(docs)
    canon = urls.withColumn("c", canonicalize_url("url"))
    groups = canon.groupBy("c").agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("nv"),
        F.min("doc_id").alias("keep"),
    )
    multi = groups.filter("n > 1 AND nv > 1")
    assert multi.count() > 0
    # keeper really is the min over the group (re-derive independently)
    joined = canon.join(multi.select("c", "keep"), "c")
    bad = joined.groupBy("c", "keep").agg(F.min("doc_id").alias("true_min")).filter(
        "keep <> true_min"
    )
    assert bad.count() == 0


def test_canonicalize_url_spark_duckdb_lockstep(spark):
    """The Spark regexp chain and the oracle's DuckDB CTE chain must
    agree on ADVERSARIAL input, not just the fixture corpus — Spark
    regexp_replace is replace-ALL while DuckDB's defaults to
    first-match, so any rule missing its 'g' flag diverges exactly
    here (e.g. a second '?' inside a query value)."""
    import duckdb

    from github_etl_spark.functions.urls import (
        CANONICALIZE_URL_SQL_CTES,
        canonicalize_url,
    )

    cases = [
        "example.com/x?utm_a=1&r=?utm_b=2&s",  # '?' inside a value
        "example.com/a/?b=/?c",  # '/?' twice
        "example.com/x?utm_a=?&utm_b=?",  # utm values that are '?'
        "HTTPS://WWW.Ex.COM/Docs/9/?utm_source=n&ref=en#sec",
        "example.com/x?a=1&utm_a=1&utm_b=2&b=2",
        "www.example.com///x//",
        "example.com/x?utm_a=1#frag?utm_b=2",
        "  http://a.b/c?d=e&utm_f=g&h=i  ",
        "no-scheme-no-slash",
        "",
        "a.com/p?ref=/",  # slash ends a query VALUE — must be kept
        "a.com/p/",  # slash ends the PATH, no query — must be dropped
        "a.com/p/?ref=/",  # both at once: path slash drops, value slash stays
    ]
    sdf = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "i long, url string"
    )
    got_spark = {
        r["i"]: r["c"]
        for r in sdf.select("i", canonicalize_url("url").alias("c")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (i BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", list(enumerate(cases)))
    sql = (
        "WITH "
        + CANONICALIZE_URL_SQL_CTES.format(urls="raw").lstrip().lstrip(",")
        + " SELECT i, canonical_url FROM canon"
    )
    got_duck = dict(con.execute(sql).fetchall())
    for i, u in enumerate(cases):
        assert got_spark[i] == got_duck[i], (
            f"{u!r}: spark={got_spark[i]!r} duckdb={got_duck[i]!r}"
        )
    # Rule 6 semantics, pinned by VALUE (lockstep alone would also pass
    # on a shared over-collapse bug): trailing PATH slashes drop,
    # a slash ending the final query VALUE is part of the value.
    assert got_spark[len(cases) - 3] == "a.com/p?ref=/"
    assert got_spark[len(cases) - 2] == "a.com/p"
    assert got_spark[len(cases) - 1] == "a.com/p?ref=/"


def test_ivf_index_append_matches_stale_inline_and_is_idempotent(
    spark, tmp_path
):
    """Incremental IVF maintenance (ivf_index_append): appended
    vectors are assigned to the EXISTING sidecar centroids — querying
    the appended index equals the inline path over the full corpus
    with training restricted to the build corpus (`train_on`, the
    stale-centroid regime the sim_ivf_append_recall row prices) — a
    replayed append republishes identical state, and batch −1 is
    reserved for build rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from github_etl_spark.operators.similarity import (
        _read_ivf_sidecar,
        ivf_assign,
        ivf_build_index,
        ivf_index_append,
        ivf_query_index,
        ivf_topk,
    )

    emb, queries = _emb_tables(spark)
    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_index")
    ivf_build_index(seed, path, n_centroids=16)
    ivf_index_append(spark, path, batch, ingest_batch=0)

    got = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in ivf_query_index(
            spark, path, queries, k=5, nprobe=4
        ).collect()
    }
    inline = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in ivf_topk(
            emb, queries, k=5, n_centroids=16, nprobe=4, train_on=seed
        ).collect()
    }
    assert got == inline

    # The appended partition holds exactly the sidecar-centroid
    # assignment of the batch, under the build's fingerprint.
    cents, _bid = _read_ivf_sidecar(spark, path)
    expected = {
        (r.neighbor_id, r.cell) for r in ivf_assign(batch, cents).collect()
    }
    tbl = spark.read.parquet(path)
    appended = {
        (r.neighbor_id, r.cell)
        for r in tbl.where(F.col("ingest_batch") == 0).collect()
    }
    assert appended == expected
    assert tbl.select("build_id").distinct().count() == 1

    # Replayed append (at-least-once delivery) republishes the same
    # (cell, batch) partitions bit-for-bit.
    state = sorted(map(tuple, tbl.collect()))
    ivf_index_append(spark, path, batch, ingest_batch=0)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == state

    with _pytest.raises(ValueError, match="reserved"):
        ivf_index_append(spark, path, batch, ingest_batch=-1)
    with _pytest.raises(FileNotFoundError):
        ivf_index_append(
            spark, str(tmp_path / "nope"), batch, ingest_batch=1
        )


def test_store_appends_refuse_the_build_batch(spark, sf_dir, tmp_path):
    """Batch −1 holds a store's build rows, and an append dynamically
    overwrites its batch's partition: the dedup index and the span
    store refuse −1 the way `ivf_index_append` does, and keep every
    build row."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from github_etl_spark.operators.curation import (
        span_index_append,
        span_index_build,
    )
    from github_etl_spark.operators.incremental import (
        dedup_batch_rows,
        dedup_index_append,
        dedup_index_build,
    )
    from github_etl_spark.tables import load_tables

    docs = load_tables(spark, sf_dir, register=False)["documents"]
    seed = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    index, spans = str(tmp_path / "index"), str(tmp_path / "spans")
    dedup_index_build(seed, index)
    span_index_build(seed, spans)

    def rows(table):
        return sorted(map(tuple, spark.read.parquet(table).collect()))

    tables = [f"{index}/fingerprints", f"{index}/bands", f"{spans}/spans"]
    before = [rows(t) for t in tables]
    with _pytest.raises(ValueError, match="reserved"):
        dedup_index_append(
            spark, index, dedup_batch_rows(spark, index, batch), -1
        )
    with _pytest.raises(ValueError, match="reserved"):
        span_index_append(
            spark, spans, spark.createDataFrame([("k",)], "span_key string"), -1
        )
    assert [rows(t) for t in tables] == before


def test_ivf_index_fold_preserves_queries_and_crash_guard(spark, tmp_path):
    """Folding accreted append partitions leaves every query verdict
    unchanged; a crashed fold (marker present, rows duplicated) makes
    queries REFUSE rather than silently double-count neighbors, and a
    re-run converges and re-enables them."""
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from github_etl_spark.operators.similarity import (
        _ivf_fold_marker,
        ivf_build_index,
        ivf_index_append,
        ivf_index_fold,
        ivf_query_index,
    )

    emb, queries = _emb_tables(spark)
    path = str(tmp_path / "ivf_index")
    ivf_build_index(emb.where(F.col("vec_id") % 3 != 0), path, n_centroids=8)
    ivf_index_append(
        spark, path, emb.where(F.col("vec_id") % 3 == 0), ingest_batch=0
    )
    before = sorted(
        map(
            tuple,
            ivf_query_index(spark, path, queries, k=5, nprobe=3).collect(),
        )
    )
    n = ivf_index_fold(spark, path)
    assert n >= 2  # at least one build + one append partition folded
    tbl = spark.read.parquet(path)
    assert tbl.select("ingest_batch").distinct().count() == 1
    after = sorted(
        map(
            tuple,
            ivf_query_index(spark, path, queries, k=5, nprobe=3).collect(),
        )
    )
    assert after == before
    assert ivf_index_fold(spark, path) == 0  # idempotent no-op

    # Crash simulation: duplicated rows + leftover marker. Queries
    # refuse; re-running the fold converges and re-enables them.
    tbl = spark.read.parquet(path)  # post-fold layout
    dup = spark.createDataFrame(tbl.limit(5).collect(), tbl.schema)
    dup.write.mode("append").partitionBy("cell", "ingest_batch").parquet(
        path
    )
    marker = _ivf_fold_marker(path)
    _os.makedirs(marker, exist_ok=True)
    with open(_os.path.join(marker, "MARKER"), "w") as f:
        f.write("crashed\n")
    with _pytest.raises(RuntimeError, match="unfinished fold"):
        ivf_query_index(spark, path, queries, k=5, nprobe=3).collect()
    assert ivf_index_fold(spark, path) > 0
    assert not _os.path.exists(marker)
    assert (
        sorted(
            map(
                tuple,
                ivf_query_index(
                    spark, path, queries, k=5, nprobe=3
                ).collect(),
            )
        )
        == before
    )
