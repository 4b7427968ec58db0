"""Training-data pipeline operators (operators/pipeline.py).

Semantics tests on hand-built frames plus fixture-level invariants at
sf0.001; cross-engine parity is enforced by the driver-sim oracle for
the four `plans/pipeline.py` catalog queries.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from github_etl_spark.functions.text import redact_pii_expr
from github_etl_spark.operators.pipeline import (
    hash_split,
    portable_hash_bucket,
    repetition_metrics,
    stratified_sample,
)
from github_etl_spark.tables import load_tables


def _docs(spark):
    return load_tables(spark, "/root/testdata/sf0.001")["documents"]


# ---------------------------------------------------------------- hash split


def test_hash_bucket_matches_python_md5(spark):
    """The portable bucket is reproducible off-cluster with stdlib md5."""
    df = spark.range(50).select(
        F.col("id"), portable_hash_bucket(F.col("id")).alias("bucket")
    )
    for row in df.collect():
        expect = int(hashlib.md5(str(row.id).encode()).hexdigest()[:8], 16) % 100
        assert row.bucket == expect


def test_hash_split_deterministic_and_complete(spark):
    docs = _docs(spark)
    a = hash_split(docs, "doc_id").select("doc_id", "split")
    b = hash_split(docs.repartition(7), "doc_id").select("doc_id", "split")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    n = docs.count()
    by_split = dict(
        a.groupBy("split").count().rdd.map(lambda r: (r["split"], r["count"])).collect()
    )
    assert sum(by_split.values()) == n
    # 80/10/10 within loose tolerance (hash uniformity, n=500)
    assert 0.7 < by_split["train"] / n < 0.9
    assert 0.04 < by_split["val"] / n < 0.16
    assert 0.04 < by_split["test"] / n < 0.16


def test_hash_split_custom_weights(spark):
    df = hash_split(spark.range(200), "id", weights=(0.5, 0.5), names=("a", "b"))
    got = {r["split"] for r in df.select("split").distinct().collect()}
    assert got == {"a", "b"}
    assert df.filter((F.col("bucket") < 50) & (F.col("split") != "a")).count() == 0


# ------------------------------------------------------------- repetition


def test_repetition_metrics_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),  # bigrams: ab ba ab ba -> top 2/4, dup 4/4
            (2, "x y z w"),  # bigrams all unique -> top 1/3, dup 0
            (3, "solo"),  # < 2 tokens -> absent
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_grams == 4
    assert rows[1].top_gram_frac == 0.5
    assert rows[1].dup_gram_frac == 1.0
    assert rows[2].n_grams == 3
    assert abs(rows[2].top_gram_frac - 0.3333) < 1e-9
    assert rows[2].dup_gram_frac == 0.0


def test_repetition_bounds_on_fixture(spark):
    m = repetition_metrics(_docs(spark))
    bad = m.filter(
        (F.col("top_gram_frac") > 1)
        | (F.col("top_gram_frac") <= 0)
        | (F.col("dup_gram_frac") > 1)
        | (F.col("dup_gram_frac") < 0)
        | (F.col("dup_gram_frac") > 0)
        & (F.col("dup_gram_frac") < F.col("top_gram_frac"))
    )
    assert bad.count() == 0


# ------------------------------------------------------------- stratified


def test_stratified_sample_exact_counts(spark):
    docs = _docs(spark)
    frac = 0.1
    import math

    expect = {
        r["lang"]: math.ceil(r["count"] * frac)
        for r in docs.groupBy("lang").count().collect()
    }
    got = {
        r["lang"]: r["count"]
        for r in stratified_sample(docs, ["lang"], frac)
        .groupBy("lang")
        .count()
        .collect()
    }
    assert got == expect


def test_stratified_sample_stable_under_repartition(spark):
    docs = _docs(spark)
    a = stratified_sample(docs, ["lang"], 0.2).select("doc_id")
    b = stratified_sample(docs.repartition(13), ["lang"], 0.2).select("doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ------------------------------------------------------------------ PII


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1-555-123 4567 today"),
            (3, "both a@b.io and 020 7946 0958 ok"),
            (4, "clean text with no pii at all"),
        ],
        ["i", "t"],
    )
    got = {r.i: r.red for r in df.select("i", redact_pii_expr(F.col("t")).alias("red")).collect()}
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "call [PHONE] today"
    assert got[3] == "both [EMAIL] and [PHONE] ok"
    assert got[4] == "clean text with no pii at all"


# ------------------------------------------------------- contamination check


def test_contamination_flags_known_overlap(spark):
    """A doc sharing exactly half its trigrams with the benchmark gets
    overlap 0.5 and is flagged at threshold 0.5."""
    from github_etl_spark.operators.pipeline import contamination_overlap

    bench = spark.createDataFrame([(100, "a b c d")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [
            (1, "a b c x y z"),  # grams: abc bcx cxy xyz → 1/4 hit
            (2, "a b c d e"),  # grams: abc bcd cde → 2/3 hit
            (3, "p q r s"),  # no overlap
            (4, "a b"),  # < n tokens → absent
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.contaminated)
        for r in contamination_overlap(train, bench, n=3).collect()
    }
    assert got == {1: (4, 1, False), 2: (3, 2, True), 3: (2, 0, False)}


def test_contamination_distinct_grams_counted_once(spark):
    """Repeated grams inside one doc count once (distinct semantics)."""
    from github_etl_spark.operators.pipeline import contamination_overlap

    bench = spark.createDataFrame([(9, "a b c")], ["doc_id", "text"])
    train = spark.createDataFrame([(1, "a b c a b c a b c")], ["doc_id", "text"])
    [r] = contamination_overlap(train, bench, n=3).collect()
    # distinct grams: abc bca cab → only abc in bench
    assert (r.n_grams, r.n_hit) == (3, 1)


# ---------------------------------------------------------- mixture sampling


def test_mixture_sample_rates_and_determinism(spark):
    from github_etl_spark.operators.pipeline import mixture_sample

    docs = _docs(spark)
    rates = {"src0": 1.0, "src1": 0.0}
    out = mixture_sample(docs, rates, default_rate=0.5)
    per_src = dict(
        out.groupBy("source").count().rdd.map(lambda r: (r["source"], r["count"])).collect()
    )
    totals = dict(
        docs.groupBy("source").count().rdd.map(lambda r: (r["source"], r["count"])).collect()
    )
    assert per_src["src0"] == totals["src0"]  # rate 1.0 keeps all
    assert "src1" not in per_src  # rate 0.0 drops all
    kept_default = sum(v for k, v in per_src.items() if k not in rates)
    total_default = sum(v for k, v in totals.items() if k not in rates)
    assert 0.3 < kept_default / total_default < 0.7  # ~0.5 at n≈450
    # Repartition-stable (deterministic hash, not Bernoulli)
    again = mixture_sample(docs.repartition(13), rates, default_rate=0.5)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


# ------------------------------------------------------------------ chunking


def test_chunk_tokens_edges(spark):
    from github_etl_spark.operators.pipeline import chunk_tokens

    df = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6"),  # 7 toks, window 4 stride 2 → 3 chunks
            (2, "a b"),  # shorter than window → 1 chunk
            (3, ""),  # empty → none
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_tokens(df, window=4, stride=2).collect()
    }
    assert rows == {
        (1, 0): (4, "t0 t1 t2 t3"),
        (1, 1): (4, "t2 t3 t4 t5"),
        (1, 2): (3, "t4 t5 t6"),
        (2, 0): (2, "a b"),
    }


def test_chunk_tokens_covers_every_token(spark):
    """Every token position is covered by ≥1 chunk; chunk token counts
    sum to L + overlap·(n_chunks−1) when stride < window."""
    from github_etl_spark.operators.pipeline import chunk_tokens

    docs = _docs(spark)
    out = chunk_tokens(docs, window=32, stride=24)
    agg = (
        out.groupBy("doc_id")
        .agg(
            F.sum("n_chunk_tokens").alias("s"),
            F.count("*").alias("k"),
            F.max("n_chunk_tokens").alias("mx"),
        )
        .join(
            docs.select(
                "doc_id",
                F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")).alias("L"),
            ),
            "doc_id",
        )
    )
    bad = agg.filter(
        (F.col("s") != F.col("L") + 8 * (F.col("k") - 1)) | (F.col("mx") > 32)
    )
    assert bad.count() == 0


# ------------------------------------------------------------------- packing


def test_pack_greedy_invariants(spark):
    from github_etl_spark.operators.pipeline import pack_greedy

    docs = _docs(spark).select(
        "doc_id", F.size(F.split("text", r"\s+")).alias("n_tokens")
    )
    packed = pack_greedy(docs, capacity=256, n_shards=8)
    packed.cache()
    n = docs.count()
    # Every doc exactly once
    assert packed.count() == n
    assert packed.select("doc_id").distinct().count() == n
    # No non-overflow pack exceeds capacity
    over = (
        packed.filter(~F.col("overflow"))
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("s"))
        .filter(F.col("s") > 256)
    )
    assert over.count() == 0
    # Overflow rows are alone in their pack
    of_packs = packed.filter(F.col("overflow")).select("pack_id")
    alone = packed.join(of_packs, "pack_id").groupBy("pack_id").count()
    assert alone.filter(F.col("count") > 1).count() == 0
    # Deterministic under repartitioning
    again = pack_greedy(docs.repartition(17), capacity=256, n_shards=8)
    assert packed.exceptAll(again).count() == 0
    # Packing actually packs: fewer packs than docs, decent mean fill
    stats = (
        packed.filter(~F.col("overflow"))
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("s"))
        .agg(F.count("*").alias("k"), F.avg("s").alias("fill"))
        .collect()[0]
    )
    assert stats.k < n / 2
    assert stats.fill > 0.6 * 256
    packed.unpersist()


def test_pack_greedy_oversize_flagged(spark):
    from github_etl_spark.operators.pipeline import pack_greedy

    df = spark.createDataFrame(
        [(1, 300), (2, 100), (3, 100)], ["doc_id", "n_tokens"]
    )
    rows = {r.doc_id: r for r in pack_greedy(df, 256, 1).collect()}
    assert rows[1].overflow and not rows[2].overflow
    assert rows[2].pack_id == rows[3].pack_id != rows[1].pack_id


def test_pack_greedy_all_docs_at_capacity(spark):
    """Every doc exactly at capacity: one doc per pack, none overflow."""
    from github_etl_spark.operators.pipeline import pack_greedy

    df = spark.createDataFrame([(i, 256) for i in range(40)], ["doc_id", "n_tokens"])
    rows = pack_greedy(df, capacity=256, n_shards=4).collect()
    assert len(rows) == 40
    assert not any(r.overflow for r in rows)
    assert len({r.pack_id for r in rows}) == 40  # no two fit together


def test_pack_greedy_capacity_one(spark):
    """capacity=1 degenerate: size-1 docs pack alone, size-0 docs all
    share bins (any rem >= 0 fits), oversize flagged."""
    from github_etl_spark.operators.pipeline import pack_greedy

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 0), (4, 0), (5, 2)], ["doc_id", "n_tokens"]
    )
    rows = {r.doc_id: r for r in pack_greedy(df, 1, 1).collect()}
    assert rows[5].overflow and not rows[1].overflow
    assert rows[1].pack_id != rows[2].pack_id  # 1+1 > capacity
    # zero-size docs first-fit into the first bin with rem >= 0
    assert rows[3].pack_id == rows[4].pack_id
    assert rows[5].pack_id not in {rows[3].pack_id, rows[1].pack_id, rows[2].pack_id}


def test_pack_greedy_singleton_shards(spark):
    """n_shards ≫ docs: most shards empty, each doc still packed once
    with a shard-disambiguated pack id."""
    from github_etl_spark.operators.pipeline import pack_greedy

    df = spark.createDataFrame([(i, 10) for i in range(5)], ["doc_id", "n_tokens"])
    rows = pack_greedy(df, capacity=256, n_shards=1000).collect()
    assert len(rows) == 5
    assert len({r.doc_id for r in rows}) == 5
    for r in rows:
        assert r.pack_id >> 32 == r.shard


def test_leakage_safe_split_keeps_neardups_together(spark):
    """The property the query exists for: no near-dup PAIR straddles
    two splits (a plain doc-id hash split violates this on the same
    fixture — asserted as the counterfactual)."""
    from pyspark.sql import functions as F

    from github_etl_spark.operators.dedup import ngram_jaccard_pairs
    from github_etl_spark.operators.graph import cluster_assignment
    from github_etl_spark.operators.pipeline import hash_split
    from github_etl_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", register=False)[
        "documents"
    ]
    pairs = ngram_jaccard_pairs(
        docs, block_cols=["lang"], threshold=0.5,
        shingle=3, max_df=100,
    ).select("id_a", "id_b")
    assert pairs.count() > 0, "fixture must contain near-dups"
    labeled = cluster_assignment(docs.select("doc_id"), pairs)
    safe = hash_split(labeled, "component_id").select("doc_id", "split")

    def straddlers(split_df):
        a = split_df.select(
            F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
        )
        b = split_df.select(
            F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
        )
        return (
            pairs.join(a, "id_a").join(b, "id_b")
            .where(F.col("sa") != F.col("sb"))
            .count()
        )

    assert straddlers(safe) == 0
    # Counterfactual: splitting by DOC id does leak on this fixture.
    naive = hash_split(docs.select("doc_id"), "doc_id").select(
        "doc_id", "split"
    )
    assert straddlers(naive) > 0
    # And the split is still a real split (every class non-empty).
    sizes = {r.split: r.c for r in safe.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(sizes) == {"train", "val", "test"} and all(v > 0 for v in sizes.values())


def test_compression_ratio_matches_direct_zlib(spark):
    """Per-row differential check: the Arrow kernel must equal direct
    zlib exactly (it IS zlib — this pins the batching/NULL plumbing)."""
    import zlib

    from pyspark.sql import functions as F

    from github_etl_spark.operators.pipeline import compression_ratio_col

    rows = [
        (1, "abc abc abc abc abc abc abc abc"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, None),
        (4, ""),
        (5, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.cr
        for r in df.select(
            "doc_id", compression_ratio_col("text").alias("cr")
        ).collect()
    }
    for i, t in rows:
        if t:
            b = t.encode()
            assert got[i] == len(zlib.compress(b, 6)) / len(b), i
        else:
            assert got[i] is None, i
    # Repetitive text compresses far better than prose.
    assert got[5] < got[2]
    # Partitioning invariance.
    again = {
        r.doc_id: r.cr
        for r in df.repartition(4)
        .select("doc_id", compression_ratio_col("text").alias("cr"))
        .collect()
    }
    assert again == got


# ------------------------------------------------- vocab / encode / model


def test_vocab_induce_rank_and_min_df(spark):
    from github_etl_spark.operators.pipeline import vocab_induce

    df = spark.createDataFrame(
        [
            (1, "apple apple banana cherry"),
            (2, "apple banana banana"),
            (3, "apple date"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.tok: r for r in vocab_induce(df, k=10, min_df=2).collect()}
    # cherry (df=1) and date (df=1) fall below min_df
    assert set(rows) == {"apple", "banana"}
    assert rows["apple"].term_count == 4 and rows["apple"].doc_count == 3
    assert rows["banana"].term_count == 3 and rows["banana"].doc_count == 2
    # dense frequency-rank ids starting at 1
    assert rows["apple"].vocab_id == 1 and rows["banana"].vocab_id == 2


def test_vocab_induce_tie_break_lexicographic(spark):
    from github_etl_spark.operators.pipeline import vocab_induce

    df = spark.createDataFrame(
        [(1, "zeta alpha"), (2, "zeta alpha")], ["doc_id", "text"]
    )
    rows = {r.tok: r.vocab_id for r in vocab_induce(df).collect()}
    assert rows == {"alpha": 1, "zeta": 2}  # equal counts → lexicographic


def test_tokenize_encode_roundtrip(spark):
    from github_etl_spark.operators.pipeline import tokenize_encode, vocab_induce

    docs = _docs(spark)
    vocab = {
        r.vocab_id: r.tok
        for r in vocab_induce(docs, k=200, min_df=2).collect()
    }
    enc = {r.doc_id: r for r in tokenize_encode(docs).collect()}
    sample = docs.limit(20).collect()
    assert sample
    for d in sample:
        toks = [w for w in d.text.lower().split() if w]
        if not toks:
            assert d.doc_id not in enc
            continue
        row = enc[d.doc_id]
        assert row.n_tokens == len(toks) == len(row.input_ids)
        for tok, tid in zip(toks, row.input_ids):
            if tid == 0:
                assert tok not in vocab.values()  # genuine OOV
            else:
                assert vocab[tid] == tok  # id decodes back to the token


def test_tokenize_encode_stats_equivalence(spark):
    """tokenize_encode_stats must reproduce tokenize_encode's
    order-independent reductions bit-for-bit: n_tokens = size and
    sum_tid = exact BIGINT fold of input_ids, same document set (the
    r13 optimization replacing the pretraining composite's assembled
    arrays with direct aggregates)."""
    from pyspark.sql import functions as F

    from github_etl_spark.operators.pipeline import (
        tokenize_encode,
        tokenize_encode_stats,
    )

    docs = _docs(spark)
    full = tokenize_encode(docs, k=200, min_df=2).select(
        "doc_id",
        "n_tokens",
        F.expr(
            "CAST(aggregate(input_ids, CAST(0 AS BIGINT),"
            " (a, x) -> a + x) AS BIGINT)"
        ).alias("sum_tid"),
    )
    fast = tokenize_encode_stats(docs, k=200, min_df=2)
    assert full.exceptAll(fast).count() == 0
    assert fast.exceptAll(full).count() == 0
    assert fast.count() > 0


def test_tokenize_encode_partitioning_invariant(spark):
    from github_etl_spark.operators.pipeline import tokenize_encode

    docs = _docs(spark)
    a = tokenize_encode(docs)
    b = tokenize_encode(docs.repartition(13))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_model_quality_score_bounds_and_signal(spark):
    from github_etl_spark.functions.text import model_quality_expr

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a fine day for all of us"),
            (2, "!!!! ???? ;;;; ::: ,,,, .... !!!"),
        ],
        ["doc_id", "text"],
    ).select("doc_id", model_quality_expr(F.col("text")).alias("s"))
    got = {r.doc_id: r.s for r in df.collect()}
    assert 0.0 < got[1] < 1.0 and 0.0 < got[2] < 1.0
    assert got[1] > got[2]  # fluent prose outranks punctuation junk


def test_bigram_logprob_hand_computed(spark):
    import math

    from github_etl_spark.operators.pipeline import bigram_logprob

    # corpus tokens: a×3 b×2 c×1 solo×1 (N=7); bigrams: (a,b)×2, (a,c)×1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert 4 not in got  # single-token doc has no bigrams
    # doc1/doc2: p(b|a) = .5*(2/3) + .5*(2/7) = 10/21
    assert got[1].n_bigrams == 1
    assert abs(got[1].avg_logprob - math.log(10 / 21)) < 5e-4
    # doc3: p(c|a) = .5*(1/3) + .5*(1/7) = 5/21
    assert abs(got[3].avg_logprob - math.log(5 / 21)) < 5e-4


# ---------------------------------------------------------- BPE training


def _ref_bpe(texts, n_merges, min_count=2):
    """Reference Sennrich'16 BPE: overlap-counting pair frequencies,
    greedy left-to-right non-overlapping merge apply, deterministic
    (count desc, pair lexicographic) selection. Tokenization mirrors
    words_expr (lowercase, whitespace split, empties dropped)."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in (t or "").lower().split():
            vocab[tuple(w)] += 1
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        top_count = max(pc.values())
        if top_count < min_count:
            break
        left, right = min(p for p, c in pc.items() if c == top_count)
        merges.append((rank, left, right, left + right, top_count))
        new = Counter()
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] += f
        vocab = new
    return merges


def test_bpe_learn_merges_matches_reference(spark):
    """Differential test against a scalar reference BPE on a corpus
    that exercises overlap counting ('aaaa'), regex metacharacters as
    symbols ('$', '+', '.'), ties, and multi-round merge chains."""
    from github_etl_spark.operators.pipeline import bpe_learn_merges

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest",
        "a.b a.b a+b a+b a+b $x$ $x$ $x$",
        "aaaa aaaa baa",
        "Mixed CASE mixed case",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_learn_merges(df, n_merges=12).orderBy("rank").collect()
    ]
    assert got == _ref_bpe(texts, 12)
    assert len(got) > 6  # the corpus genuinely supports a deep merge chain


def test_bpe_stops_at_min_count_and_validates(spark):
    import pytest

    from github_etl_spark.operators.pipeline import bpe_learn_merges

    df = spark.createDataFrame([(1, "ab ab cd")], "id long, text string")
    merges = bpe_learn_merges(df, n_merges=10, min_count=2).collect()
    # only (a,b) reaches count 2; (c,d) stops the loop at min_count
    assert [(m["left"], m["right"]) for m in merges] == [("a", "b")]
    assert bpe_learn_merges(df, n_merges=0).count() == 0
    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn_merges(df, n_merges=-1)
    with pytest.raises(ValueError, match="min_count"):
        bpe_learn_merges(df, min_count=0)
    # empty corpus -> empty merge table with the declared schema
    empty = spark.createDataFrame([], "id long, text string")
    out = bpe_learn_merges(empty, n_merges=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "rank", "left", "right", "merged", "pair_count",
    ]


def test_bpe_pair_counts_overlap_semantics(spark):
    """'aaa' contributes TWO (a,a) pairs per occurrence — the
    reference counting rule that a distinct-positions implementation
    would get wrong."""
    from github_etl_spark.operators.pipeline import bpe_pair_counts, word_freq_table

    df = spark.createDataFrame([(1, "aaa aaa")], "id long, text string")
    rows = {
        (r["left"], r["right"]): r["pair_count"]
        for r in bpe_pair_counts(word_freq_table(df)).collect()
    }
    assert rows == {("a", "a"): 4}  # 2 overlapping pairs x freq 2


def test_bpe_apply_matches_reference_and_roundtrips(spark):
    """bpe_apply under a learned merge table reproduces the scalar
    reference encode word-for-word, and each word's pieces concatenate
    back to the (lowercased) word — no character lost or duplicated by
    the regexp fuse chain."""
    import pyspark.sql.functions as F

    from github_etl_spark.operators.pipeline import bpe_apply, bpe_learn_merges

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "a.b a.b a+b a+b a+b $x$ $x$ $x$",
        "aaaa aaaa baa",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    merges = bpe_learn_merges(df, n_merges=10)
    pairs = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]

    def ref_apply(word):
        syms = list(word)
        for a, b in pairs:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {
        r["id"]: r["pieces"]
        for r in bpe_apply(df, merges).select("id", "pieces").collect()
    }
    for i, t in enumerate(texts):
        want = [p for w in t.lower().split() for p in ref_apply(w)]
        assert got[i] == want, (t, got[i], want)
        assert "".join(got[i]) == t.lower().replace(" ", "")
    # list-of-pairs form behaves identically to the DataFrame form
    got2 = {
        r["id"]: r["pieces"]
        for r in bpe_apply(df, pairs).select("id", "pieces").collect()
    }
    assert got2 == got
    # zero merges -> pure character stream
    chars = bpe_apply(df, []).select("pieces").head()["pieces"]
    assert chars == list(texts[0].lower().replace(" ", ""))
    del F


def test_bpe_apply_kernel_matches_regexp_chain(spark):
    """The two encode regimes (regexp chain / Arrow kernel) must agree
    piece-for-piece on a learned table over adversarial text — the
    kernel is the chain's semantic twin, not an approximation. NULL
    and empty texts follow the same contract in both."""
    from github_etl_spark.operators.pipeline import (
        bpe_apply,
        bpe_apply_kernel,
        bpe_learn_merges,
    )

    texts = [
        "low lower lowest low low",
        "a.b a.b a+b a+b a+b $x$ $x$ $x$",
        "aaaa aaaa baa aaaaa",
        "  spaced\tout\nwords  ",
        "",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    merges = bpe_learn_merges(df, n_merges=12)
    chain = {
        r["id"]: r["pieces"]
        for r in bpe_apply(df, merges).select("id", "pieces").collect()
    }
    kernel = {
        r["id"]: r["pieces"]
        for r in bpe_apply_kernel(df, merges)
        .select("id", "pieces")
        .collect()
    }
    assert chain == kernel


def test_bpe_apply_kernel_survives_past_the_chain_cliff(spark):
    """The regexp chain StackOverflows between 256 and 1024 merges
    (docs/SCALE_PROBE.md); the kernel regime must carry a 2048-deep
    table without deepening the plan — that is its reason to exist."""
    from github_etl_spark.operators.pipeline import bpe_apply_kernel

    pairs = [
        (chr(97 + i % 26), chr(97 + (i * 7 + 3) % 26)) for i in range(2048)
    ]
    df = spark.createDataFrame(
        [(0, "abab dkdk zzzz quux"), (1, "the cliff is real")],
        "id long, text string",
    )
    rows = {
        r["id"]: r["pieces"]
        for r in bpe_apply_kernel(df, pairs).collect()
    }
    assert all(isinstance(p, str) and p for ps in rows.values() for p in ps)
    assert "".join(rows[1]) == "thecliffisreal"


def test_bpe_learn_reliable_checkpoints_are_cleaned(spark, tmp_path):
    """In reliable-checkpoint mode each merge round writes the working
    table to the checkpoint dir; unpersist() does not remove those
    files, so the operator must delete each round's directory itself —
    a 32k-merge production run would otherwise leave 32k copies."""
    import os

    from github_etl_spark.operators.pipeline import bpe_learn_merges
    from github_etl_spark.session import scoped_checkpoint_dir

    ckpt = str(tmp_path / "bpe_ckpt")
    df = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new")],
        "id long, text string",
    )
    with scoped_checkpoint_dir(spark, ckpt):
        merges = bpe_learn_merges(df, n_merges=3).collect()
    assert len(merges) == 3
    leftovers = [
        os.path.join(root, d)
        for root, dirs, _files in os.walk(ckpt)
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert leftovers == [], f"leaked checkpoint dirs: {leftovers}"


# ----------------------------------------------------------------- DSIR


def test_dsir_weights_separate_target_from_raw(spark):
    """Grams exclusive to the target corpus must weigh MORE than grams
    appearing only outside it; shared boilerplate sits between."""
    from github_etl_spark.operators.pipeline import (
        dsir_doc_logweights,
        dsir_gram_weights,
        portable_hash_bucket,
    )
    from pyspark.sql import functions as F

    rows = [
        # target docs: "good clean" bigram, shared "the end"
        (0, "good clean good clean the end", True),
        (1, "good clean the end", True),
        # raw-only docs: "spam junk" bigram, shared "the end"
        (2, "spam junk spam junk the end", False),
        (3, "spam junk the end", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    w = dsir_gram_weights(df, "is_t", n_buckets=64)
    assert len(w) == 64 and all(isinstance(x, int) for x in w)

    def bucket(gram):
        import hashlib

        return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % 64

    assert w[bucket("good clean")] > w[bucket("the end")] > w[bucket("spam junk")]

    lw = {
        r["doc_id"]: r["lw_bits"]
        for r in dsir_doc_logweights(df, w).collect()
    }
    # target-exclusive doc scores above the raw-exclusive one
    assert lw[0] > lw[2]
    # python replay of doc 1 agrees exactly (integer contract);
    # features = unigrams + bigrams, the paper's hashed n-gram bag
    toks = "good clean the end".split()
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    assert lw[1] == sum(w[bucket(g)] for g in feats)


def test_dsir_apply_is_map_only(spark):
    from github_etl_spark.operators.pipeline import (
        dsir_doc_logweights,
    )

    df = spark.createDataFrame(
        [(0, "alpha beta gamma")], "doc_id long, text string"
    )
    plan = (
        dsir_doc_logweights(df, [0] * 1024)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_dsir_resample_keeps_max_and_validates_temp(spark):
    import pytest

    from github_etl_spark.operators.pipeline import dsir_resample

    rows = [(i, "good clean " * 5 + "the end", i % 2 == 0) for i in range(8)]
    rows += [(i + 8, "spam junk " * 5 + "the end", False) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    kept = dsir_resample(df, "is_t").collect()
    # every max-weight doc has accept_exp == 0 → p = 1 → always kept
    max_lw = max(r["lw_bits"] for r in kept)
    top_kept = {r["doc_id"] for r in kept if r["lw_bits"] == max_lw}
    assert {i for i in range(8)} <= top_kept
    with pytest.raises(ValueError, match="power of two"):
        dsir_resample(df, "is_t", temp=3)


def test_dsir_empty_and_null_corpus(spark):
    from github_etl_spark.operators.pipeline import (
        dsir_doc_logweights,
        dsir_gram_weights,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, is_t boolean"
    )
    w = dsir_gram_weights(empty, "is_t", n_buckets=32)
    assert w == [0] * 32
    nulls = spark.createDataFrame(
        [(0, None, True), (1, "one", False)],
        "doc_id long, text string, is_t boolean",
    )
    # NULL text drops; a single-token doc keeps its unigram feature
    rows = dsir_doc_logweights(nulls, w).collect()
    assert [(r["doc_id"], r["n_grams"]) for r in rows] == [(1, 1)]


def test_dsir_weights_survive_all_null_target(spark):
    from github_etl_spark.operators.pipeline import dsir_gram_weights

    df = spark.createDataFrame(
        [(0, "alpha beta alpha beta", None), (1, "gamma delta", None)],
        "doc_id long, text string, is_t boolean",
    )
    w = dsir_gram_weights(df, "is_t", n_buckets=32)
    assert len(w) == 32  # no TypeError; NULL target sums read as 0


def test_dsir_resample_rejects_temp_zero(spark):
    import pytest

    from github_etl_spark.operators.pipeline import dsir_resample

    df = spark.createDataFrame(
        [(0, "a b c", True)], "doc_id long, text string, is_t boolean"
    )
    with pytest.raises(ValueError, match="power of two"):
        dsir_resample(df, "is_t", temp=0)


def test_budget_select_prefix_semantics(spark):
    """The bucketed decomposition must equal the naive global ordered
    prefix: cumulative totals are monotone over (quality DESC, id ASC)
    and the boundary document that would overflow the budget is cut."""
    from github_etl_spark.operators.pipeline import budget_select

    # quality strictly increases with stopword density here; texts are
    # sized so the budget cuts INSIDE the best bucket's id order
    rows = [
        (1, "the of and to in is it for on a " * 5),   # high quality
        (2, "the of and to in is it for on a " * 5),   # same bucket as 1
        (3, "xyzzy qwerty asdf " * 10),                # low quality
        (4, None),                                     # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["cum_tokens"])
        for r in budget_select(df, 75).collect()
    }
    # docs 1 and 2 are 50 tokens each in the same quality bucket:
    # doc 1 fits (cum 50), doc 2 would reach 100 > 75 -> cut; doc 3's
    # bucket is below and already over budget; doc 4 has no text
    assert got == {1: (50, 50)}
    full = {
        r["doc_id"]: r["cum_tokens"]
        for r in budget_select(df, 10_000).collect()
    }
    assert full == {1: 50, 2: 100, 3: 130}

    import pytest

    with pytest.raises(ValueError, match="positive"):
        budget_select(df, 0)


def test_dsir_apply_kernel_regime_matches_expression_path(spark):
    """The two apply regimes (inlined array literal vs Arrow gather
    kernel) must produce BIT-IDENTICAL (n_grams, lw_bits) for the same
    vocabulary of weights — the DSIR sibling of the BPE chain/kernel
    pin."""
    import hashlib

    from github_etl_spark.operators.pipeline import (
        DSIR_EXPR_MAX_BUCKETS,
        dsir_doc_logweights,
    )

    texts = [
        (0, "good clean good clean the end"),
        (1, "spam junk the end of days"),
        (2, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    # weights deterministic per bucket; kernel size > boundary
    nk = DSIR_EXPR_MAX_BUCKETS * 2
    wk = [((i * 37) % 13) - 6 for i in range(nk)]
    kern = {
        r["doc_id"]: (r["n_grams"], r["lw_bits"])
        for r in dsir_doc_logweights(df, wk).collect()
    }

    def bucket(g, n):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n

    def feats_of(text):
        toks = text.split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    for did, text in texts:
        feats = feats_of(text)
        expect = (len(feats), sum(wk[bucket(g, nk)] for g in feats))
        assert kern[did] == expect
    # and the expression path agrees on a small vocab derived the same way
    ne = 64
    we = [((i * 37) % 13) - 6 for i in range(ne)]
    expr = {
        r["doc_id"]: (r["n_grams"], r["lw_bits"])
        for r in dsir_doc_logweights(df, we).collect()
    }
    for did, text in texts:
        feats = feats_of(text)
        assert expr[did] == (len(feats), sum(we[bucket(g, ne)] for g in feats))


def test_dsir_kernel_regime_preserves_id_type(spark):
    """The regime switch must not change the function's type contract:
    a string id survives the Arrow-kernel path with its own type."""
    from github_etl_spark.operators.pipeline import (
        DSIR_EXPR_MAX_BUCKETS,
        dsir_doc_logweights,
    )

    df = spark.createDataFrame(
        [("d-1", "alpha beta gamma"), ("d-2", "one two")],
        "doc_id string, text string",
    )
    out = dsir_doc_logweights(df, [1] * (DSIR_EXPR_MAX_BUCKETS * 2))
    assert dict(out.dtypes)["doc_id"] == "string"
    got = {r["doc_id"]: r["lw_bits"] for r in out.collect()}
    # all-ones weights: lw == n_feats (unigrams + bigrams)
    assert got == {"d-1": 5, "d-2": 3}


def test_budget_select_hot_bucket_path_matches_window_path(spark):
    """The surrogate-keys per-partition-offset idiom (hot buckets) and
    the keyed window (cold buckets) must produce IDENTICAL cumulative
    totals — forced by hot_bucket_rows=0, which routes every bucket
    through the offset path, on a corpus with an all-identical-quality
    hot bucket plus a normal tail."""
    from github_etl_spark.operators.pipeline import budget_select

    hot_text = "the of and to in is it for on a " * 3
    rows = [(i, hot_text) for i in range(40)] + [
        (100, "xyzzy qwerty asdf " * 10),
        (101, "the the the unique tail doc"),
        (102, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)

    def snap(res):
        return sorted(
            (r["doc_id"], r["quality_pm"], r["n_tokens"], r["cum_tokens"])
            for r in res.collect()
        )

    for budget in (500, 10_000_000):
        windowed = snap(budget_select(df, budget))
        offset = snap(budget_select(df, budget, hot_bucket_rows=0))
        assert windowed == offset
        assert windowed  # non-degenerate: something is kept
    # mixed regime: only the 40-row bucket is hot
    mixed = snap(budget_select(df, 10_000_000, hot_bucket_rows=10))
    assert mixed == snap(budget_select(df, 10_000_000))


def test_budget_select_empty_corpus(spark):
    from github_etl_spark.operators.pipeline import budget_select

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert budget_select(empty, 100).count() == 0
