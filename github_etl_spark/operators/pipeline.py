"""Training-data pipeline operators (EXT — north-star family).

The four operations every large-scale LLM-data pipeline runs between
"raw corpus" and "training shards", beyond dedup/similarity (which live
in operators.dedup / operators.similarity):

- ``repetition_metrics`` — Gopher-style within-document repetition
  signals (top-n-gram fraction, duplicate-n-gram fraction) used as a
  quality filter; computed distributed (explode + two keyed partial
  aggs), never O(len²) per row, so a 100 KB document costs the same
  per token as a 1 KB one.
- ``hash_split`` — deterministic train/val/test assignment from a
  *portable* document-id hash (md5 prefix, not engine-specific
  xxhash/murmur), so the split is stable across engines, re-runs and
  cluster sizes — the property that makes the split auditable.
- ``stratified_sample`` — exact per-stratum sampling (ceil(n·frac)
  rows per stratum, deterministic hash order), unlike
  ``df.sampleBy``'s Bernoulli draw which is neither exact nor stable
  under repartitioning.
- ``redact_pii_expr`` lives in functions.text (pure column expr).

There is no analog in the reference (its ETL is GitHub-API-shaped;
these extend the engine per the EXT mandate). Scale notes inline.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_det
from ..functions.text import words_expr

HEX_PREFIX_LEN = 8  # 32 bits of md5 → bucket space far above any split grain


def portable_hash_bucket(col: Column, n_buckets: int = 100) -> Column:
    """Engine-portable deterministic bucket in [0, n_buckets).

    md5 of the value's decimal-string form, first 8 hex digits parsed
    as an integer, mod n_buckets. Chosen over xxhash64/murmur because
    md5 is bit-identical in every engine (Spark, DuckDB, Python),
    making split assignments auditable off-cluster. Pure JVM
    expression — no shuffle, no UDF.
    """
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, HEX_PREFIX_LEN), 16, 10)
    return h.cast("long") % n_buckets


def sql_hash_bucket(expr: str, n_buckets: int = 100) -> str:
    """The same bucket as DuckDB SQL text (oracle lockstep)."""
    return (
        f"(CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, "
        f"{HEX_PREFIX_LEN})) AS BIGINT) % {n_buckets})"
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
) -> DataFrame:
    """Deterministic train/val/test assignment.

    Adds ``bucket`` (0-99) and ``split``. Boundaries are cumulative
    integer percentages of the weights; every row with the same id gets
    the same split in every engine and every run. Zero-shuffle: the
    assignment is a per-row expression, so it composes with any
    downstream partitioning untouched (critical at 100 TB — a split
    column must not force a repartition).
    """
    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = float(sum(weights))
    bucket = portable_hash_bucket(F.col(id_col))
    cum = 0.0
    expr = F.lit(names[-1])
    bounds: list[tuple[str, int]] = []
    for w, name in zip(weights[:-1], names[:-1]):
        cum += w / total * 100.0
        bounds.append((name, int(round(cum))))
    for name, bound in reversed(bounds):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("bucket", bucket).withColumn("split", expr)


def ngrams_expr(toks: Column, n: int) -> Column:
    """Word n-grams from a token array, non-distinct, O(n·L) per row.

    Built by zipping n length-aligned slices of the token array —
    NOT by `transform(sequence(...), i -> slice(toks, i, n))`, whose
    per-index slice is O(L) making gram construction O(L²) per
    document (measured 5× slower at sf0.1 on ~50-token docs, and
    quadratically worse on long ones).
    """
    n_grams = F.size(toks) - (n - 1)
    out = F.slice(toks, 1, n_grams)
    for i in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, i + 1, n_grams),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n_grams > 0, out).otherwise(F.array().cast("array<string>"))


def winnow_fingerprints_expr(text_col) -> Column:
    """MOSS winnowing fingerprints (Schleimer et al., SIGMOD'03): hash
    every word k-gram (k = 3), select the minimum hash in each sliding
    window of w = 4 consecutive gram hashes, fingerprint = sorted
    distinct selected minima.

    Guarantee: any run of ≥ w+k-1 shared tokens between two documents
    contributes at least one SHARED fingerprint, while only ~2/(w+1)
    of all grams are kept — the local-sampling property that makes
    winnowing the standard plagiarism/near-dup fingerprint.

    The gram hash is a 16-hex-char md5 prefix: md5 is the one hash both
    Spark and DuckDB share, and hex strings order identically in both
    engines, so the oracle can mirror the selection exactly. (A
    Rabin-Karp ROLLING hash is an O(1)-per-gram computation trick for
    the same scheme; here gram hashing is one vectorized JVM md5 per
    gram.) Sliding minima are built from ``w`` zipped length-aligned
    slices — O(w·L) per row, same shape as ngrams_expr, NOT the O(L²)
    transform(sequence)+slice form.

    Documents with fewer than k tokens yield an empty fingerprint
    array; with fewer than w grams, one fingerprint (the global min).
    """
    from ..functions.text import dedup_tokens_expr

    k, w = 3, 4
    grams = ngrams_expr(dedup_tokens_expr(text_col), k)
    hs = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
    n = F.size(hs)
    n_wins = n - (w - 1)
    mins = F.slice(hs, 1, n_wins)
    for i in range(1, w):
        mins = F.zip_with(mins, F.slice(hs, i + 1, n_wins), lambda a, b: F.least(a, b))
    wins = (
        F.when(n_wins > 0, mins)
        .when(n > 0, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<string>"))
    )
    return F.array_sort(F.array_distinct(wins))


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own unigram model — the simplest member of the KenLM-style
    perplexity-gate family: gibberish and boilerplate-stuffed documents
    score far from the corpus mode and can be thresholded.

    p(tok) = corpus_count(tok) / corpus_tokens; score = mean over the
    doc's tokens of ln p(tok). Shape: one token-frequency aggregation
    (vocabulary-sized — bounded by distinct tokens, not corpus rows),
    the corpus total derived from it (sum of counts — no second corpus
    scan), one join of tokens against the vocabulary, one per-doc
    aggregation. The vocabulary is materialized once (localCheckpoint)
    because Spark has no automatic subplan reuse — without it the
    corpus would be re-tokenized for the frequency table, the total,
    AND the join side. Documents with zero tokens drop out (no model
    support)."""
    toks = df.select(F.col("doc_id"), F.explode(words_expr(F.col("text"))).alias("tok"))
    freq = (
        toks.groupBy("tok").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    )
    total = freq.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", (F.log(F.col("c") / F.col("n").cast("double"))).alias("logp")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        round_det(F.avg("logp"), 4).alias("avg_logprob"),
    )


def bigram_logprob(df: DataFrame) -> DataFrame:
    """Per-document average INTERPOLATED bigram log-probability under
    the corpus's own n-gram model — one rung up the KenLM ladder from
    ``unigram_logprob``:

        p(w_i | w_{i-1}) = α·c(w_{i-1} w_i)/c(w_{i-1}) + (1−α)·c(w_i)/N

    Interpolation (Jelinek-Mercer) keeps every conditional nonzero, so
    the ln never sees 0 and unseen continuations degrade to the
    unigram floor instead of −∞.

    Scale shape: bigrams come straight from the token ARRAY
    (zip-with-shifted-self), not from a lag() window — no per-document
    window shuffle. The corpus is TOKENIZED ONCE (r13): the word-array
    frame is eager-checkpointed and all three token consumers (the
    unigram explode, the bigram stream build, and the scoring join's
    probe side) read the materialized arrays — the r12 shape ran the
    regexp tokenizer over the corpus once per consumer (interleaved
    A/B at sf0.1: 1.69 s → 1.39 s warm, bit-identical rows; one
    corpus-width array materialization buys back two full tokenize
    passes, the same trade dsir_resample's bucket frame makes — NOTE
    the materialized frame is word-array-WIDE, i.e. roughly the input
    text again: at the 100 TB design point this trades ~1× corpus of
    scratch storage-tier writes against two extra tokenizer scans,
    the right trade while storage bandwidth ≳ half the scan+tokenize
    throughput; on a storage-starved cluster flip it back to
    re-derivation by replacing the checkpoint with the plain
    projection). The
    two frequency tables are keyed aggregations bounded by (bi)gram
    vocabulary size with map-side partial combine, each materialized
    once (localCheckpoint) because two consumers would otherwise
    re-derive them. The scoring joins shuffle on gram keys — the
    correct shape at 100 TB, where a bigram table is far beyond
    broadcast size. Documents with < 2 tokens have no bigrams and
    drop out (no model support), same as the oracle.
    """
    from ..session import eager_checkpoint

    wf = eager_checkpoint(
        df.select(F.col("doc_id"), words_expr(F.col("text")).alias("__w"))
    )
    words = F.col("__w")
    # bigram array: zip words[0..n-2] with words[1..n-1]
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda w1, w2: F.struct(w1.alias("w1"), w2.alias("w2")),
    )
    stream = wf.select(
        F.col("doc_id"), F.explode(bigrams).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    toks = wf.select(F.explode(words).alias("tok"))
    uni = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cu"))
        .localCheckpoint(eager=True)
    )
    total = uni.agg(F.sum("cu").alias("n"))
    bi = (
        stream.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=True)
    )
    # Attach the unigram counts and total to the BIGRAM-VOCAB-sized
    # relation, not the corpus-sized stream: p(w2|w1) depends only on
    # the bigram type, so scoring it once per distinct bigram replaces
    # two corpus-sized shuffle joins with two vocabulary-sized ones —
    # the stream then shuffles exactly once, on (w1, w2). Identical
    # arithmetic per row (same expression over the same counts).
    bi_scored = (
        bi.join(uni.select(F.col("tok").alias("w1"), F.col("cu").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("cu").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.log(
                F.lit(0.5) * F.col("cb") / F.col("c1")
                + F.lit(0.5) * F.col("c2") / F.col("n").cast("double")
            ).alias("logp"),
        )
    )
    scored = stream.join(bi_scored, ["w1", "w2"]).select("doc_id", "logp")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        round_det(F.avg("logp"), 4).alias("avg_logprob"),
    )


def repetition_metrics(
    df: DataFrame,
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Returns (id, n_grams, top_gram_frac, dup_gram_frac): the fraction
    of n-gram occurrences taken by the single most frequent n-gram, and
    the fraction covered by n-grams occurring more than once. High
    values flag boilerplate/looping text (the repetition filters of
    Rae et al. 2021 "Scaling Language Models" §A1.2, public paper).
    Documents shorter than n tokens yield no grams and are absent from
    the result (same as the oracle's range() semantics).

    ZERO-SHUFFLE: per-row array_sort + aggregate() run-length fold
    over the gram array — O(L log L) per document, all JVM-side, no
    exchange at any scale.
    """
    grams = ngrams_expr(words_expr(F.col("text")), n)
    sorted_g = F.array_sort(grams)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
    )

    def _step(acc, x):
        # Run-length scan: close the previous run when the gram changes.
        # "" is a safe sentinel — words_expr never emits empty tokens.
        same = x == acc.prev
        closed_dup = acc.dup + F.when(acc.run > 1, acc.run).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc.top).otherwise(F.greatest(acc.top, acc.run)).alias("top"),
            F.when(same, acc.dup).otherwise(closed_dup).alias("dup"),
        )

    def _finish(acc):
        return F.struct(
            F.greatest(acc.top, acc.run).alias("top"),
            (acc.dup + F.when(acc.run > 1, acc.run).otherwise(F.lit(0))).alias("dup"),
        )

    stats = F.aggregate(sorted_g, zero, _step, _finish)
    return (
        df.select(
            F.col("doc_id"),
            F.size(sorted_g).alias("n_grams"),
            stats.alias("_st"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            F.col("doc_id"),
            F.col("n_grams"),
            round_det(F.col("_st.top") / F.col("n_grams"), 4).alias("top_gram_frac"),
            round_det(F.col("_st.dup") / F.col("n_grams"), 4).alias("dup_gram_frac"),
        )
    )


def contamination_overlap(
    train: DataFrame,
    bench: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per-document fraction of distinct
    word n-grams that also occur anywhere in a benchmark/eval corpus.

    The decontamination step every training pipeline runs before
    shipping data (n-gram collision against held-out eval sets, as in
    public LM training reports). Returns (id, n_grams, n_hit,
    overlap_frac, contaminated); documents with fewer than n tokens
    have no grams and are absent (same as the oracle's range()
    semantics).

    Scale shape: the benchmark side is collapsed to its DISTINCT gram
    set and broadcast — eval suites are MBs while the corpus is TBs, so
    the asymmetry is structural, not a tuning assumption. The corpus
    side is one explode of per-document DISTINCT grams, a broadcast
    left join (no shuffle of the corpus), and one groupBy(id) with
    map-side partial aggregation. Nothing materializes the cross
    product and no corpus-wide gram table is ever shuffled.
    """
    grams = F.array_distinct(ngrams_expr(words_expr(F.col("text")), n))
    bench_grams = (
        bench.select(F.explode(grams).alias("g")).distinct()
        .withColumn("_hit", F.lit(True))
    )
    exploded = train.select(F.col("doc_id"), F.explode(grams).alias("g"))
    return (
        exploded.join(F.broadcast(bench_grams), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
        .select(
            F.col("doc_id"),
            F.col("n_grams"),
            F.col("n_hit"),
            round_det(F.col("n_hit") / F.col("n_grams"), 4).alias("overlap_frac"),
            (F.col("n_hit") / F.col("n_grams") >= F.lit(0.5)).alias(
                "contaminated"
            ),
        )
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-source weighted downsampling — the domain-mixture step that
    reweights corpora (web vs code vs books) toward a target token
    budget.

    Keeps a row iff its portable md5 bucket (of the id) falls below
    ``rate[source] · n_buckets``, so the sample is deterministic,
    engine-portable, repartition-stable, and — unlike
    ``df.sampleBy`` — the same document set on every run and engine.
    Zero-shuffle: pure per-row expression (a chained CASE over the
    rate map); composes with downstream partitioning untouched.
    Rates are clamped to [0, 1]; unseen sources fall to
    ``default_rate``.
    """
    n_buckets = 10_000
    bucket = portable_hash_bucket(F.col("doc_id"), n_buckets)
    cut = F.lit(int(max(0.0, min(1.0, default_rate)) * n_buckets))
    for src, rate in sorted(rates.items()):
        bound = int(max(0.0, min(1.0, rate)) * n_buckets)
        cut = F.when(F.col("source") == src, F.lit(bound)).otherwise(cut)
    return df.filter(bucket < cut)


def chunk_tokens(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    overlapping windows of ``window`` tokens every ``stride`` tokens —
    the sharding step that turns documents into model-sized training
    sequences (and RAG passages).

    Emits (id, chunk_id, n_chunk_tokens, chunk_text) with chunk_id
    counting from 0 per document; the final chunk may be short, and a
    document shorter than one window yields exactly one chunk. Empty
    documents yield none.

    Scale shape: chunks are built per-row with array slices (O(L) per
    document) and explode — a narrow map-side op, no shuffle, no UDF;
    the chunk multiplier (~L/stride) is the unavoidable output growth,
    not a join blowup.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = words_expr(F.col("text"))
    n_tok = F.size(toks)
    # 1 chunk for L ≤ window, then one more per stride step beyond.
    n_chunks = F.when(n_tok <= 0, F.lit(0)).otherwise(
        F.lit(1)
        + F.greatest(
            F.ceil((n_tok - F.lit(window)) / F.lit(float(stride))), F.lit(0)
        ).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, window),
    )
    out = df.select(
        F.col("doc_id"),
        F.posexplode(chunks).alias("chunk_id", "_toks"),
    )
    # sequence(0, -1) is DESCENDING [0, -1] in Spark, not empty — an
    # empty document would emit two ghost chunks. Every real chunk
    # holds ≥1 token (the last starts at (n_chunks-1)·stride+1 ≤ L),
    # so dropping empty slices removes exactly the ghosts.
    return out.filter(F.size("_toks") > 0).select(
        F.col("doc_id"),
        F.col("chunk_id"),
        F.size("_toks").alias("n_chunk_tokens"),
        F.array_join("_toks", " ").alias("chunk_text"),
    )


def pack_greedy(
    df: DataFrame,
    capacity: int,
    n_shards: int = 32,
) -> DataFrame:
    """Greedy sequence packing: group documents into packs whose token
    sizes sum to ≤ ``capacity`` — the step that fills fixed-length
    training contexts instead of padding one document per sequence.

    Bin packing is inherently sequential, so it is sharded: documents
    land in one of ``n_shards`` portable-hash shards, and each shard
    runs first-fit-decreasing independently inside ``applyInPandas``
    (sorted by size desc then id — deterministic for a given shard
    count). Pack ids are ``shard * 2^32 + local_bin`` so they never
    collide across shards. Oversize documents (> capacity) get a
    single-document pack flagged ``overflow`` instead of being dropped.

    Scale shape: one shuffle on the shard key; per-shard state is the
    open-bin table (bounded by shard row count), vectorized pandas in,
    plain columns out. FFD within a shard wastes ≤ the worst shard's
    tail vs. global FFD — the price of parallelism; raise n_shards to
    match cluster cores, not data size.
    """
    shard = portable_hash_bucket(F.col("doc_id"), n_shards)
    base = df.select(
        F.col("doc_id"),
        # NULL size (e.g. a NULL-text doc whose token count is NULL)
        # packs as zero tokens — it must not poison the shard's pandas
        # batch with NaN (ints become floats, the FFD loop crashes).
        F.coalesce(F.col("n_tokens").cast("long"), F.lit(0)).alias("n_tokens"),
        shard.cast("int").alias("shard"),
    )

    def _pack(pdf):
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        shard_id = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        bins: list[int] = []  # remaining capacity per open bin
        assign: list[int] = []
        for size in pdf["n_tokens"]:
            placed = -1
            if size <= capacity:
                for b, rem in enumerate(bins):
                    if rem >= size:
                        placed = b
                        break
            if placed < 0:
                bins.append(capacity - int(size))
                placed = len(bins) - 1
            else:
                bins[placed] -= int(size)
            assign.append(placed)
        pdf["pack_id"] = [(shard_id << 32) | b for b in assign]
        pdf["overflow"] = pdf["n_tokens"] > capacity
        return pdf[["doc_id", "shard", "n_tokens", "pack_id", "overflow"]]

    out_schema = (
        "doc_id long, shard int, n_tokens long, pack_id long, overflow boolean"
    )
    return base.groupBy("shard").applyInPandas(_pack, schema=out_schema)


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    fraction: float,
) -> DataFrame:
    """Exact, deterministic stratified sample: ceil(n_s · fraction)
    rows from each stratum, chosen by portable-hash order.

    ``sampleBy`` draws Bernoulli per row — approximate counts, and a
    different sample after any repartition. This operator instead ranks
    rows within each stratum by (md5(id), id) and keeps a prefix, so
    the sample is exact, reproducible, and engine-portable.

    Scale: one shuffle on the strata key. The within-stratum sort is
    the cost; for very large strata swap the window for a two-pass
    quantile cutoff (sketch the hash distribution, filter by
    threshold) — same semantics, no full sort. Fine for strata that
    fit an executor's spill budget.
    """
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(h, F.col("doc_id"))
    cnt = Window.partitionBy(*strata_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(cnt))
        .filter(F.col("_rn") <= F.ceil(F.col("_n") * F.lit(fraction)))
        .drop("_rn", "_n")
    )


def vocab_induce(
    df: DataFrame,
    k: int = 200,
    min_df: int = 2,
) -> DataFrame:
    """Frequency-ranked vocabulary induction over the corpus — the
    tokenizer-training precursor every LLM pipeline runs (BPE/unigram
    trainers all start from exactly this table): per-token corpus term
    count and document frequency, rare tokens dropped (``min_df``),
    the top ``k`` kept, and a dense ``vocab_id`` assigned by rank
    (ties broken lexicographically so the id assignment is total and
    reproducible).

    Scale shape: one explode → one keyed aggregation whose output is
    bounded by the DISTINCT-token count (vocabulary-sized, not
    corpus-sized) with map-side partial combine; the top-k is
    ``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject
    (per-partition heaps + driver merge — no global sort); the
    ``row_number`` window then runs over only the k survivors, so its
    single-partition frame is bounded by k, never by data volume.
    """
    toks = df.select(
        F.col("doc_id").alias("__doc"),
        F.explode(words_expr(F.col("text"))).alias("tok"),
    )
    return _vocab_rank(toks, "__doc", k, min_df)


def _vocab_rank(toks: DataFrame, doc_col: str, k: int, min_df: int) -> DataFrame:
    """Shared vocabulary ranking over a (doc, tok) frame: term/doc
    counts → min_df floor → top-k by (count desc, tok asc) → dense
    ids. ONE definition of the tie-break so `vocab_induce`,
    `tokenize_encode` and `bpe_tokenize_encode` can never drift."""
    agg = toks.groupBy("tok").agg(
        F.count("*").alias("term_count"),
        F.countDistinct(doc_col).alias("doc_count"),
    )
    rank_order = [F.col("term_count").desc(), F.col("tok").asc()]
    top = agg.filter(F.col("doc_count") >= min_df).orderBy(*rank_order).limit(k)
    w = Window.orderBy(*rank_order)  # bounded: ≤ k rows reach this window
    return top.withColumn("vocab_id", F.row_number().over(w).cast("long"))


def _assemble_input_ids(toks: DataFrame, vocab: DataFrame) -> DataFrame:
    """Shared encode tail over a (id, pos, tok) frame: broadcast-join
    the ≤k vocab (OOV → id 0), reassemble per-document id arrays by
    in-array (pos, tid) sorting — one corpus-sized groupBy, no global
    sort. ONE definition shared by `tokenize_encode` and
    `bpe_tokenize_encode`."""
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("vocab_id"), F.lit(0)).cast("long").alias("tid"),
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"],
        ).alias("input_ids"),
    )


def tokenize_encode(
    df: DataFrame,
    k: int = 200,
    min_df: int = 2,
) -> DataFrame:
    """Token-id encoding: map each document to its ``array<long>`` of
    vocabulary ids (out-of-vocabulary tokens → id 0) — the final
    text→ids step before sequence packing in a training-data pipeline.

    Scale shape: the vocabulary (≤ k rows) is broadcast, so encoding
    is a map-side-only left join on the exploded token stream — no
    shuffle of the corpus on token values. Document reassembly sorts
    (pos, id) structs *inside* each collected array
    (``array_sort(collect_list(struct(pos, tid)))``), which needs no
    global order — one groupBy on the document id is the only
    corpus-sized exchange. The corpus is scanned twice (once to build
    the vocabulary, once to encode); in production the vocabulary is
    built once and reused across encode runs, so the steady-state cost
    is a single scan.

    Documents with zero tokens produce no rows (nothing to encode) —
    same semantics as the oracle's group-over-exploded-tokens.
    """
    vocab = vocab_induce(df, k=k, min_df=min_df).select("tok", "vocab_id")
    toks = df.select(
        F.col("doc_id"),
        F.posexplode(words_expr(F.col("text"))).alias("pos", "tok"),
    )
    return _assemble_input_ids(toks, vocab)


def tokenize_encode_stats(
    df: DataFrame,
    k: int = 200,
    min_df: int = 2,
) -> DataFrame:
    """(id, n_tokens, sum_tid) per document — the ORDER-INDEPENDENT
    reductions of ``tokenize_encode``'s output, computed without ever
    assembling the per-document id array: same ``vocab_induce`` table,
    same broadcast LUT join, but the per-doc ``collect_list`` +
    ``array_sort`` + array-fold (which exist only to put ids in
    position order) are replaced by a plain count/sum aggregate over
    the exploded token rows. BIGINT sums are exact and commutative, so
    ``sum_tid ≡ aggregate(input_ids, 0, (a,x) -> a+x)`` and
    ``n_tokens ≡ size(input_ids)`` bit-for-bit (pinned in tests
    against ``tokenize_encode`` itself); the pretraining composite's
    manifest needs only these, and skipping assembly removes the
    object-hash aggregation buffers of corpus-length struct arrays
    from its encode stage (guide §2.3: don't compute what you throw
    away). Zero-token documents produce no rows — same semantics as
    ``tokenize_encode``.
    """
    vocab = vocab_induce(df, k=k, min_df=min_df).select("tok", "vocab_id")
    toks = df.select(
        F.col("doc_id"),
        F.explode(words_expr(F.col("text"))).alias("tok"),
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        F.coalesce(F.col("vocab_id"), F.lit(0)).cast("long").alias("tid"),
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("tid").cast("long").alias("sum_tid"),
    )


def compression_ratio_col(text_col: str = "text") -> Column:
    """zlib-compressed-size / raw-size of the UTF-8 text — the classic
    corpus-quality signal (Gopher/RefinedWeb family): templated or
    repetitive documents compress far below ~0.4, high-entropy junk
    sits near 1.0, natural prose in between.

    Necessarily a Python kernel (no JVM zlib expression), so it is a
    pandas_udf over Arrow batches — the vectorized slow path, never
    row-at-a-time. zlib at a fixed level is deterministic, so the
    column is reproducible across runs and partitionings (asserted in
    tests, alongside a per-row differential check against direct
    zlib). NULL and empty texts yield NULL (no bytes to measure).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, 6)) / len(b)

        return texts.map(one)

    return _ratio(F.col(text_col))


# --------------------------------------------------------- BPE training


def word_freq_table(df: DataFrame) -> DataFrame:
    """(word, freq) over the whitespace-tokenized corpus — the input
    every BPE/unigram trainer actually iterates on. This is THE scale
    trick of tokenizer training at 100 TB: the corpus is touched once
    (one explode + one keyed agg, output bounded by DISTINCT words),
    and every subsequent merge iteration runs on the vocabulary-sized
    table, never the corpus."""
    return (
        df.select(F.explode(words_expr(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency, from a
    (word|symstr, freq) table. Accepts either raw words (symbols =
    characters) or a ``symstr`` column of space-joined symbols from
    earlier merges. Pure JVM array expressions: per-word symbol zip,
    in-row pair expansion, one keyed aggregation (vocabulary-sized).
    Overlapping occurrences count individually ('aaa' counts (a,a)
    twice) — the reference BPE counting semantic."""
    if "symstr" in words.columns:
        syms = F.split(F.trim(F.col("symstr")), " ")
    else:
        syms = F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring(F.col("word"), i, F.lit(1)),
        )
    n = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, F.lit(1), n - 1),
        F.slice(syms, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        words.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Learn an ordered BPE merge table from the corpus (the Sennrich
    et al. 2016 algorithm): start from characters, repeatedly take the
    highest-count adjacent symbol pair (ties broken lexicographically
    so the table is total and reproducible) and fuse it, stopping
    after ``n_merges`` or when no pair reaches ``min_count``. Returns
    (rank, left, right, merged, pair_count).

    Distributed shape: the corpus collapses to the (word, freq) table
    once; each iteration is one vocabulary-sized pair aggregation plus
    a TakeOrdered(1) — the ONLY driver-side data is the single winning
    pair per round. Merges apply via a left-to-right, non-overlapping
    regexp on the space-joined symbol string (the reference semantic),
    with the pair regex-escaped so symbols that contain metacharacters
    ('.', '+', '$'…) merge literally. The working table is
    CHECKPOINTED each round (localCheckpoint, or a reliable
    checkpoint() when a session checkpoint dir is set — same
    auto-selection as operators/graph.connected_components) so both
    lineage and the ANALYZED PLAN stay O(1) per round: a cache alone
    leaves the logical plan growing by one regexp per round, and
    Catalyst re-analyzes the whole tree every iteration — measured
    superlinear (0.4 s/round at 8 merges → 3.4 s/round at 16) before
    the r7 fix; flat after (docs/SCALE_PROBE.md, BPE probe)."""
    import re as _re

    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    spark = df.sparkSession
    schema = "rank int, left string, right string, merged string, pair_count long"
    vocab = word_freq_table(df).select(
        "freq",
        # sentinel spaces make every symbol boundary a literal ' ' so
        # the merge regex needs only a fixed-width lookaround
        F.concat(
            F.lit(" "),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.substring(F.col("word"), i, F.lit(1)),
                ),
            ),
            F.lit(" "),
        ).alias("symstr"),
    )
    # eager checkpoint: materializes AND truncates lineage, so the
    # next round's plan is a scan of this round's result — not the
    # whole merge history re-analyzed by Catalyst every iteration.
    from ..session import eager_checkpoint as _ckpt, release

    vocab = _ckpt(vocab)
    merges: list[tuple] = []
    try:
        for rank in range(1, n_merges + 1):
            top = (
                bpe_pair_counts(vocab)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_count"] < min_count:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
            merges.append((rank, left, right, left + right, cnt))
            pattern = f"(?<= ){_re.escape(left)} {_re.escape(right)}(?= )"
            replacement = (left + right).replace("\\", "\\\\").replace("$", "\\$")
            nxt = _ckpt(
                vocab.withColumn(
                    "symstr", F.regexp_replace("symstr", pattern, replacement)
                )
            )
            release(vocab)  # the previous round's blocks and files
            vocab = nxt
    finally:
        # The merge table is already driver-side — the last working
        # table (blocks AND reliable-checkpoint files) is dead too.
        release(vocab)
    return spark.createDataFrame(merges, schema)


def bpe_apply(
    df: DataFrame,
    merges,
    out_col: str = "pieces",
) -> DataFrame:
    """Tokenize the corpus under a learned BPE merge table — the
    production encode pass that follows ``bpe_learn_merges``. Each
    word's characters are fused by every merge in RANK ORDER (the BPE
    apply rule; later merges see earlier merges' output), then the
    word's pieces concatenate in document order into ``out_col``
    (`array<string>`).

    ``merges`` is the DataFrame returned by ``bpe_learn_merges`` (its
    rank/left/right rows are collected — bounded by n_merges, the one
    deliberate driver-side list here) or an already-ordered list of
    (left, right) pairs. The whole pass is ONE map-only projection: a
    chain of ``n_merges`` regexp_replace calls folded over each word's
    sentinel-padded symbol string inside a ``transform`` lambda — no
    shuffle, no UDF, applied per-row at scan speed. Expression depth
    grows with the merge count and the regime boundary is MEASURED
    (docs/SCALE_PROBE.md, BPE probe): ~67-110 ms/merge/5k-docs exec
    cost through 256 merges; at 1024 the expression tree either
    raises java.lang.StackOverflowError during construction (JVM
    stack-state dependent — reproduced in a fresh session) or runs
    ~144x slower than the kernel (115 s vs 0.8 s). Past ~256 merges
    use ``bpe_apply_kernel`` (the broadcast Arrow regime; the bloom
    literal-vs-broadcast split, applied to tokenization)."""
    import re as _re

    if isinstance(merges, DataFrame):
        rows = merges.select("rank", "left", "right").orderBy("rank").collect()
        pairs = [(r["left"], r["right"]) for r in rows]
    else:
        pairs = list(merges)

    def pieces_of(word: Column) -> Column:
        symstr = F.concat(
            F.lit(" "),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.length(word)),
                    lambda i: F.substring(word, i, F.lit(1)),
                ),
            ),
            F.lit(" "),
        )
        for left, right in pairs:
            pattern = f"(?<= ){_re.escape(left)} {_re.escape(right)}(?= )"
            replacement = (left + right).replace("\\", "\\\\").replace("$", "\\$")
            symstr = F.regexp_replace(symstr, pattern, replacement)
        return F.split(F.trim(symstr), " ")

    words = words_expr(F.col("text"))
    return df.withColumn(out_col, F.flatten(F.transform(words, pieces_of)))


def bpe_apply_kernel(
    df: DataFrame,
    merges,
    out_col: str = "pieces",
) -> DataFrame:
    """BPE encode, broadcast Arrow-kernel regime — the same contract
    as ``bpe_apply`` (identical output, pinned by a differential test
    and by sharing one DuckDB oracle in the catalog) for merge tables
    too deep for the regexp-chain form: at 1024 merges the chain's
    expression tree either StackOverflows during construction or runs
    ~144x slower than this kernel (measured, docs/SCALE_PROBE.md),
    while the kernel's cost is a Python loop whose per-word work is
    pruned to the merges whose sides are actually present — a
    32k-merge production table is just a bigger closure-captured
    list, not a deeper plan.

    Same algorithm, minus the regex: merges apply in RANK ORDER, each
    as one left-to-right non-overlapping fusion pass over the word's
    symbol list. Distinct words are memoized per Arrow batch (Zipf
    makes the hit rate high), and a per-word symbol SET skips merge
    rows whose sides cannot occur. Map-only over Arrow batches — the
    corpus never shuffles, the merge table rides into executors inside
    the serialized UDF (bounded by n_merges, the same deliberate
    driver-side list bpe_apply collects)."""
    if isinstance(merges, DataFrame):
        rows = merges.select("rank", "left", "right").orderBy("rank").collect()
        pairs = [(r["left"], r["right"]) for r in rows]
    else:
        pairs = [(left, right) for left, right in merges]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        import re as _re

        # Java \s (words_expr) is ASCII-only; Python str.split() and
        # re's \s are Unicode-wide (they would also split on NBSP etc.)
        # — spell the exact Java class so both regimes tokenize alike.
        ws = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
        cache: dict[str, list[str]] = {}

        def word_pieces(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w)
            present = set(syms)
            for left, right in pairs:
                if left not in present or right not in present:
                    continue
                out = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                if len(out) < n:
                    syms = out
                    present = set(syms)
            cache[w] = syms
            return syms

        def enc(t):
            if t is None:
                return None
            return [
                p
                for w in ws.split(t.lower())
                if w
                for p in word_pieces(w)
            ]

        return texts.map(enc)

    return df.withColumn(out_col, _encode(F.col("text")))


def bpe_tokenize_encode(
    df: DataFrame,
    merges,
    k: int = 200,
    min_df: int = 2,
) -> DataFrame:
    """End-to-end SUBWORD tokenization — the full production text→ids
    path: BPE-encode every document under ``merges`` (``bpe_apply``'s
    map-only chain), induce the top-``k`` piece vocabulary with dense
    ids (min_df floor, count-then-lexicographic rank — the same total
    order as ``vocab_induce``), and emit each document's
    ``array<long>`` of piece ids with out-of-vocabulary pieces → id 0.
    This supersedes ``tokenize_encode``'s whitespace-word
    ids for any real training pipeline: the unit is the learned
    subword, so the id space is closed and OOV mass collapses into
    actually-shared pieces.

    Scale shape: encoding is in-row; the vocabulary aggregation is
    piece-vocabulary-sized (two keyed exchanges — COUNT + COUNT
    DISTINCT); the ≤k vocab broadcasts; the only corpus-sized shuffle
    is the per-document reassembly groupBy with in-array (pos, id)
    sorting. Nothing corpus-sized ever reaches the driver. The corpus
    is BPE-ENCODED TWICE (the piece stream feeds both the vocabulary
    aggregation and the id join) — deliberate, same trade-off as
    `tokenize_encode`: persisting the exploded corpus-sized piece
    stream costs more at 100 TB than re-running the map-only encode,
    and in production the vocabulary is built once and reused, making
    the steady-state cost a single encode pass."""
    enc = bpe_apply(df, merges, out_col="__pieces")
    toks = enc.select(F.col("doc_id"), F.posexplode("__pieces").alias("pos", "tok"))
    vocab = _vocab_rank(toks, "doc_id", k, min_df).select("tok", "vocab_id")
    return _assemble_input_ids(toks, vocab)


# --------------------------------------------------------------------- DSIR


DSIR_BUCKETS = 1024
DSIR_DRAW_BITS = 16


def dsir_features_expr(text_col) -> Column:
    """The DSIR hashed-feature set per document: word UNIGRAMS and
    BIGRAMS with multiplicity (Xie et al. 2023's hashed n-gram bag) —
    the ONE expression both the learn and apply passes consume, so
    weights and per-document scores can never disagree on the feature
    definition."""
    from ..functions.text import dedup_tokens_expr

    toks = dedup_tokens_expr(text_col)
    return F.concat(toks, ngrams_expr(toks, 2))


def dsir_bucket_frame(
    df: DataFrame,
    n_buckets: int,
    id_col: str | None = None,
    target_col: str | None = None,
) -> DataFrame:
    """The corpus tokenized and hashed ONCE: per document the array of
    feature hash buckets (``__buckets``, one entry per unigram/bigram
    occurrence), plus the id and/or the 0/1 target flag (``__is_t``)
    when requested.

    This frame is the shared input of BOTH DSIR passes — learn
    aggregates it, apply folds it — so ``dsir_resample`` tokenizes and
    md5-hashes the corpus exactly once (checkpointing this frame)
    instead of once per pass. Tokenize+hash dominates the per-row cost
    (md5 per gram); the downstream fold is pure integer element_at
    arithmetic."""
    cols: list[Column] = []
    if id_col is not None:
        cols.append(F.col(id_col))
    if target_col is not None:
        cols.append(F.col(target_col).cast("long").alias("__is_t"))
    cols.append(
        F.transform(
            dsir_features_expr(F.col("text")),
            lambda g: portable_hash_bucket(g, n_buckets),
        ).alias("__buckets")
    )
    return df.select(*cols)


def dsir_gram_weights(
    df: DataFrame,
    target_col: str,
    n_buckets: int = DSIR_BUCKETS,
) -> list[int]:
    """Learn DSIR importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169 —
    public): hashed n-gram (word unigrams + bigrams, the paper's
    feature set — ``dsir_features_expr``) bag-of-features likelihood
    ratio between a TARGET corpus (rows where ``target_col`` is true)
    and the RAW corpus (all rows), one integer weight per hash
    bucket.

    The public form scores log p_target(gram)/p_raw(gram) with add-one
    smoothing; this engine's pinned contract replaces the float log
    with the Shannon-Fano integer bit-cost the unigram tokenizer
    family already uses —

        s_b = (bitlen(ct_b+1) - bitlen(T_t+B)) -
              (bitlen(cr_b+1) - bitlen(T_r+B))

    (bitlen == length(bin(x)), exact in Spark, DuckDB and Python
    alike) — so every weight, every per-document score and the
    resampling decision are cross-engine bit-exact, where libm log
    ulps would flip accept/reject decisions at rounding boundaries.

    **Scale shape**: ONE corpus scan — grams explode map-side, the
    groupBy lands on ``n_buckets`` keys (bounded, default 1024), and
    only that bounded table crosses to the driver (the same idiom as
    the tokenizer vocab collects). Target and raw counts come out of
    the SAME aggregation (count + conditional sum), not two scans.
    Returns the dense ``n_buckets``-long weight list (unseen buckets
    weigh 0; they can never be probed when apply runs on the same
    tokenization).
    """
    bf = dsir_bucket_frame(df, n_buckets, target_col=target_col)
    return _dsir_weights_from_buckets(bf, n_buckets)


def _dsir_weights_from_buckets(bf: DataFrame, n_buckets: int) -> list[int]:
    """Learn pass over a ``dsir_bucket_frame`` (needs ``__is_t`` +
    ``__buckets``): ONE aggregation to ``n_buckets`` rows, only that
    bounded table crosses to the driver."""
    counts = (
        bf.select("__is_t", F.explode("__buckets").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            # coalesce: a bucket whose grams all come from NULL-target
            # rows sums to NULL (sum skips NULLs), and the driver-side
            # int() below must see 0 — matching the oracle's ELSE 0.
            F.coalesce(F.sum("__is_t"), F.lit(0)).alias("ct"),
        )
        .collect()
    )
    tr = sum(int(r["cr"]) for r in counts)
    tt = sum(int(r["ct"]) for r in counts)
    weights = [0] * n_buckets
    for r in counts:
        weights[int(r["bucket"])] = (
            (int(r["ct"]) + 1).bit_length() - (tt + n_buckets).bit_length()
        ) - ((int(r["cr"]) + 1).bit_length() - (tr + n_buckets).bit_length())
    return weights


# Regime boundary for the DSIR apply pass (measured, SCALE_PROBE
# "DSIR sizing probe"): up to here the weight list inlines as one
# array literal and the whole fold stays in codegen; past it the
# literal's per-row cost explodes (1.7 s → 133 s at 131072 buckets,
# sf0.1) and the Arrow gather kernel takes over. Same
# expression-vs-kernel switch as the BPE apply chain.
DSIR_EXPR_MAX_BUCKETS = 4096


def dsir_doc_logweights(
    df: DataFrame,
    weights: list[int],
) -> DataFrame:
    """Apply pass: per-document integer log-importance under learned
    ``dsir_gram_weights`` — (id, n_grams, lw_bits), documents with no
    hashed feature (no token) dropped. ``n_grams`` counts the hashed
    FEATURES (unigrams + bigrams: 2L-1 for an L-token document).

    MAP-ONLY in both regimes — the corpus never shuffles. Up to
    ``DSIR_EXPR_MAX_BUCKETS`` the weight list rides into executors as
    ONE array literal and each document folds its gram array in-row
    (aggregate + element_at, pure codegen — the oracle-replayable
    path). Past that, the array literal's per-row cost explodes
    (measured: 80× at 131072 buckets), so the buckets are still
    computed JVM-side in-row but the weight GATHER runs as an Arrow
    kernel over a closure numpy array — w[buckets].sum() per document,
    vectorized, zero exchanges. Both regimes are integer-exact and
    pinned equal in pytest."""
    bf = dsir_bucket_frame(df, len(weights), id_col="doc_id")
    return _dsir_logweights_from_buckets(bf, weights)


def _dsir_logweights_from_buckets(bf: DataFrame, weights: list[int]) -> DataFrame:
    """Apply pass over a ``dsir_bucket_frame`` (needs the id +
    ``__buckets``): the regime-switched weight fold, map-only."""
    n_buckets = len(weights)
    if n_buckets <= DSIR_EXPR_MAX_BUCKETS:
        warr = F.lit(weights)
        return (
            bf.where(F.size("__buckets") > 0)
            .select(
                F.col("doc_id"),
                F.size("__buckets").cast("long").alias("n_grams"),
                F.aggregate(
                    "__buckets",
                    F.lit(0).cast("long"),
                    lambda acc, b: acc
                    + F.element_at(warr, (b + 1).cast("int")),
                ).alias("lw_bits"),
            )
        )

    import numpy as np

    w_np = np.asarray(weights, dtype=np.int64)
    pre = (
        bf.where(F.size("__buckets") > 0)
        .select(
            F.col("doc_id"),
            F.size("__buckets").cast("long").alias("n_grams"),
            F.col("__buckets"),
        )
    )

    def gather(batches):
        for pdf in batches:
            lw = [
                int(w_np[np.asarray(b, dtype=np.int64)].sum())
                for b in pdf["__buckets"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_grams": pdf["n_grams"],
                    "lw_bits": lw,
                }
            )

    # Output schema derives the id type from the input — the regime
    # switch must not silently change the function's type contract
    # (a hardcoded `long` crashed Arrow conversion for string ids).
    id_ddl = pre.schema["doc_id"].dataType.simpleString()
    return pre.mapInPandas(gather, f"doc_id {id_ddl}, n_grams long, lw_bits long")


def dsir_resample(
    df: DataFrame,
    target_col: str,
    temp: int = 4,
) -> DataFrame:
    """DSIR end-to-end: learn weights, score every document, then
    importance-RESAMPLE with acceptance probability

        p(doc) = 2 ** floor((lw_bits - max_lw) / temp)

    — documents at the target-likeness maximum are always kept, the
    rest decay exponentially (``temp`` tempers the ratio, the standard
    DSIR knob). The draw is the salted portable md5 hash of the id
    (deterministic, repartition-stable, engine-replayable; salted so
    it is independent of the quality sampler's draw on the same ids).

    All integer arithmetic: floor((lw-max)/temp) divides by a power of
    two in IEEE doubles (exact — keep ``temp`` a power of two) and the
    acceptance threshold is a left shift, so the kept set is
    cross-engine bit-exact. max_lw is a broadcast 1-row aggregate;
    everything after the apply pass is map-side."""
    if temp <= 0 or temp & (temp - 1):
        raise ValueError(f"temp must be a positive power of two, got {temp}")
    from ..session import eager_checkpoint

    # Tokenize + md5-hash the corpus ONCE: the checkpointed bucket
    # frame feeds BOTH the learn aggregation and the apply fold (the
    # r10 form tokenized twice — once per pass; md5-per-gram dominates
    # the per-row cost, so the second pass was nearly a full re-run).
    bf = eager_checkpoint(
        dsir_bucket_frame(df, DSIR_BUCKETS, id_col="doc_id", target_col=target_col)
    )
    weights = _dsir_weights_from_buckets(bf, DSIR_BUCKETS)
    # Materialize the scored table once: the max_lw aggregate AND the
    # accept/reject tail both read it, and without a checkpoint each
    # would re-run the weight fold over the bucket frame. The frame is
    # (id, 2 longs) — a sliver of the corpus it summarizes.
    lw = eager_checkpoint(_dsir_logweights_from_buckets(bf, weights))
    mx = lw.agg(F.max("lw_bits").alias("__max_lw"))
    e = F.floor(
        (F.col("lw_bits") - F.col("__max_lw")) / F.lit(float(temp))
    ).cast("int")
    draw = portable_hash_bucket(
        F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")),
        1 << DSIR_DRAW_BITS,
    )
    threshold = F.when(e <= -DSIR_DRAW_BITS, F.lit(0).cast("long")).otherwise(
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.lit(DSIR_DRAW_BITS) + e)
        )
    )
    return (
        lw.crossJoin(F.broadcast(mx))
        .select(
            F.col("doc_id"),
            F.col("n_grams"),
            F.col("lw_bits"),
            e.alias("accept_exp"),
            draw.alias("__draw"),
            threshold.alias("__thr"),
        )
        .where(F.col("__draw") < F.col("__thr"))
        .drop("__draw", "__thr")
    )


# A quality_pm bucket with more rows than this runs its within-bucket
# running sum through the surrogate-keys per-partition-offset idiom
# instead of one keyed window: the keyed window puts the WHOLE bucket
# in one task, so a pathologically hot quality value (an all-identical
# quality corpus is the worst case) would re-concentrate the very sort
# the bucket decomposition exists to avoid. 1M rows of (id, 2 longs)
# ≈ tens of MB — comfortably one task; beyond that, split.
HOT_BUCKET_ROWS = 1_000_000


def budget_select(
    df: DataFrame,
    token_budget: int,
    hot_bucket_rows: int = HOT_BUCKET_ROWS,
) -> DataFrame:
    """Token-budget-constrained corpus selection: keep the GLOBAL
    quality-ordered prefix (frozen model quality DESC, id ASC) whose
    running token total stays within ``token_budget`` — "fill the
    training budget with the best tokens first", the curation step
    between quality scoring and shard writing.

    The naive plan is one globally-ordered running-sum window — a
    single task at any scale (the DuckDB oracle is exactly that form).
    This implementation decomposes it: quality quantizes to per-mille
    buckets (≤ 1001 keys), and the global running sum splits into a
    cross-bucket prefix (window over the BOUNDED 1001-row bucket
    table) plus a within-bucket running sum (one keyed window
    partitioned by bucket, id-ordered) — the same split-the-sort idea
    as surrogate_keys.

    **Hot buckets**: a bucket holding more than ``hot_bucket_rows``
    rows skips the keyed window (which would run that whole bucket in
    ONE task — an all-identical-quality corpus re-concentrates the
    very sort the decomposition exists to avoid) and takes the
    surrogate-keys per-partition-offset idiom INSIDE the bucket:
    range-partition the hot rows by (bucket, id), sort within
    partitions, collect ONE token-sum row per (partition, bucket) to
    build prefix offsets, then a map-only Arrow pass emits
    offset + in-partition cumulative sum. Both paths produce identical
    cumulative totals (pinned in pytest); the split is per-bucket, so
    a corpus with one pathological value and a normal tail pays the
    extra passes only for the hot rows.

    Returns (id, quality_pm, n_tokens, cum_tokens) — all integers, so
    the kept set and every cumulative total are cross-engine exact.
    Rows with NULL text are excluded (no tokens to budget).
    """
    from ..functions.text import model_quality_expr, words_expr

    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    from ..session import eager_checkpoint

    # Materialize the scored projection once: the bucket aggregate AND
    # the window branch both consume it, and the quality model's
    # regex/lambda chains are the expensive part of this plan — same
    # reasoning (and measured win) as dsir_resample's checkpoint above.
    scored = eager_checkpoint(
        df.where(F.col("text").isNotNull()).select(
            F.col("doc_id"),
            F.floor(model_quality_expr(F.col("text")) * 1000 + F.lit(0.5))
            .cast("long")
            .alias("quality_pm"),
            F.size(words_expr(F.col("text"))).cast("long").alias("n_tokens"),
        )
    )
    bstats = scored.groupBy("quality_pm").agg(
        F.sum("n_tokens").alias("__bsum"), F.count(F.lit(1)).alias("__bn")
    )
    # One bounded collect (≤1001 rows) decides which buckets are hot;
    # the same rows rebuild the cross-bucket prefix table, so the
    # bucket aggregation runs exactly once.
    brows = bstats.collect()
    hot = sorted(
        int(r["quality_pm"]) for r in brows if r["__bn"] > hot_bucket_rows
    )
    acc = 0
    pre_rows = []
    for r in sorted(brows, key=lambda r: -r["quality_pm"]):
        pre_rows.append((int(r["quality_pm"]), acc))
        acc += int(r["__bsum"])
    spark = df.sparkSession
    pre = spark.createDataFrame(
        pre_rows or [(None, None)], "quality_pm long, __cum_before long"
    ).where(F.col("quality_pm").isNotNull())

    ww = (
        Window.partitionBy("quality_pm")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cold = scored
    if hot:
        cold = scored.where(~F.col("quality_pm").isin(hot))
    ranked = cold.withColumn("__r", F.sum("n_tokens").over(ww))
    if hot:
        ranked = ranked.unionByName(
            _hot_bucket_running_sum(scored.where(F.col("quality_pm").isin(hot)))
        )
    return (
        ranked.join(F.broadcast(pre), "quality_pm")
        .select(
            F.col("doc_id"),
            F.col("quality_pm"),
            F.col("n_tokens"),
            (F.col("__cum_before") + F.col("__r")).alias("cum_tokens"),
        )
        .where(F.col("cum_tokens") <= token_budget)
    )


def _hot_bucket_running_sum(hot_df: DataFrame) -> DataFrame:
    """Within-bucket running token sum for HOT quality buckets —
    the surrogate-keys per-partition-offset idiom applied inside the
    bucket (see assign_surrogate_keys for the two-pass shape).

    1. range-partition + sort by (quality_pm, id): a distributed sort
       whose partition ids are globally ordered, so a bucket wider
       than one partition spans CONSECUTIVE partitions;
    2. collect ONE row per (partition, bucket) — sum of n_tokens —
       and prefix-sum them per bucket into start offsets (bounded by
       partition count + hot-bucket count, never by rows);
    3. a map-only Arrow pass adds offset + in-partition cumulative
       sum, carrying per-bucket state across Arrow batches.

    Checkpointed between passes for the same reason as surrogate
    keys: both passes must see the SAME sampled range boundaries.
    """
    from ..session import eager_checkpoint

    parts = hot_df.repartitionByRange(
        F.col("quality_pm"), F.col("doc_id")
    ).sortWithinPartitions("quality_pm", "doc_id")
    parts = eager_checkpoint(parts)
    psums = (
        parts.select(
            F.spark_partition_id().alias("__pid"), "quality_pm", "n_tokens"
        )
        .groupBy("__pid", "quality_pm")
        .agg(F.sum("n_tokens").alias("__s"))
        .collect()
    )
    offsets: dict[tuple[int, int], int] = {}
    run: dict[int, int] = {}
    for r in sorted(psums, key=lambda r: (r["quality_pm"], r["__pid"])):
        q = int(r["quality_pm"])
        offsets[(int(r["__pid"]), q)] = run.get(q, 0)
        run[q] = run.get(q, 0) + int(r["__s"])

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(parts.schema.fields) + [StructField("__r", LongType())]
    )

    def runsum(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        cur: dict[int, int] = {}
        for pdf in it:
            pdf = pdf.copy()
            starts = [
                cur.get(q, offsets.get((pid, q), 0))
                for q in pdf["quality_pm"].astype("int64")
            ]
            cums = pdf.groupby("quality_pm")["n_tokens"].cumsum()
            pdf["__r"] = cums.to_numpy() + pd.array(starts, dtype="int64")
            for q, tot in (
                pdf.groupby("quality_pm")["n_tokens"].sum().items()
            ):
                qi = int(q)
                cur[qi] = cur.get(qi, offsets.get((pid, qi), 0)) + int(tot)
            yield pdf

    return parts.mapInPandas(runsum, schema)
