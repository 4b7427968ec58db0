"""Deduplication operators for the documents table (EXT — SURVEY.md §2.11).

All four families a 100 TB training-data pipeline needs:

- exact:        hash-groupBy on the full text (one shuffle, map-side partial)
- fingerprint:  md5 over a normalized token multiset (casing/ordering-proof)
- MinHash+LSH:  shingle → k hashes → band buckets → candidate pairs;
                only bucket-mates are compared, never all pairs
- SimHash:      64-bit signature whose hamming distance tracks cosine/jaccard
- n-gram Jaccard: exact token-set similarity on (cheap) candidate pairs

Everything is pure DataFrame ops (JVM-side, codegen). MinHash and
SimHash take their bits from md5, which DuckDB shares, so every
signature, band bucket and SimHash has a value-for-value oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import round_det
from .partitioning import ensure_parallelism

# Canonical tokenization lives in functions/text.py (shared with the
# fingerprint expressions and mirrored by the DuckDB oracles).
from ..functions.text import dedup_tokens_expr as tokens_expr  # noqa: E402


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup keeping the lowest id per duplicate group.

    groupBy(min) rather than dropDuplicates: dropDuplicates keeps an
    ARBITRARY row (partition-order dependent) — unacceptable for a
    reproducible pipeline and untestable against an oracle.
    """
    return df.groupBy(*cols).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes")
    )


def fingerprint_dedup(df: DataFrame) -> DataFrame:
    """Near-exact dedup via a canonical fingerprint: md5 of the sorted
    distinct token set. Catches reorderings/casing/punctuation variants
    that exact dedup misses, at identical cost (one shuffle on the hash).
    """
    from ..functions.text import fingerprint_expr

    fp = fingerprint_expr(F.col("text"))
    return (
        df.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
    )


# ---------------------------------------------------------------------------
# Spark SQL text builders (r13 OPTIMIZATION). A Column-API builder
# constructs its tree through py4j one call per node (~1.8 ms RTT each);
# `minhash_lsh_candidates` built that way cost ~1.0-1.6 s per CALL — over
# half of dedup_minhash_lsh's total bench time. Each builder below renders
# its expression tree as one SQL string parsed in a single call. The
# DuckDB oracle mirrors live in plans/ext.py; change one, change both.
# ---------------------------------------------------------------------------


def _shingles_sql(n: int) -> str:
    """Word n-gram shingles of ``text`` as a distinct array, in Spark
    SQL text.

    Documents shorter than n tokens yield an EMPTY shingle set (matches
    the oracle's range() semantics) rather than a padded partial gram.
    Built from n zipped slices of the token array — O(n·L) per row; the
    `transform(sequence, i -> slice(toks, i, n))` form is O(L²)
    (measured 5× slower on the sf0.1 corpus, see operators/pipeline.py).
    """
    toks = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    ng = f"(size({toks}) - {n - 1})"
    out = f"slice({toks}, 1, {ng})"
    for i in range(1, n):
        out = (
            f"zip_with({out}, slice({toks}, {i + 1}, {ng}),"
            " (a, b) -> concat(a, ' ', b))"
        )
    return (
        f"array_distinct(CASE WHEN {ng} > 0 THEN {out}"
        " ELSE CAST(array() AS array<string>) END)"
    )


# ---------------------------------------------------------------------------
# The MinHash family — Broder's min-wise hashing over a universal family,
# in fixed-width integers both engines compute identically. One md5 per
# shingle gives x = (its first 15 hex digits as a long) mod P, and
# h_i(x) = (a_i·x + b_i) mod P with P = 2^31 − 1. a_i, x < 2^31, so
# a_i·x + b_i < 2^62 never overflows a BIGINT. The coefficients are
# derived here once, from md5 of their index, and reach the Spark SQL
# and the DuckDB oracles (plans/ext.minhash_band_ctes) as literals.
# ---------------------------------------------------------------------------

MINHASH_P = 2**31 - 1
# The name a dedup index's sidecar records for this family
# (operators/incremental.py refuses an index built with any other).
MINHASH_FAMILY = "md5_universal_p31"


def md5_long_sql(expr: str) -> str:
    """The first 15 hex digits (60 bits) of ``md5(expr)`` as a
    non-negative long, in Spark SQL — the engine-portable integer hash
    behind the MinHash family and the bottom-k sample."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def sql_md5_long(expr: str) -> str:
    """`md5_long_sql`'s long as DuckDB SQL text (oracle lockstep)."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_mins_sql(num_hashes: int) -> str:
    """``min(h_i(x))`` for i < ``num_hashes``, comma-separated, over a
    column ``x`` — the same text in Spark SQL and DuckDB. a_i is in
    [1, P) and b_i in [0, P), each from md5 of ``"a:i"`` / ``"b:i"``."""

    def coef(tag: str, i: int, lo: int) -> int:
        digest = hashlib.md5(f"{tag}:{i}".encode()).hexdigest()
        return lo + int(digest[:15], 16) % (MINHASH_P - lo)

    return ", ".join(
        f"min(({coef('a', i, 1)} * x + {coef('b', i, 0)}) % {MINHASH_P})"
        for i in range(num_hashes)
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    shingle: int = 3,
) -> DataFrame:
    """One row per doc with a minhash signature array<bigint>[num_hashes].

    Entry i is min over the doc's shingles of h_i (the family above),
    computed with explode + groupBy(min). Map-side partial aggregation
    folds each doc's shingles to num_hashes longs BEFORE the shuffle (a
    doc's shingles are row-local, so the exchange moves docs ×
    num_hashes longs — the size of the output — regardless of document
    length). Measured against per-row higher-order-function variants
    (array_min(transform) and aggregate/zip_with) this is 2-4× faster:
    those keep a `size(shingles) > 0` filter that pushes below the
    widening exchange and serializes a full shingle pass on a narrow
    scan, and their interpreted lambda towers evaluate off the codegen
    path. Docs with fewer tokens than the shingle width have no
    shingles and drop out (they can't near-dup under this family).
    """
    # Hash cost is one md5 per shingle plus num_hashes multiply-adds —
    # widen a narrow scan before it (no-op when the input already has
    # enough partitions).
    shingles = ensure_parallelism(df).selectExpr(
        "doc_id", f"explode({_shingles_sql(shingle)}) AS shingle"
    )
    xs = shingles.selectExpr(
        "doc_id", f"{md5_long_sql('shingle')} % {MINHASH_P} AS x"
    )
    return xs.groupBy("doc_id").agg(
        F.expr(f"array({minhash_mins_sql(num_hashes)})").alias("signature")
    )


def minhash_band_buckets(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
) -> DataFrame:
    """(doc, signature, band, bucket) — one row per document × band.

    The LSH bucket relation both the batch self-dedup
    (`minhash_lsh_candidates`) and the incremental batch-vs-index check
    (operators/incremental.py) are built from; extracting it keeps the
    two paths' bucket assignment definitionally identical."""
    sigs = minhash_signatures(df, num_hashes, shingle)
    band_cols = _band_bucket_structs(num_hashes, bands)
    return sigs.selectExpr(
        "doc_id AS doc", "signature", f"explode({band_cols}) AS bb"
    ).select("doc", "signature", "bb.band", "bb.bucket")


def _band_bucket_structs(num_hashes: int, bands: int) -> str:
    """SQL for the per-band (band, bucket) struct array over a
    ``signature`` column — THE band/bucket definition, shared by the
    signature-carrying bucket relation (``minhash_band_buckets``) and
    the narrow bucket relation inside ``minhash_lsh_candidates`` so
    the two can never assign different buckets. A band's bucket key is
    its slice of the signature itself: exact, hash-free, and the same
    list in DuckDB."""
    rows_per_band = num_hashes // bands
    return "array({})".format(
        ", ".join(
            f"named_struct('band', {b}, 'bucket',"
            f" slice(signature, {b * rows_per_band + 1}, {rows_per_band}))"
            for b in range(bands)
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over minhash sigs.

    bands=8 × rows=4 over 32 hashes → collision prob ≈ 1-(1-j^4)^8,
    steep around jaccard ≈ 0.55. Docs sharing ANY band bucket become a
    candidate pair; estimated jaccard = fraction of agreeing signature
    positions.

    Shape (guide §8's rule — every shuffle but the last moves a
    lightweight proxy): the signature frame (id, 32 hashes) is
    computed once and eager-checkpointed; the bucket machinery then
    carries ONLY (doc, band, bucket) — the window exchange, the
    bucket groupBy and the cross-band pair dedup never move signature
    bytes (pre-r14 every one of those rows dragged the full signature:
    ~0.5 KB/row for the then md5-hex signatures × bands copies per
    doc, and each deduped pair carried BOTH signatures; interleaved A/B at sf0.1:
    2.09 → 1.60 s, identical 256 pairs). The deduped (id_a, id_b)
    pairs — the only rows that still need signatures — re-attach them
    with two keyed joins against the checkpointed frame (pair-sized,
    AQE-broadcast when small) for the agreement estimate. Pair
    expansion stays IN-ROW (flatten/transform — no bucket self-join,
    which would re-execute the signature pipeline per side; measured
    2× slower at sf0.1). Bucket sizes stay small by construction for
    diverse text, but a boilerplate-heavy corpus puts B near-identical
    docs in one bucket → B² pairs in a single row (the OOM/straggler
    hazard at 100 TB). `max_bucket_size` bounds it: a per-bucket
    row_number (ordered by doc id — deterministic) keeps only the
    first `max_bucket_size` members, so both the collected member
    array and the pair expansion are ≤ cap and ≤ cap² regardless of
    corpus skew. Recall cost is negligible: a bucket that overflows
    the cap is boilerplate whose members are mutual near-dups; the
    kept members still pair with each other, and overflow members
    usually re-collide in other bands. The row_number window
    hash-partitions on the bucket key, and the groupBy that follows
    reuses that distribution — the cap adds a per-partition sort, not
    a shuffle.

    NOTE: eager at call time — the signature frame (one narrow row
    per doc) is materialized when this operator is invoked.
    """
    from ..session import eager_checkpoint

    max_bucket_size = max(2, int(max_bucket_size))
    sigs = eager_checkpoint(minhash_signatures(df, num_hashes))
    band_cols = _band_bucket_structs(num_hashes, bands)
    buckets = sigs.selectExpr(
        "doc_id AS doc", f"explode({band_cols}) AS bb"
    ).select("doc", "bb")
    # Skew cap: deterministic first-N members per bucket BEFORE the
    # collect_list, so no single row ever materializes an unbounded
    # member array (window and groupBy share the bb hash distribution).
    capped = buckets.withColumn(
        "_rn", F.row_number().over(W.partitionBy("bb").orderBy("doc"))
    ).filter(F.col("_rn") <= max_bucket_size)
    grouped = (
        capped.groupBy("bb")
        .agg(F.collect_list("doc").alias("members"))
        .filter(F.size("members") > 1)
    )
    # Ordered members → all i<j pairs, entirely within the row.
    ms = "array_sort(members)"
    pair_structs = (
        f"flatten(transform({ms}, (m, i) ->"
        f" transform(slice({ms}, i + 2, size({ms})), n ->"
        " named_struct('id_a', m, 'id_b', n))))"
    )
    pairs = (
        grouped.selectExpr(f"explode({pair_structs}) AS p")
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b"))
    est = signature_agreement_expr("sig_a", "sig_b", num_hashes)
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", round_det(est, 4).alias("est_jaccard"))
    )


def signature_agreement_expr(sig_a: str, sig_b: str, num_hashes: int):
    """Estimated jaccard = fraction of agreeing minhash positions of
    the signature columns named ``sig_a`` and ``sig_b``. Exact
    k/num_hashes ratios (binary fractions for power-of-two
    num_hashes), so threshold comparisons replay exactly in SQL."""
    return F.expr(
        f"size(filter(zip_with({sig_a}, {sig_b},"
        " (x, y) -> CAST(x = y AS INT)), v -> v = 1))"
        f" / CAST({num_hashes} AS DOUBLE)"
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document, pure DataFrame ops.

    Explode tokens, hash each to 64 bits, and for every bit position sum
    (+1 / −1); the signature bit is 1 where the sum is positive. The
    bit unpacking stays JVM-side via a posexploded 0..63 sequence — no
    Python in the loop. Bit i of a token is bit (i mod 4) of hex digit
    (i div 4) of md5(token); md5 is shared with DuckDB, so the whole
    bit-vote pipeline is oracle-checkable cross-engine.
    """
    toks = ensure_parallelism(df).select(
        F.col("doc_id"), F.explode(tokens_expr(F.col("text"))).alias("tok")
    )
    bit_seq = F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit")
    hashed = toks.select("doc_id", F.md5("tok").alias("hx"))
    # hex-digit value via instr on the digit alphabet — the one
    # spelling both engines share (no hex-literal casts needed).
    v = (
        "(shiftright(instr('0123456789abcdef',"
        " substring(hx, (bit div 4) + 1, 1)) - 1, bit % 4) & 1)"
        " * 2 - 1"
    )
    bits = hashed.select("doc_id", "hx", bit_seq).select(
        "doc_id", "bit", F.expr(v).alias("v")
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("v").alias("vote"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def hamming_distance(a, b):
    """Popcount of XOR — bit_count is a Spark builtin."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float = 0.5,
    shingle: int = 3,
    max_df: int | None = None,
    tokens_path: str | None = None,
) -> DataFrame:
    """Exact n-gram-shingle-set Jaccard over blocked candidate pairs.

    Word n-grams (not single tokens) so a small vocabulary still yields
    a discriminative set. Blocking bounds the pair count; the
    intersection is computed distributively — explode distinct
    shingles, self-join on (block, shingle), count matches per pair —
    so no document pair is ever materialized with full texts side by
    side. Shuffles: shingle join + pair groupBy + two size joins.

    Measured notes (sf0.1, local[32]): this 3-branch shape beats both
    (a) carrying |set| through the exploded rows to skip the size joins
    (wider join rows + double shingle evaluation under projection
    collapse → 2-4× slower) and (b) a collect_list posting-list variant
    with in-row quadratic pair expansion (interpreted higher-order
    lambdas, hot-shingle arrays → 3× slower). A fourth variant — fold
    the df-cap into a `count().over(Window.partitionBy(block, tok))`
    on the exploded tokens instead of the groupBy + broadcast-anti —
    measures 18 exchanges vs 22 and ~1.2× faster at sf0.1 (2.04 s vs
    2.50 s median, identical 79 rows), but was REJECTED for scale: a
    window partition with no orderBy buffers every pre-cap occurrence
    of its gram in ONE task, so a boilerplate shingle shared by B docs
    funnels B rows through a single sorter — exactly the hot-key
    blowup max_df exists to prevent, and one AQE cannot split (it
    splits skewed join partitions, not window partitions). The
    broadcast-anti shape never shuffles hot-gram rows at all: df
    counts flow through map-side partial aggregation, and the anti
    join drops boilerplate before the only token shuffle. The 4
    extra exchanges are the price of B-independence; 22 is final. Skew hazard: a stopword
    gram shared by B docs yields B² join rows. `max_df` is the
    mitigation: shingles whose per-block document frequency exceeds it
    are dropped BEFORE the join (broadcast anti-join against the tiny
    hot-shingle list), and set sizes are computed over the SURVIVING
    shingles, so the result is the exact Jaccard over the
    discriminative (df ≤ max_df) shingle space — a well-defined
    similarity both engines can mirror, not a one-sided heuristic. A
    boilerplate gram in 1M docs costs one count shuffle instead of
    10^12 join rows. None disables the cap.

    The (filtered) token relation feeds three consumers — sizes and
    both join sides — and Spark re-derives it per consumer (no
    automatic subplan reuse), so the corpus is scanned and
    re-tokenized up to 3× (plus the hot-gram count). ``tokens_path``
    writes the exploded token relation to parquet ONCE (the only corpus
    scan) and feeds the hot-gram count and both join sides from that
    staging table, so the downstream plan never touches the corpus
    again and survives executor loss (unlike persist/localCheckpoint
    blocks).
    """
    grams = F.expr(_shingles_sql(shingle)) if shingle > 1 else F.array_distinct(
        tokens_expr(F.col("text"))
    )
    df = ensure_parallelism(df)
    toks = df.select(
        F.col("doc_id"),
        *[F.col(c) for c in block_cols],
        F.explode(grams).alias("tok"),
    )
    if tokens_path is not None:
        # One corpus scan total: the staging write. Every downstream
        # consumer (hot-gram count, set sizes, both join sides) reads
        # the parquet staging table instead of re-deriving the tokens.
        toks.write.mode("overwrite").parquet(tokens_path)
        toks = df.sparkSession.read.parquet(tokens_path)
    if max_df is not None:
        hot = (
            toks.groupBy(*block_cols, "tok")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select(*block_cols, "tok")
        )
        toks = toks.join(F.broadcast(hot), [*block_cols, "tok"], "left_anti")
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("set_size"))

    a = toks.alias("a")
    b = toks.alias("b")
    block_cond = (F.col("a.doc_id") < F.col("b.doc_id")) & (
        F.col("a.tok") == F.col("b.tok")
    )
    for c in block_cols:
        block_cond = block_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, block_cond)
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b"))
    jac = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard_raw"),
        )
    )
    return (
        jac.filter(F.col("jaccard_raw") >= threshold)
        .select("id_a", "id_b", round_det("jaccard_raw", 4).alias("jaccard"))
    )
