"""WordPiece tokenizer: likelihood-ratio merge learning + greedy
longest-match encode (Schuster & Nakajima 2012; the BERT tokenizer,
trained the way the HuggingFace `tokenizers` WordPiece trainer does).

Completes the engine's tokenizer-training trio — BPE
(operators/pipeline.bpe_learn_merges: highest PAIR COUNT wins),
unigram-LM (operators/unigram: global-likelihood pruning), WordPiece
(this module: highest pair count NORMALIZED by its sides' counts,
``score = count(l,r) / (count(l) * count(r))`` — the trainer merges
the pair whose fusion most increases corpus likelihood under a
unigram model, which prefers cohesive rare pairs over merely frequent
ones).

Cross-engine exactness: the score is computed in SCALED INTEGER
arithmetic — ``score_scaled = (pair_count * 10^12) div (left_count *
right_count)`` with DECIMAL(38) intermediates (HUGEINT in the DuckDB
oracle) — never a float ratio, whose ulps differ between engines and
would flip winner selection on near-ties. Ties break by pair count,
then lexicographically: a total, reproducible order (the same
Shannon-Fano-style integer trick as DSIR bit-costs and the unigram
trainer).

Distributed shape (the same scale property as BPE): the corpus
collapses ONCE to the (word, freq) table; every merge round is two
vocabulary-sized aggregations (adjacent-pair counts + symbol counts)
joined on the pair's sides, plus a TakeOrdered(1) — the single
winning row per round is the only driver-side data. The working
segmentation is eager-checkpointed per round so the analyzed plan
stays O(1) (the BPE lesson, docs/SCALE_PROBE.md). Encode is the
broadcast Arrow-kernel regime: the frozen vocab rides into executors
in the UDF closure, per-batch distinct-word memoization, map-only —
the corpus never shuffles.

No reference analog (the reference is a GitHub REST ETL); EXT
north-star mandate.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pipeline import bpe_pair_counts, word_freq_table

SCORE_SCALE = 10**12
UNK = "[UNK]"
CONT = "##"


def _wp_symstr(word: Column) -> Column:
    """Sentinel-padded initial WordPiece segmentation of a word:
    first char bare, every later char ``##``-prefixed —
    ``"word"`` → ``" w ##o ##r ##d "``. Same single-space symbol
    encoding as the BPE trainer (boundaries are literal spaces, so
    each merge is one fixed-width-lookaround regexp)."""
    return F.concat(
        F.lit(" "),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.length(word)),
                lambda i: F.when(
                    i == 1, F.substring(word, 1, 1)
                ).otherwise(
                    F.concat(F.lit(CONT), F.substring(word, i, F.lit(1)))
                ),
            ),
        ),
        F.lit(" "),
    )


def _symbol_counts(vocab: DataFrame) -> DataFrame:
    """(sym, sym_count) over the current segmentation, weighted by
    word frequency — vocabulary-sized output, one keyed agg."""
    return (
        vocab.select(
            "freq",
            F.explode(F.split(F.trim(F.col("symstr")), " ")).alias("sym"),
        )
        .groupBy("sym")
        .agg(F.sum("freq").alias("sym_count"))
    )


def score_scaled_expr(pair_count, left_count, right_count) -> Column:
    """``(pair_count * 10^12) div (left_count * right_count)`` in
    DECIMAL(38) — exact at any corpus size (BIGINT would overflow
    past ~9M tokens), integral result, engine-order independent."""
    return F.expr(
        f"CAST(CAST({pair_count} AS DECIMAL(19,0)) * {SCORE_SCALE} AS DECIMAL(38,0)) "
        f"div (CAST({left_count} AS DECIMAL(19,0)) * CAST({right_count} AS DECIMAL(19,0)))"
    )


def merged_symbol(left: str, right: str) -> str:
    """Fuse a WordPiece pair: the right side is always a continuation
    symbol (pairs are adjacent, so the right sits at position >= 2),
    and the fusion keeps the left side's form — merge("w", "##o") =
    "wo", merge("##r", "##d") = "##rd"."""
    if not right.startswith(CONT):
        raise ValueError(
            f"right symbol {right!r} lacks the {CONT} continuation "
            "prefix — WordPiece pairs always continue a word"
        )
    return left + right[len(CONT):]


def wordpiece_learn(
    df: DataFrame,
    n_merges: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Learn an ordered WordPiece merge table. Returns (rank,
    left, right, merged, pair_count, left_count, right_count,
    score_scaled); stops early when no pair reaches ``min_count``.

    Each round: pair counts + symbol counts (both vocabulary-sized
    aggs over the checkpointed working table), score join, ONE
    TakeOrdered(1) winner — score desc, pair count desc, then
    lexicographic (left, right). ``min_count`` filters the CANDIDATE
    set before ranking (the HF-trainer min_frequency semantic):
    the likelihood ratio is maximized at 10^12 by any hapax pair
    whose symbols occur nowhere else, so ranking first and checking
    min_count after would let one rare typo word halt training for
    the whole corpus (review-caught)."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    spark = df.sparkSession
    schema = (
        "rank int, left string, right string, merged string, "
        "pair_count long, left_count long, right_count long, "
        "score_scaled long"
    )
    from ..session import eager_checkpoint as _ckpt, release

    vocab = _ckpt(
        word_freq_table(df).select("freq", _wp_symstr(F.col("word")).alias("symstr"))
    )
    merges: list[tuple] = []
    try:
        for rank in range(1, n_merges + 1):
            syms = _symbol_counts(vocab)
            top = (
                bpe_pair_counts(vocab)
                .where(F.col("pair_count") >= min_count)
                .join(
                    syms.select(
                        F.col("sym").alias("left"),
                        F.col("sym_count").alias("left_count"),
                    ),
                    "left",
                )
                .join(
                    syms.select(
                        F.col("sym").alias("right"),
                        F.col("sym_count").alias("right_count"),
                    ),
                    "right",
                )
                .withColumn(
                    "score_scaled",
                    score_scaled_expr(
                        "pair_count", "left_count", "right_count"
                    ).cast("long"),
                )
                .orderBy(
                    F.col("score_scaled").desc(),
                    F.col("pair_count").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            if not top:
                break
            r = top[0]
            merged = merged_symbol(r["left"], r["right"])
            merges.append(
                (
                    rank,
                    r["left"],
                    r["right"],
                    merged,
                    int(r["pair_count"]),
                    int(r["left_count"]),
                    int(r["right_count"]),
                    int(r["score_scaled"]),
                )
            )
            pattern = (
                f"(?<= ){_re.escape(r['left'])} {_re.escape(r['right'])}(?= )"
            )
            replacement = merged.replace("\\", "\\\\").replace("$", "\\$")
            nxt = _ckpt(
                vocab.withColumn(
                    "symstr",
                    F.regexp_replace("symstr", pattern, replacement),
                )
            )
            release(vocab)
            vocab = nxt
    finally:
        release(vocab)
    return spark.createDataFrame(merges, schema)


def wordpiece_pieces(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first WordPiece segmentation of one word
    (the BERT WordpieceTokenizer rule): at each position take the
    LONGEST vocab piece matching (``##``-prefixed past position 0);
    any position with no match collapses the whole word to [UNK]."""
    n = len(word)
    out: list[str] = []
    i = 0
    while i < n:
        j = n
        piece = None
        while j > i:
            cand = word[i:j]
            if i > 0:
                cand = CONT + cand
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [UNK]
        out.append(piece)
        i = j
    return out


def wordpiece_encode_kernel(
    df: DataFrame,
    vocab,
    out_col: str = "pieces",
) -> DataFrame:
    """WordPiece encode, broadcast Arrow-kernel regime — the same
    plan shape as ``bpe_apply_kernel``: the frozen vocab (a set of
    piece strings, bounded by vocab size) rides into executors inside
    the serialized UDF, distinct words are memoized per Arrow batch,
    and the pass is map-only — zero exchanges, the corpus never
    shuffles. Greedy longest-match is inherently sequential PER WORD
    (each piece's start depends on the previous match), so unlike BPE
    there is no regexp-chain expression regime to pair with — the
    kernel is the one production path, pinned by the recursive
    longest-match DuckDB oracle in plans/pipeline.py."""
    vocab_set = frozenset(vocab)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        # Java \s (words_expr) is ASCII-only — spell the exact class
        # so kernel and oracle tokenize alike (the bpe_apply_kernel
        # lesson).
        ws = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
        cache: dict[str, list[str]] = {}

        def enc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in ws.split(t.lower()):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = wordpiece_pieces(w, vocab_set)
                    cache[w] = got
                out.extend(got)
            return out

        return texts.map(enc)

    return df.withColumn(out_col, _encode(F.col("text")))


def corpus_alphabet(df: DataFrame) -> list[str]:
    """Sorted distinct characters of the corpus's words — the
    WordPiece initial alphabet. Bounded by alphabet size (one
    distinct agg crosses to the driver)."""
    rows = (
        word_freq_table(df)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.substring(F.col("word"), i, F.lit(1)),
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    )
    return sorted(r["c"] for r in rows)


def wordpiece_tokenize_encode(
    df: DataFrame,
    n_merges: int = 8,
    min_count: int = 2,
    k: int = 200,
    min_df: int = 2,
) -> DataFrame:
    """End-to-end WordPiece tokenization — the full production
    text→ids path, the trio-completing sibling of bpe_tokenize_encode
    and unigram_tokenize_encode: learn the merge table
    (likelihood-ratio trainer), assemble the vocabulary (corpus
    alphabet in bare + ## forms, plus every merged token — so encode
    has no OOV by construction, the character-coverage invariant),
    greedy-encode every document (broadcast Arrow kernel), induce the
    top-``k`` PIECE vocabulary with dense ids (`_vocab_rank`'s
    count-then-lexicographic order, min_df floor) and emit per-doc
    ``array<long>`` piece-id sequences with sub-top-k pieces → id 0.

    Scale shape: learn rounds are vocabulary-sized aggs; the alphabet
    and merge table are the only driver-side lists (both bounded);
    encode is map-only; the id tail is `_assemble_input_ids`' one
    corpus-sized groupBy with in-array (pos, id) sorting."""
    merges = wordpiece_learn(df, n_merges, min_count)
    merged = [r["merged"] for r in merges.orderBy("rank").collect()]
    chars = corpus_alphabet(df)
    vocab = set(chars) | {CONT + c for c in chars} | set(merged)

    from .pipeline import _assemble_input_ids, _vocab_rank

    enc = wordpiece_encode_kernel(df, vocab, out_col="__pieces")
    toks = enc.select(F.col("doc_id"), F.posexplode("__pieces").alias("pos", "tok"))
    ids = _vocab_rank(toks, "doc_id", k, min_df).select("tok", "vocab_id")
    return _assemble_input_ids(toks, ids)
