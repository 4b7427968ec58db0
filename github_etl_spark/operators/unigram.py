"""Unigram-LM subword segmentation (SentencePiece-style, EXT family).

The second tokenizer family next to BPE (operators/pipeline.py): where
BPE applies merges in rank order, the unigram model (Kudo 2018,
"Subword Regularization"; the SentencePiece default) scores every
piece independently and segments each word by VITERBI — the
segmentation maximizing the sum of piece scores.

**Exactness design.** Scores are pinned INTEGERS, so the DP total is
exact and order-independent; the tie-break is pinned too:

    maximize total score;
    on ties, prefer the LONGER FINAL piece, recursively.

This rule is (a) decomposable — equal final-piece length at position i
implies the identical predecessor position j, so the DP's stored
optimum for j is the right continuation — and (b) expressible in SQL
as one ORDER BY key: the reversed sequence of piece lengths, each
zero-padded to 2 digits and concatenated ("revkey"), compared DESC.
Two complete segmentations of the same word can never be
prefix-related in revkey (their length-sums are equal), so string
comparison equals sequence comparison. The DuckDB oracle enumerates
ALL segmentations of each distinct token with a recursive CTE and
ranks by (score DESC, revkey DESC) — brute force against which the
engine's linear-time DP must agree bit-for-bit.

**Scale design.** The kernel is an Arrow-batched mapInPandas (the
same regime as bpe_apply_kernel): map-only, the corpus never
shuffles, the pinned vocab rides into executors as a closure dict.
Per-batch memoization over distinct tokens makes the DP cost
per-VOCABULARY, not per-token occurrence (Zipf). A production
SentencePiece vocab (hundreds of thousands of pieces) is a bigger
dict, not a deeper plan — same scaling statement as the 32k-merge BPE
kernel, and the same native-kernel seam if Python per-core throughput
ever binds.

Reference parity: the reference engine has no tokenizer; this is
north-star LLM-pipeline surface (SURVEY.md tokenization family).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import eager_checkpoint, release

# Pinned piece vocabulary: (piece, integer score). Single characters
# score 10 (so every [a-z0-9]+ token is segmentable); multi-char
# pieces are pinned slightly above/below the sum of their parts so the
# fixture corpus exercises real DP decisions: 'window' splits
# (win+dow=64 > window=63), 'value' splits (val+ue=53 > value=52),
# 'stream'/'customer'/'filter' stay whole, and 'query'/'order' TIE
# (query=52 = qu+ery, order=52 = or+der) so the longest-final-piece
# rule is exercised by the catalog gate, not just unit tests.
PINNED_VOCAB: list[tuple[str, int]] = [
    *[(c, 10) for c in "abcdefghijklmnopqrstuvwxyz0123456789"],
    ("ta", 21), ("le", 21), ("table", 53),
    ("val", 32), ("ue", 21), ("value", 52),
    ("win", 32), ("dow", 32), ("window", 63),
    ("st", 21), ("ream", 42), ("stream", 64),
    ("qu", 21), ("ery", 31), ("query", 52),
    ("cust", 42), ("omer", 42), ("customer", 85),
    ("fil", 32), ("ter", 31), ("filter", 64),
    ("or", 21), ("der", 31), ("order", 52),
    ("col", 32), ("umn", 32), ("column", 63),
    ("vec", 32), ("tor", 31), ("vector", 63),
    ("row", 31), ("key", 31), ("agg", 31), ("the", 31), ("big", 31),
    ("slow", 42), ("fast", 42), ("part", 42), ("hash", 42),
    ("line", 42), ("sort", 42), ("data", 42), ("join", 42),
    ("scan", 43), ("merge", 52), ("batch", 52), ("spark", 52),
    ("small", 52), ("group", 52),
]

# Token rule shared with the dedup/text family (_SQL_TOKS in
# plans/ext.py): lowercase, split on non-alphanumeric, drop empties.
_TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def viterbi_segment(
    word: str, vocab: dict[str, int], piece_lengths: tuple[int, ...]
) -> tuple[int, list[str]] | None:
    """Best segmentation of ``word`` under the pinned rule; None if
    some prefix is not segmentable (cannot happen when every single
    character is in the vocab). Linear in len(word) x |piece_lengths|.
    """
    n = len(word)
    # best[i] = (score, final_piece_len) for word[:i]; back[i] = j
    best: list[tuple[int, int] | None] = [None] * (n + 1)
    best[0] = (0, 0)
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        top: tuple[int, int] | None = None
        for plen in piece_lengths:
            j = i - plen
            if j < 0 or best[j] is None:
                continue
            score = vocab.get(word[j:i])
            if score is None:
                continue
            cand = (best[j][0] + score, plen)
            if top is None or cand > top:
                top = cand
        if top is not None:
            best[i] = top
            back[i] = i - top[1]
    if best[n] is None:
        return None
    pieces: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return best[n][0], pieces


def unigram_segment_kernel(
    df: DataFrame,
    vocab: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Segment every token of ``text`` with the unigram Viterbi DP
    and emit flat per-document stats:

    (doc_id, n_tokens, n_pieces, total_score, pieces_digest)

    where pieces_digest = md5 of the full segmentation rendered as
    pieces joined by '|' within a token and tokens joined by ' ' —
    one digest pins every boundary decision in the document.
    Documents with zero tokens are dropped (same contract as the BPE
    encode queries). Map-only over Arrow batches; per-batch
    memoization over distinct tokens.
    """
    pinned = PINNED_VOCAB if vocab is None else vocab
    vmap = dict(pinned)
    if len(vmap) != len(pinned):
        raise ValueError("duplicate piece in vocab")
    plens = tuple(sorted({len(p) for p in vmap}, reverse=True))
    schema = (
        "doc_id long, n_tokens long, n_pieces long, "
        "total_score long, pieces_digest string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[int, str, int]] = {}

        def word_seg(w: str) -> tuple[int, str, int]:
            got = cache.get(w)
            if got is None:
                seg = viterbi_segment(w, vmap, plens)
                if seg is None:
                    # A custom vocab without full character coverage:
                    # fail with the quarantine-friendly error class and
                    # a usable message, not a TypeError unpack deep in
                    # the executor.
                    raise ValueError(
                        f"token {w!r} is not segmentable under the "
                        "given vocab (missing character coverage)"
                    )
                score, pieces = seg
                got = (score, "|".join(pieces), len(pieces))
                cache[w] = got
            return got

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_tokens", "n_pieces", "total_score",
                    "pieces_digest")}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in _TOKEN_SPLIT.split((text or "").lower())
                        if t]
                if not toks:
                    continue
                segs = [word_seg(t) for t in toks]
                rendered = " ".join(s[1] for s in segs)
                out["doc_id"].append(did)
                out["n_tokens"].append(len(toks))
                out["n_pieces"].append(sum(s[2] for s in segs))
                out["total_score"].append(sum(s[0] for s in segs))
                out["pieces_digest"].append(
                    hashlib.md5(rendered.encode()).hexdigest()
                )
            yield pd.DataFrame(out)

    return df.select("doc_id", "text").mapInPandas(run, schema)


def sql_vocab_values(vocab: list[tuple[str, int]] | None = None) -> str:
    """The pinned vocab as a SQL VALUES list (both engines must read
    the SAME table).

    Pieces are validated as ``[a-z0-9]+`` and <= 99 chars: the first
    because they are interpolated into SQL literals (a quote would
    break the oracle), the second because the oracle's tie-break key
    zero-pads each piece length to 2 digits (lpad(len, 2)) — a longer
    piece would silently mis-order. Both bounds are unreachable with
    the pinned/learned vocabs (tokens are [a-z0-9]+, max_piece_len is
    single digits) but the function accepts arbitrary vocabs."""
    pinned = PINNED_VOCAB if vocab is None else vocab
    for p, s in pinned:
        if not p or _TOKEN_SPLIT.search(p):
            raise ValueError(
                f"vocab piece {p!r} is not [a-z0-9]+ — it cannot be "
                "interpolated into the oracle SQL safely"
            )
        if len(p) > 99:
            raise ValueError(
                f"vocab piece {p!r} is {len(p)} chars; the oracle's "
                "lpad(len, 2) revkey supports at most 99"
            )
        if isinstance(s, bool) or not isinstance(s, int):
            # bool is an int subclass; True would interpolate as
            # 'True' into the oracle SQL.
            raise TypeError(f"vocab score for {p!r} must be int, got {s!r}")
    return ", ".join(f"('{p}', {s})" for p, s in pinned)


# ------------------------------------------------------------------ learn


def bitlen_score(cnt: int, total_bitlen: int) -> int:
    """The pinned integer piece score: bitlength(count) - bitlength
    (vocab total) ~ -ceil(-log2 p(piece)) — a Shannon-Fano-style
    integer surrogate for the unigram log-likelihood, within 1 bit of
    the true -log2 p.  Exactly computable in BOTH engines
    (length(bin(x)) in Spark and DuckDB agree bit-for-bit), where a
    float log would diverge in the last ulp between libm
    implementations and flip segmentations at rounding boundaries."""
    return cnt.bit_length() - total_bitlen


def learn_vocab(
    df: DataFrame,
    rounds: int = 3,
    max_piece_len: int = 4,
    min_count: int = 2,
    max_vocab: int = 100,
) -> dict[str, int]:
    """Learn a unigram piece vocabulary by hard (Viterbi) EM — the
    SentencePiece training loop's deterministic integer sibling:

    - **Seed**: every substring of every distinct token up to
      ``max_piece_len`` chars, counted with multiplicity and weighted
      by token frequency; single characters are all kept (coverage
      guarantee), multi-char pieces need ``min_count`` and the top
      ``max_vocab`` survive (count DESC, piece ASC).
    - **E-step**: segment every distinct token by Viterbi under the
      pinned integer scores (``bitlen_score``), tie-broken by the
      longest-final-piece rule shared with the apply kernel.
    - **M-step**: re-count pieces by actual (disjoint) usage weighted
      by token frequency; multi-char pieces below ``min_count`` drop,
      characters floor at count 1 (never dropped — coverage).

    Returns the final vocabulary as a driver-side {piece: count} dict
    (``unigram_learn`` wraps it as a DataFrame; ``unigram_tokenize_
    encode`` feeds it back into the segmentation kernel).

    **Scale shape** (the property that matters at 100 TB): the corpus
    never leaves the cluster — tokenization, substring seeding and
    per-round usage counting are distributed aggregations over the
    DISTINCT-token frame; only the VOCABULARY (bounded by
    ``max_vocab`` + alphabet) crosses to the driver each round, and it
    rides back into executors as a closure over an Arrow-batched
    map-only kernel.  Cost per round = one map over distinct tokens +
    one piece-count shuffle of vocabulary width.

    The DuckDB oracle (plans/pipeline.py) replays the ENTIRE loop —
    seeding, per-round exhaustive-enumeration Viterbi, usage
    re-counting, pruning — as chained CTEs, so every learned count is
    cross-engine exact."""
    toks = (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda x: x != "",
                )
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # eager_checkpoint, not a hardcoded localCheckpoint: on a cluster
    # with a configured checkpoint dir the frame driving every EM
    # round must be fault-tolerant (the one selection idiom the
    # sibling iterative operators — BPE learn, PageRank, surrogate
    # keys — all share).
    toks = eager_checkpoint(toks)

    # Seed counts: in-row substring expansion with multiplicity.
    pos = F.sequence(F.lit(1), F.length("token"))
    pieces = toks.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    pos,
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(max_piece_len),
                                F.length("token") - i + 1,
                            ),
                        ),
                        lambda l: F.substring(F.col("token"), i, l),
                    ),
                )
            )
        ).alias("piece"),
    )
    # Prune IN SPARK before anything crosses to the driver: the
    # unpruned substring table is corpus-vocabulary-sized (every
    # distinct substring up to max_piece_len — huge at 100 TB), while
    # what the driver needs is alphabet + top-max_vocab rows.
    # Persisted: chars and multi pieces are two filters over the SAME
    # aggregation — without it the explode-all-substrings pass (the
    # heaviest seeding stage) runs twice.
    piece_counts = pieces.groupBy("piece").agg(
        F.sum("freq").cast("long").alias("cnt")
    )
    piece_counts.persist()
    chars = {
        r["piece"]: r["cnt"]
        for r in piece_counts.where(F.length("piece") == 1).collect()
    }
    multi = [
        (r["piece"], r["cnt"])
        for r in piece_counts.where(
            (F.length("piece") >= 2) & (F.col("cnt") >= min_count)
        )
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(max_vocab)
        .collect()
    ]
    piece_counts.unpersist()
    vocab: dict[str, int] = {**chars, **dict(multi)}

    for _ in range(rounds):
        total_bits = sum(vocab.values()).bit_length()
        scores = {p: bitlen_score(c, total_bits) for p, c in vocab.items()}
        plens = tuple(sorted({len(p) for p in scores}, reverse=True))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # closure over THIS round's scores (bind now, not at call)
            vm, pl = dict(scores), plens

            for pdf in batches:
                out_piece: list[str] = []
                out_used: list[int] = []
                for token, freq in zip(pdf["token"], pdf["freq"]):
                    got = viterbi_segment(token, vm, pl)
                    if got is None:  # cannot happen: chars never drop
                        continue
                    for p in got[1]:
                        out_piece.append(p)
                        out_used.append(int(freq))
                yield pd.DataFrame({"piece": out_piece, "used": out_used})

        usage = {
            r["piece"]: r["cnt"]
            for r in toks.mapInPandas(run, "piece string, used long")
            .groupBy("piece")
            .agg(F.sum("used").cast("long").alias("cnt"))
            .collect()
        }
        vocab = {
            **{p: max(usage.get(p, 0), 1) for p in chars},
            **{
                p: c
                for p, c in usage.items()
                if len(p) >= 2 and c >= min_count
            },
        }

    # The result is driver-side (the bounded vocab); release the
    # distinct-token blocks/files instead of holding them to app end.
    release(toks)
    return vocab


def unigram_learn(
    df: DataFrame,
    rounds: int = 3,
    max_piece_len: int = 4,
    min_count: int = 2,
    max_vocab: int = 100,
) -> DataFrame:
    """``learn_vocab`` as a DataFrame: (piece, piece_len, cnt), counts
    descending (piece ascending on ties)."""
    vocab = learn_vocab(
        df, rounds=rounds, max_piece_len=max_piece_len,
        min_count=min_count, max_vocab=max_vocab,
    )
    rows = sorted(vocab.items(), key=lambda t: (-t[1], t[0]))
    return df.sparkSession.createDataFrame(
        [(p, len(p), c) for p, c in rows],
        "piece string, piece_len int, cnt long",
    )


def unigram_tokenize_encode(
    df: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """END-TO-END unigram tokenization — the unigram sibling of
    ``bpe_tokenize_encode``: learn the vocabulary by hard EM
    (``learn_vocab``), assign dense piece ids by (count DESC, piece
    ASC) rank (1-based; there is no OOV — character coverage is a
    learn invariant), then Viterbi-segment every document under the
    FINAL vocabulary's bit-cost scores and emit per-document id
    sequences:

        (doc_id, n_tokens, n_pieces, input_ids)

    with ``input_ids`` the space-joined piece ids in document order
    (complex outputs are banned catalog-wide). Documents with zero
    tokens drop, same as the BPE encode contract.

    Scale shape = learn's (corpus never leaves the cluster; bounded
    vocab to the driver) + one extra Arrow-batched map-only encode
    pass with the vocab/ids as a closure."""
    vocab = learn_vocab(df, rounds=rounds)
    total_bits = sum(vocab.values()).bit_length()
    scores = {p: bitlen_score(c, total_bits) for p, c in vocab.items()}
    ids = {
        p: i + 1
        for i, (p, _) in enumerate(
            sorted(vocab.items(), key=lambda t: (-t[1], t[0]))
        )
    }
    plens = tuple(sorted({len(p) for p in vocab}, reverse=True))
    schema = (
        "doc_id long, n_tokens long, n_pieces long, input_ids string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[str, int]] = {}

        def word_ids(w: str) -> tuple[str, int]:
            got = cache.get(w)
            if got is None:
                seg = viterbi_segment(w, scores, plens)
                if seg is None:
                    raise ValueError(
                        f"token {w!r} not segmentable — learn_vocab's "
                        "character-coverage invariant was violated"
                    )
                pieces = seg[1]
                got = (" ".join(str(ids[p]) for p in pieces), len(pieces))
                cache[w] = got
            return got

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_tokens", "n_pieces", "input_ids")}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in _TOKEN_SPLIT.split((text or "").lower())
                        if t]
                if not toks:
                    continue
                encoded = [word_ids(t) for t in toks]
                out["doc_id"].append(did)
                out["n_tokens"].append(len(toks))
                out["n_pieces"].append(sum(n for _, n in encoded))
                out["input_ids"].append(" ".join(s for s, _ in encoded))
            yield pd.DataFrame(out)

    return df.select("doc_id", "text").mapInPandas(run, schema)
