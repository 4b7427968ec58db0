"""Unigram-LM Viterbi segmentation (operators/unigram.py).

Hand-computed boundary decisions, a brute-force differential (the DP
must equal exhaustive enumeration under the pinned tie-break), and the
kernel's document-level contract. Cross-engine exactness is covered by
the DuckDB oracle gate (the oracle IS the brute force, in SQL)."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from github_etl_spark.operators.unigram import (
    PINNED_VOCAB,
    unigram_segment_kernel,
    viterbi_segment,
)

VMAP = dict(PINNED_VOCAB)
PLENS = tuple(sorted({len(p) for p in VMAP}, reverse=True))


def seg(word, vocab=None):
    vm = VMAP if vocab is None else vocab
    pl = PLENS if vocab is None else tuple(sorted({len(p) for p in vm},
                                                  reverse=True))
    return viterbi_segment(word, vm, pl)


def brute_force(word, vocab):
    """Every segmentation by recursive enumeration, ranked by the
    pinned rule: score DESC, then reversed piece-length sequence DESC
    (longest final piece first)."""
    outs = []

    def rec(pos, pieces, score):
        if pos == len(word):
            outs.append((score, [len(p) for p in reversed(pieces)], pieces))
            return
        for p, s in vocab.items():
            if word.startswith(p, pos):
                rec(pos + len(p), pieces + [p], score + s)

    rec(0, [], 0)
    if not outs:
        return None
    best = max(outs, key=lambda t: (t[0], t[1]))
    return best[0], best[2]


def test_hand_computed_decisions():
    # split beats the whole piece
    assert seg("window") == (64, ["win", "dow"])
    assert seg("value") == (53, ["val", "ue"])
    # whole piece beats the split
    assert seg("stream") == (64, ["stream"])
    assert seg("customer") == (85, ["customer"])
    assert seg("filter") == (64, ["filter"])
    # exact score ties -> longest final piece wins
    assert seg("query") == (52, ["query"])
    assert seg("order") == (52, ["order"])
    # chars-only fallback
    assert seg("zz") == (20, ["z", "z"])


def test_unsegmentable_returns_none():
    assert seg("ab-c", {"a": 1, "b": 1, "c": 1}) is None
    assert seg("abc", {"ab": 5}) is None
    assert seg("", {"a": 1}) == (0, [])


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcdeqrstuvwy01", min_size=1, max_size=9)
)
def test_dp_equals_brute_force_on_pinned_vocab(word):
    got = seg(word)
    want = brute_force(word, VMAP)
    assert got[0] == want[0]
    assert got[1] == want[1]


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_dp_equals_brute_force_on_random_vocabs(data):
    # random small vocabs over a tiny alphabet, single chars NOT
    # guaranteed — exercises unreachable-prefix DP states too
    alpha = "abc"
    pieces = ["a", "b", "c", "ab", "bc", "ca", "abc", "aa", "bb"]
    chosen = data.draw(st.sets(st.sampled_from(pieces), min_size=1))
    vocab = {p: data.draw(st.integers(1, 40)) for p in chosen}
    word = data.draw(st.text(alphabet=alpha, min_size=1, max_size=7))
    pl = tuple(sorted({len(p) for p in vocab}, reverse=True))
    got = viterbi_segment(word, vocab, pl)
    want = brute_force(word, vocab)
    if want is None:
        assert got is None
    else:
        assert got[0] == want[0]
        assert got[1] == want[1]


def test_every_composition_is_enumerated_small():
    # sanity on the brute force itself: 'aaa' over {a, aa} has 3
    # segmentations; rule picks max score then longest final piece
    vocab = {"a": 10, "aa": 20}
    score, pieces = brute_force("aaa", vocab)
    assert score == 30
    assert pieces == ["a", "aa"]
    assert viterbi_segment("aaa", vocab, (2, 1)) == (30, ["a", "aa"])


def test_kernel_document_contract(spark):
    df = spark.createDataFrame(
        [
            (1, "window value"),
            (2, "  "),        # zero tokens -> dropped
            (3, None),        # NULL text -> dropped
            (4, "Query, ORDER!"),  # case-folded, punctuation split
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in unigram_segment_kernel(df).collect()}
    assert set(rows) == {1, 4}
    assert rows[1]["n_tokens"] == 2
    assert rows[1]["n_pieces"] == 4
    assert rows[1]["total_score"] == 64 + 53
    want = hashlib.md5(b"win|dow val|ue").hexdigest()
    assert rows[1]["pieces_digest"] == want
    assert rows[4]["n_pieces"] == 2
    assert rows[4]["pieces_digest"] == hashlib.md5(b"query order").hexdigest()


def test_kernel_rejects_duplicate_vocab(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="duplicate"):
        unigram_segment_kernel(df, vocab=[("a", 1), ("a", 2)])


# ------------------------------------------------------------------ learn


def test_unigram_learn_tiny_corpus(spark):
    from github_etl_spark.operators.unigram import unigram_learn

    # 'abab' x3, 'ab' x2: seed counts 'ab'=8 ('abab' has two), 'abab'=3;
    # Viterbi under bit-costs then prefers the longest covering pieces.
    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab")], "doc_id long, text string"
    )
    rows = {r["piece"]: r.asDict()
            for r in unigram_learn(df, rounds=2,
                                   max_piece_len=4).collect()}
    # coverage: single chars always survive with count >= 1
    assert rows["a"]["cnt"] >= 1 and rows["b"]["cnt"] >= 1
    # 'abab' tokens segment as the whole piece -> usage 3
    assert rows["abab"]["cnt"] == 3
    # 'ab' tokens segment as 'ab' -> usage 2
    assert rows["ab"]["cnt"] == 2
    assert rows["abab"]["piece_len"] == 4


def test_unigram_learn_em_moves_counts(spark):
    from github_etl_spark.operators.unigram import unigram_learn

    df = spark.createDataFrame(
        [(1, "window window value stream stream stream")],
        "doc_id long, text string",
    )
    seeded = {r["piece"]: r["cnt"]
              for r in unigram_learn(df, rounds=0).collect()}
    learned = {r["piece"]: r["cnt"]
               for r in unigram_learn(df, rounds=2).collect()}
    # seed counts are substring-multiplicity counts (overlap-inflated);
    # EM usage counts are disjoint — they must differ, and shrink
    assert seeded != learned
    assert sum(learned.values()) < sum(seeded.values())
    # every learned piece count is bounded by its seed count
    assert all(learned[p] <= seeded[p] for p in learned if p in seeded)


def test_unigram_learn_respects_min_count_and_cap(spark):
    from github_etl_spark.operators.unigram import unigram_learn

    df = spark.createDataFrame(
        [(1, "xy xy qq")], "doc_id long, text string"
    )
    rows = {r["piece"]: r["cnt"]
            for r in unigram_learn(df, rounds=1, min_count=2,
                                   max_vocab=1).collect()}
    # only ONE multi-char piece can enter the seed vocab (cap=1):
    # 'xy' (cnt 2) beats 'qq' (cnt 1 < min_count anyway)
    multi = [p for p in rows if len(p) >= 2]
    assert multi == ["xy"]
    # chars persist regardless
    assert {"x", "y", "q"} <= set(rows)


def test_kernel_noncovering_vocab_raises_valueerror(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    out = unigram_segment_kernel(df, vocab=[("ab", 5)])
    # the executor-side ValueError surfaces through PySpark's wrapper
    # exception; the usable message is the contract being pinned
    with pytest.raises(Exception, match="not segmentable"):
        out.collect()


def test_tokenize_encode_end_to_end(spark):
    from github_etl_spark.operators.unigram import (
        learn_vocab,
        unigram_tokenize_encode,
    )

    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in unigram_tokenize_encode(df, rounds=2).collect()}
    # empty/NULL docs drop, same as BPE encode
    assert set(rows) == {1, 2}
    vocab = learn_vocab(df, rounds=2)
    ids = {p: i + 1 for i, (p, _) in enumerate(
        sorted(vocab.items(), key=lambda t: (-t[1], t[0])))}
    # both tokens segment as whole learned pieces
    assert rows[1]["input_ids"] == " ".join(
        str(x) for x in [ids["abab"], ids["abab"], ids["ab"]]
    )
    assert rows[1]["n_tokens"] == 3 and rows[1]["n_pieces"] == 3
    assert rows[2]["input_ids"] == f"{ids['abab']} {ids['ab']}"


def test_tokenize_encode_ids_are_dense_and_deterministic(spark):
    from github_etl_spark.operators.unigram import unigram_tokenize_encode

    df = spark.createDataFrame(
        [(i, "window value stream") for i in range(4)],
        "doc_id long, text string",
    )
    out1 = {r["doc_id"]: r["input_ids"]
            for r in unigram_tokenize_encode(df).collect()}
    out2 = {r["doc_id"]: r["input_ids"]
            for r in unigram_tokenize_encode(df.repartition(3)).collect()}
    assert out1 == out2
    # identical docs encode identically
    assert len(set(out1.values())) == 1
    # DENSE 1-based ids: everything used falls inside 1..|vocab|
    from github_etl_spark.operators.unigram import learn_vocab

    n_vocab = len(learn_vocab(df))
    used = [int(x) for x in out1[0].split()]
    assert all(1 <= i <= n_vocab for i in used)


def test_sql_vocab_values_rejects_unsafe_pieces():
    import pytest

    from github_etl_spark.operators.unigram import sql_vocab_values

    assert sql_vocab_values([("ab", 3)]) == "('ab', 3)"
    with pytest.raises(ValueError, match="not \\[a-z0-9\\]\\+"):
        sql_vocab_values([("a'b", 3)])
    with pytest.raises(ValueError, match="at most 99"):
        sql_vocab_values([("x" * 100, 1)])
    with pytest.raises(TypeError, match="must be int"):
        sql_vocab_values([("ab", "3")])
    # bool is an int subclass but would interpolate as 'True'
    with pytest.raises(TypeError, match="must be int"):
        sql_vocab_values([("ab", True)])
