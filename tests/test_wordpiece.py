"""Unit pins for the WordPiece tokenizer (operators/wordpiece.py).
The full-loop oracle equivalence runs in tests/test_queries.py's
parametrized catalog sweep; here: a code-for-code differential of the
distributed trainer against a scalar reference implementation (the
bpe_learn_merges testing model), and the encode kernel's greedy
longest-match / continuation / [UNK]-collapse edges.
"""

from __future__ import annotations

from collections import Counter

import pytest

from github_etl_spark.operators.wordpiece import (
    CONT,
    SCORE_SCALE,
    UNK,
    merged_symbol,
    wordpiece_encode_kernel,
    wordpiece_learn,
    wordpiece_pieces,
)


def ref_wordpiece_learn(words: list[str], n_merges: int, min_count: int):
    """Scalar reference trainer: same rule, no Spark — score =
    (pair_count * 10^12) // (left_count * right_count), ties by pair
    count then lexicographic; left-to-right non-overlapping fusion."""
    wf = Counter(words)
    segs = {w: [w[0]] + [CONT + c for c in w[1:]] for w in wf}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for w, f in wf.items():
            s = segs[w]
            for sym in s:
                sc[sym] += f
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        cand = [p for p in pc if pc[p] >= min_count]
        if not cand:
            break
        best = min(
            cand,
            key=lambda p: (
                -(pc[p] * SCORE_SCALE // (sc[p[0]] * sc[p[1]])),
                -pc[p],
                p,
            ),
        )
        left, right = best
        fused = merged_symbol(left, right)
        merges.append(
            (
                rank,
                left,
                right,
                fused,
                pc[best],
                sc[left],
                sc[right],
                pc[best] * SCORE_SCALE // (sc[left] * sc[right]),
            )
        )
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(fused)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges


def test_learn_matches_scalar_reference(spark):
    corpus = [
        "window window winter wind lint lily quiet query queue",
        "window winter lint lily lily quiet queue hash hash shell",
        "the this that shell shore quiet window wind lint queue",
    ]
    words = " ".join(corpus).split()
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = [
        tuple(r)
        for r in wordpiece_learn(df, n_merges=6, min_count=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == ref_wordpiece_learn(words, 6, 2)


def test_learn_min_count_early_stop(spark):
    df = spark.createDataFrame([("ab cd",)], "text string")
    # every pair occurs once -> below min_count=2 -> no merges
    assert wordpiece_learn(df, n_merges=5, min_count=2).count() == 0


def test_merged_symbol_requires_continuation():
    assert merged_symbol("w", "##o") == "wo"
    assert merged_symbol("##r", "##d") == "##rd"
    with pytest.raises(ValueError):
        merged_symbol("w", "o")


def test_greedy_pieces_rules():
    vocab = {"a", "##b", "ab", "##c"}
    assert wordpiece_pieces("abc", vocab) == ["ab", "##c"]
    # greedy does NOT backtrack: 'aab' takes 'a', then needs '##a…'
    # which is absent -> whole-word UNK even though a+##b would fit
    # the tail (the BERT rule).
    assert wordpiece_pieces("aab", vocab) == [UNK]
    assert wordpiece_pieces("ba", vocab) == [UNK]
    assert wordpiece_pieces("a", vocab) == ["a"]


def test_encode_kernel_matches_scalar(spark):
    vocab = ("a", "b", "c", "##b", "##c", "ab", "##bc")
    texts = ["abc abbc ba", "", "cab zz a"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.pieces
        for r in wordpiece_encode_kernel(df, vocab).collect()
    }
    vs = set(vocab)
    for i, t in enumerate(texts):
        expected = [p for w in t.split() for p in wordpiece_pieces(w, vs)]
        assert got[i] == expected


def test_greedy_pieces_properties():
    """Hypothesis: for random words and vocabs, the greedy result
    either reassembles the word exactly (## stripped, first piece
    bare, all later pieces ##-prefixed) or is the whole-word [UNK]."""
    from hypothesis import given, settings, strategies as st

    chars = "abcd"
    piece_st = st.text(alphabet=chars, min_size=1, max_size=3)

    @settings(max_examples=200, deadline=None)
    @given(
        word=st.text(alphabet=chars, min_size=1, max_size=8),
        bare=st.sets(piece_st, max_size=8),
        cont=st.sets(piece_st, max_size=8),
    )
    def check(word, bare, cont):
        vocab = set(bare) | {CONT + p for p in cont}
        got = wordpiece_pieces(word, vocab)
        if got == [UNK]:
            return
        assert got[0] in vocab and not got[0].startswith(CONT)
        for p in got[1:]:
            assert p in vocab and p.startswith(CONT)
        assert got[0] + "".join(p[len(CONT):] for p in got[1:]) == word
        # longest-match-first: the first piece is the LONGEST bare
        # vocab prefix of the word
        longest = max(
            (j for j in range(1, len(word) + 1) if word[:j] in vocab),
            default=0,
        )
        assert len(got[0]) == longest

    check()


def test_learn_hapax_pair_does_not_halt_training(spark):
    """min_count filters CANDIDATES before ranking: a hapax pair of
    globally-unique symbols scores the maximum possible 10^12 on the
    likelihood ratio, but must not be selected (and must not halt the
    loop) — the frequent pair still merges (review-caught rule)."""
    df = spark.createDataFrame([("xy aa aa aa",)], "text string")
    got = [
        (r["left"], r["right"], r["merged"])
        for r in wordpiece_learn(df, n_merges=2, min_count=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == [("a", "##a", "aa")]
