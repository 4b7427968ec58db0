"""Unit pins for the C4 / Gopher / CCNet curation recipes
(operators/curation.py). The cross-engine oracle equivalence is
covered by tests/test_queries.py's parametrized catalog sweep; these
pin the rule semantics on hand-crafted rows — empty text, the exact
derived-line decoration, keeper-vs-duplicate span attribution, each
Gopher rule's boundary, and the CCNet bucket ordering.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from github_etl_spark.operators.curation import (
    BOILER_MOD,
    BULLET_MOD,
    C4_MIN_KEPT_LINES,
    ELLIPSIS_MOD,
    GOPHER_MIN_WORDS,
    LINE_WORDS,
    NOPUNCT_MOD,
    c4_clean,
    ccnet_buckets,
    derived_lines_expr,
    gopher_gate,
)


def _expected_lines(words: list[str]) -> list[str]:
    """Scalar replica of derived_lines_expr's decoration rules."""
    out = []
    for j in range(math.ceil(len(words) / LINE_WORDS)):
        chunk = " ".join(words[j * LINE_WORDS : (j + 1) * LINE_WORDS])
        line = ("- " if j % BULLET_MOD == 0 else "") + chunk
        if j % BOILER_MOD == 5:
            line += " javascript"
        if j % ELLIPSIS_MOD == 3:
            line += "..."
        elif j % NOPUNCT_MOD != 2:
            line += "."
        out.append(line)
    return out


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_derived_lines_match_scalar_replica(spark):
    words = [f"w{i}" for i in range(75)]  # 13 lines: every rule fires
    df = _docs(spark, [" ".join(words), ""])
    got = {
        r.doc_id: r.lns
        for r in df.select(
            "doc_id", derived_lines_expr(F.col("text")).alias("lns")
        ).collect()
    }
    assert got[0] == _expected_lines(words)
    assert got[1] == []


def test_c4_keep_doc_threshold_and_line_rules(spark):
    # 6 words -> exactly one line ("- w0 ... w5.") -> 1 kept < 3.
    short = " ".join(f"w{i}" for i in range(6))
    # 60 words -> 10 lines; line j is dropped when j % 3 == 2 (no
    # terminal punct), j == 5 (javascript), or it has < 5 words.
    long = " ".join(f"w{i}" for i in range(60))
    out = {
        r.doc_id: r
        for r in c4_clean(_docs(spark, [short, long])).collect()
    }
    assert out[0].n_lines == 1 and out[0].n_kept == 1
    assert not out[0].keep_doc and out[0].n_spans == 0
    dropped = {j for j in range(10) if j % 3 == 2 or j % BOILER_MOD == 5}
    assert out[1].n_kept == 10 - len(dropped)
    assert out[1].keep_doc
    assert out[1].n_spans == out[1].n_kept - C4_MIN_KEPT_LINES + 1


def test_c4_span_dedup_keeps_first_occurrence(spark):
    text = " ".join(f"w{i}" for i in range(60))
    out = {
        r.doc_id: r
        for r in c4_clean(_docs(spark, [text, text, "w0 w1"])).collect()
    }
    # Identical docs: the min doc_id owns every span; the copy's spans
    # are all duplicates; the unrelated doc contributes nothing.
    assert out[0].n_dup_spans == 0
    assert out[1].n_spans == out[0].n_spans
    assert out[1].n_dup_spans == out[1].n_spans
    assert out[2].n_spans == 0 and out[2].n_dup_spans == 0


def test_gopher_rules_fire_individually(spark):
    stops = "the a and of to in is it for on"
    ok = " ".join(["alpha"] * (GOPHER_MIN_WORDS - 2)) + " " + stops[:9]  # the a
    too_short = "the a " + " ".join(["alpha"] * 10)
    long_words = "the a " + " ".join(["x" * 15] * 60)
    no_stops = " ".join(["alpha"] * 60)
    out = {
        r.doc_id: r
        for r in gopher_gate(
            _docs(spark, [ok, too_short, long_words, no_stops]),
        ).collect()
    }
    assert out[0].keep  # 50 words, short words, 2 distinct stopwords
    assert not out[1].keep and out[1].n_words < GOPHER_MIN_WORDS
    assert not out[2].keep and out[2].mean_word_len > 10.0
    assert not out[3].keep and out[3].n_stop_distinct == 0


def test_ccnet_bucket_ordering(spark):
    # 9 docs in one language built from tokens of controlled corpus
    # frequency: doc i repeats token t_i, and t_i appears in i+1 docs'
    # worth of copies -> avg logprob strictly increases with i.
    texts = [" ".join([f"t{i}"] * (i + 1) * 4) for i in range(9)]
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    rows = ccnet_buckets(df).collect()
    by_lp = sorted(rows, key=lambda r: r.avg_logprob)
    assert [r.bucket for r in by_lp] == ["tail"] * 3 + ["middle"] * 3 + ["head"] * 3
    # monotone: every head logprob > every middle > every tail
    lp = {b: [r.avg_logprob for r in rows if r.bucket == b] for b in ("head", "middle", "tail")}
    assert min(lp["head"]) > max(lp["middle"])
    assert min(lp["middle"]) > max(lp["tail"])


def test_span_incremental_verdict_paths(spark):
    """All three verdict paths on hand-crafted docs: a batch doc
    duplicating a corpus doc (dup_corpus), two identical batch docs
    (first = new, second = dup_batch), and a fresh batch doc (new).
    The sf0.01 fixture happens to exercise dup_batch zero times, so
    this pin keeps the path covered."""
    from github_etl_spark.operators.curation import span_incremental_verdicts

    t_corpus = " ".join(f"w{i}" for i in range(60))
    t_batch_dup = t_corpus
    t_twin = " ".join(f"x{i}" for i in range(60))
    t_fresh = " ".join(f"y{i}" for i in range(60))
    corpus = spark.createDataFrame(
        [(0, t_corpus)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, t_batch_dup), (11, t_twin), (12, t_twin), (13, t_fresh)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_incremental_verdicts(corpus, batch).collect()
    }
    assert out[10].n_dup_corpus == out[10].n_kept - 2  # all spans known
    assert out[10].n_new == 0 and out[10].n_dup_batch == 0
    assert out[11].n_new > 0 and out[11].n_dup_batch == 0
    assert out[12].n_dup_batch == out[11].n_new  # twin loses every span
    assert out[12].n_new == 0 and out[12].n_dup_corpus == 0
    assert out[13].n_new > 0 and out[13].n_dup_corpus == 0
