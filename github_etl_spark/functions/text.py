"""Text-analysis column expressions (EXT — north-star text operators).

Everything is a composition of builtin pyspark.sql.functions (JVM-side,
whole-stage-codegen'd) — no UDFs. Each expression has an exactly
equivalent ANSI/DuckDB form used by the oracle in plans/ext.py; keep the
two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .rounding import round_det

# Small deterministic stopword lists for the language-ID heuristic and
# quality scoring. Lists are intentionally tiny: the operator's value is
# the distributed shape (per-row array ops, no shuffle), not the NLP.
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
ES_STOPWORDS = ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por")
DE_STOPWORDS = ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von")

PUNCT_CLASS = r"[^.!?,;:]"

# C1: the reference's bug-id regex (reference main.py:25), case-insensitive.
BUG_RE = r"(?i)\b(?:bug|b=)\s*#?(\d+)\b"


def bug_id_expr(title_col):
    """C1: the reference's bug-id extraction (main.py:25,449-454):
    all regex matches, drop ids >= 1e8, keep the FIRST survivor.

    `Bug 999999999 and bug 123` → 123 (not NULL) — the edge the survey
    flags (§7.4 risk 3); a single regexp_extract gets this wrong.
    """
    matches = F.regexp_extract_all(title_col, F.lit(BUG_RE), F.lit(1))
    # try_cast: digit runs longer than int64 (e.g. 20 digits) must be
    # DROPPED like any other >= 1e8 id, not raise — the reference's
    # Python int() is arbitrary-precision (ANSI cast would throw here;
    # NULL < x is NULL, which filter() treats as false).
    surviving = F.filter(matches, lambda x: x.try_cast("long") < 100000000)
    # try_element_at: empty survivor list → NULL (ANSI element_at throws)
    return F.try_element_at(surviving, F.lit(1)).cast("long")


def words_expr(text_col):
    """Whitespace tokenization, lowercased, empties dropped."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != "")


def token_count_expr(text_col):
    """Whitespace token count — the `len(split())` token estimate."""
    return F.size(words_expr(text_col))


def bpe_ish_piece_count_expr(text_col):
    """A BPE-ish subword-piece estimate: alphanumeric runs + punctuation
    marks each count as one piece (regex segmentation, no model)."""
    pieces = F.regexp_extract_all(F.lower(text_col), F.lit(r"([a-z0-9]+|[^a-z0-9\s])"), 1)
    return F.size(pieces)


def punct_ratio_expr(text_col):
    """Fraction of characters that are sentence punctuation."""
    n_punct = F.length(F.regexp_replace(text_col, PUNCT_CLASS, ""))
    return n_punct / F.greatest(F.length(text_col), F.lit(1)).cast("double")


def _stop_hits(text_col, stops):
    return F.size(F.filter(words_expr(text_col), lambda w: w.isin(*stops)))


def stopword_ratio_expr(text_col):
    """Fraction of tokens that are stopwords (fluency signal)."""
    return _stop_hits(text_col, EN_STOPWORDS) / F.greatest(
        token_count_expr(text_col), F.lit(1)
    ).cast("double")


def quality_score_expr(text_col):
    """Composite document-quality score in [0,1]:
    0.4·min(tokens/100,1) + 0.3·(1 - punct_ratio) + 0.3·min(stop_ratio·5,1).

    The standard pretraining-corpus heuristic shape (length + fluency +
    punctuation sanity); weights are fixed so the score is reproducible.

    NOTE this form re-derives the word array per term (3 splits per
    evaluation) and, referenced under a filter, gets INLINED per
    reference by predicate pushdown (the web_gate_expr finding). Query
    paths that filter on the score or combine it with other word-array
    metrics should use ``quality_score_from`` over a staged array —
    same expression tree, same rounded values.
    """
    length_term = F.least(token_count_expr(text_col) / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - punct_ratio_expr(text_col)
    stop_term = F.least(stopword_ratio_expr(text_col) * 5.0, F.lit(1.0))
    return round_det(0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term, 4)


def quality_score_from(txt, ws):
    """``quality_score_expr`` reading an already-built word array —
    the bound-variable form (operators/curation.web_gate_expr idiom):
    when ``ws`` is a lambda variable over ``array(words_expr(txt))``,
    predicate pushdown cannot re-inline the split per reference, so
    the tokenization runs once per row no matter where the optimizer
    moves the predicate. Identical arithmetic to quality_score_expr
    (the same sub-expressions over the same values), so the 4-decimal
    rounded score is bit-identical."""
    n_tok = F.size(ws)
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    n_punct = F.length(F.regexp_replace(txt, PUNCT_CLASS, ""))
    punct_term = F.lit(1.0) - n_punct / F.greatest(
        F.length(txt), F.lit(1)
    ).cast("double")
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1)).cast("double")
    stop_term = F.least(stop_ratio * 5.0, F.lit(1.0))
    return round_det(0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term, 4)


def lang_id_from(ws):
    """``lang_id_expr`` reading an already-built word array (same
    bound-variable contract as ``quality_score_from``). Identical
    hit counts and tie order."""
    en = F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
    es = F.size(F.filter(ws, lambda w: w.isin(*ES_STOPWORDS)))
    de = F.size(F.filter(ws, lambda w: w.isin(*DE_STOPWORDS)))
    return (
        F.when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def mean_word_len_expr(text_col):
    """Mean token length in characters (0.0 for token-less text)."""
    words = words_expr(text_col)
    total = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return total / F.greatest(F.size(words), F.lit(1)).cast("double")


def model_quality_expr(text_col):
    """Model-based quality score in (0,1): sigmoid of a fixed-weight
    linear model over the engine's text features — the deterministic
    stand-in for a trained quality classifier (the fastText /
    FineWeb-Edu filtering pattern). The weights are frozen constants,
    so the score is reproducible and cross-engine checkable; swapping
    in trained weights changes no plan shape (still one pass of pure
    JVM expressions, no shuffle, no UDF).

    z = -2 + 3·min(tokens/100,1) + 2·min(stop_ratio·5,1)
        − 4·punct_ratio + 1·min(mean_word_len/8,1)
    """
    length_term = F.least(token_count_expr(text_col) / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio_expr(text_col) * 5.0, F.lit(1.0))
    punct_term = punct_ratio_expr(text_col)
    wlen_term = F.least(mean_word_len_expr(text_col) / F.lit(8.0), F.lit(1.0))
    z = (
        F.lit(-2.0)
        + 3.0 * length_term
        + 2.0 * stop_term
        - 4.0 * punct_term
        + 1.0 * wlen_term
    )
    return round_det(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)


def lang_id_expr(text_col):
    """n-gram/stopword language-ID heuristic → 'en' | 'es' | 'de' | 'und'.

    Deterministic argmax with fixed tie order (en > es > de > unknown).
    """
    en = _stop_hits(text_col, EN_STOPWORDS)
    es = _stop_hits(text_col, ES_STOPWORDS)
    de = _stop_hits(text_col, DE_STOPWORDS)
    return (
        F.when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def dedup_tokens_expr(text_col):
    """Canonical dedup tokenization: lowercase, split on non-alnum
    runs, drop empties. THE single definition — operators.dedup and the
    fingerprint below import it, and the DuckDB oracle expressions in
    plans/ext.py mirror it; change all in lockstep."""
    toks = F.split(F.lower(text_col), r"[^a-z0-9]+")
    return F.filter(toks, lambda x: x != "")


def fingerprint_expr(text_col):
    """Canonical document fingerprint: md5 of the sorted distinct token
    set (content-order/casing/punctuation invariant)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(dedup_tokens_expr(text_col))), " ")
    )


def rolling_fingerprint_expr(text_col):
    """Whole-document fingerprint — alias of the shared canonical
    set-hash fingerprint. For the true rolling-hash (winnowing)
    scheme with positional window minima, use
    operators.pipeline.winnow_fingerprints_expr (query
    text_fingerprint_winnow)."""
    return fingerprint_expr(text_col)


# PII patterns kept RE2-and-Java compatible (no backrefs/lookaround) so
# the Spark expression and the DuckDB oracle run the IDENTICAL pattern.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 -]{7,}[0-9]"


def redact_pii_expr(text_col):
    """Redact emails then phone numbers with typed placeholders.

    Order matters: the email pattern must run first (a phone-like digit
    run inside an address would otherwise be clipped mid-token). Pure
    regexp_replace composition — JVM-side, streamable, no UDF.
    """
    no_email = F.regexp_replace(text_col, EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_RE, "[PHONE]")
