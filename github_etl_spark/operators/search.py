"""Keyword search over the documents table: BM25 top-k (EXT).

A training-data pipeline needs keyword retrieval for contamination
audits, targeted corpus slicing, and eval-set leakage hunts — BM25 is
the standard lexical ranking (the Lucene/Okapi formula).

Scale shape (the inverted-index probe, expressed relationally):

- the corpus is tokenized ONCE: each document row reduces in the same
  map pass to the narrow proxy (id, dl, qtoks) where qtoks keeps only
  tokens in the query term set (a literal InSet — O(1) per token).
  The proxy is eager-checkpointed, so the stats aggregate and the
  postings explode both read materialized columns instead of each
  re-running the regexp tokenizer over the corpus (r13: the un-staged
  form paid ~4 tokenizer evaluations per row — one in the stats
  branch, and in the postings branch the explode's inferred
  non-null/non-empty constraint was pushed below the projection,
  duplicating the split into the Filter — see guide §4.4 for the
  same effect on UDFs);
- the explode emits matching postings only: shuffle volume ∝ matching
  postings, not corpus tokens;
- document frequency / idf are computed from that same filtered
  relation (term cardinality = |query|, a tiny broadcast join back);
- corpus stats (N, avgdl) are one scalar aggregate, crossJoin-broadcast
  into the scoring expression;
- final top-k is orderBy+limit → TakeOrderedAndProject, never a full
  sort.

Every arithmetic step mirrors the DuckDB oracle textually (same
literal order of operations, ln on both sides — the pattern
text_unigram_logprob proved cross-engine), and ranking is on the
ROUNDED score so the window order replays exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.rounding import round_det

# The BM25 saturation and length-normalization constants (Lucene's).
K1 = 1.2
B = 0.75
from ..functions.text import dedup_tokens_expr as tokens_expr


def _query_hits(toks: Column, terms: list[str]) -> Column:
    """The tokens of `toks` that appear in the bounded query term set,
    as an in-row array filter (InSet per element — no join, no row
    blowup). Empty term set → typed empty array (explode yields no
    rows, matching the empty-join behavior of the previous shape)."""
    if not terms:
        return F.expr("CAST(array() AS array<string>)")
    return F.filter(toks, lambda x: x.isin(*terms))


def _doc_base(
    docs: DataFrame, text_col: str, id_col: str, terms: list[str]
) -> DataFrame:
    """ONE corpus tokenization pass reduced to the narrow BM25 proxy
    (id, dl, qtoks), eager-checkpointed so both consumers (stats agg,
    postings explode) read materialized columns. `toks` is staged in
    its own projection so CollapseProject cannot duplicate the regexp
    split into dl and qtoks."""
    from ..session import eager_checkpoint

    toks = docs.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("toks")
    )
    return eager_checkpoint(
        toks.select(
            F.col(id_col),
            F.coalesce(F.size("toks"), F.lit(0)).alias("dl"),
            _query_hits(F.col("toks"), terms).alias("qtoks"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  — the Lucene variant,
    never negative. Ties rank by doc id ascending on the 4-decimal
    rounded score. Documents matching no query term are absent (their
    score is 0; a LIMIT over them would be arbitrary).

    `terms` is a Python list (a user query — small by nature); for
    programmatic term sets use ``bm25_multi_topk``, which derives the
    term set from a queries DataFrame.
    """
    base = _doc_base(docs, "text", "doc_id", list(dict.fromkeys(terms)))
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    postings = base.select(
        F.col("doc_id"), "dl", F.explode("qtoks").alias("term")
    )
    tf = postings.groupBy("doc_id", "dl", "term").agg(
        F.count("*").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf")
        + K1 * (F.lit(1.0) - B + B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_part).alias("score_raw"))
        .select(F.col("doc_id"), round_det("score_raw", 4).alias("score"))
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    # Rank over the k surviving rows only (single tiny partition).
    w = W.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    k_each: int = 20,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused with Reciprocal Rank
    Fusion (Cormack et al., SIGIR'09): each retriever contributes
    1/(60 + rank), documents missing from one list contribute 0 from
    it. RRF is the standard production hybrid because it needs no
    score calibration between BM25 and cosine — only ranks.

    Scale shape: the two retrievals are the scale-bearing parts and
    keep their own shapes (BM25's filtered-postings probe, the
    broadcast-query corpus scan); the fusion layer sees only
    2·k_each rows, so its full-outer join, RRF arithmetic, and final
    ranking window are all constant-size regardless of corpus scale.
    Ranking is on the ROUNDED (6 dp) fused score with doc-id
    tiebreak, so an oracle replays the order exactly.

    The documents and embeddings tables are joined by position
    (doc_id = vec_id), the fixture contract documented in
    TESTDATA.md.
    """
    from .similarity import brute_force_topk

    lex = bm25_topk(docs, terms, k=k_each).select(
        F.col("doc_id"), F.col("rank").alias("rank_lex")
    )
    sem = brute_force_topk(
        corpus=embeddings,
        queries=embeddings.filter(F.col("vec_id") == query_vec_id),
        k=k_each,
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("rank_sem"),
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(60.0) + r), F.lit(0.0)
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        F.col("doc_id"),
        "rank_lex",
        "rank_sem",
        round_det(
            contrib(F.col("rank_lex")) + contrib(F.col("rank_sem")), 6
        ).alias("rrf_score"),
    )
    order = [F.col("rrf_score").desc(), F.col("doc_id").asc()]
    top = fused.orderBy(*order).limit(k)
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(*order)).cast("int")
    )


def phrase_count_expr(text_col, phrase: list[str]):
    """Occurrences of the exact consecutive token phrase in the
    document — relational phrase grep, the positional-match primitive
    behind contamination audits and quote detection.

    Pure in-row expression: slide a window of len(phrase) over the
    token array and compare slices. Zero shuffle at any scale (a
    map-only corpus scan that Catalyst pushes column pruning through);
    O(L·m) per document like any positional-postings intersection.
    """
    m = len(phrase)
    if m == 0:
        raise ValueError("empty phrase")
    toks = tokens_expr(text_col)
    lits = F.array(*[F.lit(w) for w in phrase])
    hits = F.size(
        F.filter(
            # 1-based slice starts; sequence() is guarded because
            # sequence(1, 0) runs DESCENDING in Spark, not empty.
            F.sequence(F.lit(1), F.size(toks) - m + 1),
            lambda i: F.slice(toks, i, m) == lits,
        )
    )
    return F.when(F.size(toks) >= m, hits).otherwise(F.lit(0)).cast("long")


def bm25_multi_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    doc_base: DataFrame | None = None,
    max_inset_terms: int = 10_000,
) -> DataFrame:
    """Top-k documents PER QUERY under BM25 — the multi-query
    generalization of ``bm25_topk`` (same Lucene idf, same rounding
    and tie rules): each query row's term set is its tokenized
    ``qtext`` (distinct terms — BM25 is a bag-of-TERMS model over
    the query).

    Scale shape: ONE corpus tokenization pass serves every query. The
    union of all query terms is a bounded driver collect (the query
    relation — the SAME bytes the previous shape pulled to the driver
    as a BroadcastExchange build side) inlined as a literal InSet, so
    each document reduces in-row to (dl, matching tokens) with no
    corpus-token explode or join; the explode of the materialized
    match arrays feeds the one tf shuffle (shuffle volume ∝ postings
    matching ANY query, not corpus tokens × queries); per-query
    scoring re-joins the bounded (query, term) relation to the tf
    rows, so the blowup is Σ_q |postings(q)| — what any per-query
    loop would also pay, without rescanning the corpus per query.
    Ranking windows partition by query on the ROUNDED (4 dp) score
    with doc-id tiebreak, exactly like the single-query form.

    ``doc_base``: optional precomputed corpus proxy (id_col, dl,
    qtoks) — a composed pipeline that already makes a corpus pass
    (pipeline_rag_retrieval's chunk+encode pass) attaches dl/qtoks
    there and skips this operator's own pass. Contract: dl = token
    count of ``tokens_expr(text_col)`` and qtoks = its tokens
    restricted to the tokenized-query term set (``_query_hits``);
    drift shows up as an oracle hash mismatch on the composite.

    NOTE this operator is EAGER at call time when ``doc_base`` is
    None: it collects the distinct query-term union (bounded by
    ``max_inset_terms``) and materializes the corpus proxy before
    returning the lazy result frame.

    ``max_inset_terms``: guard on the driver collect (VERDICT r13
    item 5 / ADVICE). The InSet fast path inlines the term union as a
    per-token literal set — fine for a user query set, a driver-OOM +
    megabyte-literal hazard for a corpus-sized ``queries`` frame.
    Above the cap the operator falls back to the broadcast-join
    postings shape: the corpus explodes ALL tokens and a broadcast
    semi-join with the (never collected) term relation keeps the
    matching postings — two tokenizer passes over the corpus (stats,
    postings) instead of one materialized proxy, but bounded driver
    memory and no giant literal expression. Results are identical
    (pinned in tests/test_search.py).
    """
    qterms = (
        queries.select(
            F.col("query_id"),
            F.explode(
                F.array_distinct(tokens_expr(F.col("qtext")))
            ).alias("term"),
        )
    )
    postings = None
    if doc_base is None:
        # Bounded driver collect: at most max_inset_terms + 1 distinct
        # terms are pulled (a user query set fits by nature; the +1
        # row only detects overflow).
        term_rows = (
            qterms.select("term")
            .distinct()
            .limit(max_inset_terms + 1)
            .collect()
        )
        if len(term_rows) <= max_inset_terms:
            terms = sorted(r.term for r in term_rows)
            doc_base = _doc_base(docs, text_col, id_col, terms)
        else:
            # Fallback: term set too large to inline. One staged
            # tokenization per consumer pass; the term relation stays
            # distributed and broadcasts into the postings semi-join.
            toks = docs.select(
                F.col(id_col), tokens_expr(F.col(text_col)).alias("toks")
            )
            stats = toks.select(
                F.coalesce(F.size("toks"), F.lit(0)).alias("dl")
            ).agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
            postings = toks.select(
                F.col(id_col),
                F.coalesce(F.size("toks"), F.lit(0)).alias("dl"),
                F.explode("toks").alias("term"),
            ).join(F.broadcast(qterms.select("term").distinct()), "term")
    if postings is None:
        stats = doc_base.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        postings = doc_base.select(
            F.col(id_col), "dl", F.explode("qtoks").alias("term")
        )
    tf = postings.groupBy(id_col, "dl", "term").agg(
        F.count("*").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf")
        + K1 * (F.lit(1.0) - B + B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(qterms)
        .join(tf, "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(F.sum(idf * tf_part).alias("score_raw"))
        .select(
            F.col("query_id"),
            F.col(id_col),
            round_det("score_raw", 4).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).where(F.col("rank") <= k)
