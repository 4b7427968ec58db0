"""Substring-level (span) dedup: remove corpus-wide duplicated token
spans from documents (EXT).

Document-level dedup (exact / MinHash / Jaccard — operators/dedup.py)
misses boilerplate that repeats INSIDE otherwise-distinct documents:
license headers, navigation chrome, templated paragraphs. The known
fix is suffix-array substring dedup (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL'22: drop every
repeated substring ≥ N tokens, keeping one occurrence). A suffix array
is inherently sequential; the relational approximation with the same
effect is k-gram span marking:

1. every token position starts a k-gram (one explode — gram count ≈
   token count, the same corpus-pass cost the suffix array pays);
2. a window over the GRAM (one shuffle — the only wide op) ranks
   occurrences; every occurrence of a gram seen more than once,
   except the first in (doc, pos) order, is flagged (keep-first ==
   "all but one occurrence removed");
3. flagged positions merge into maximal spans per document with a
   gaps-and-islands window (PARTITIONED by doc — never global);
4. span removal is an in-row filter of the token array against the
   doc's (small) span list — no second corpus shuffle.

Every step is integer/string-exact, so the DuckDB oracle replays the
whole pipeline (`span_dedup` in plans/ext.py). At scale pass
``hash_grams=True`` to shuffle 8-byte xxhash64 gram keys instead of
k-token strings (~10× narrower exchange; collisions ~2^-64 per pair —
the standard trade, same as MinHash's hash family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import dedup_tokens_expr as tokens_expr
from .partitioning import ensure_parallelism
from .pipeline import ngrams_expr


def _positioned_grams(docs: DataFrame, k: int, hash_grams: bool) -> DataFrame:
    toks = tokens_expr(F.col("text"))
    g = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(ngrams_expr(toks, k)).alias("pos", "gram"),
    )
    if hash_grams:
        g = g.withColumn("gram", F.xxhash64("gram"))
    return g


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    keep_first: bool = True,
    hash_grams: bool = False,
) -> DataFrame:
    """(doc, span_start, span_end, span_tokens) — maximal merged spans
    of k-gram occurrences duplicated corpus-wide. `span_end` is the
    inclusive index of the span's last covered token.

    `keep_first=True` exempts each gram's first occurrence in
    (doc, pos) order — the Lee et al. policy (one copy survives);
    `False` flags every occurrence (strip boilerplate everywhere).
    """
    grams = _positioned_grams(ensure_parallelism(docs), k, hash_grams)
    # One gram-keyed window (shuffle + sort, ONE corpus pass). Two
    # measured-and-rejected alternatives at sf0.1: (a) groupBy gram
    # stats + join back re-executes the gram pipeline for both sides
    # (no plan reuse) — 7.1 s vs 3.1 s; (b) same with an eager
    # localCheckpoint of the gram relation wins slightly (2.6 s with
    # hashed grams) but materializes a corpus-sized relation in
    # executor memory — exactly what must not happen at 100 TB. The
    # window form streams through one spillable sort instead.
    #
    # The explicit-width repartition keeps the window exchange at
    # cluster parallelism: AQE sizes post-shuffle partitions by BYTES,
    # and a hashed-gram exchange is narrow enough (~8 B/gram) that the
    # whole window sort would otherwise coalesce onto one core
    # (measured 2.35 s → 1.14 s at sf0.1, identical rows). The window
    # reuses this partitioning (same key), so no exchange is added —
    # the shuffle just keeps its width.
    width = docs.sparkSession.sparkContext.defaultParallelism
    grams = grams.repartition(width, "gram")
    wg = W.partitionBy("gram").orderBy("doc", "pos")
    occ = grams.select(
        "doc",
        "pos",
        F.row_number().over(wg).alias("rn"),
        F.count("*").over(W.partitionBy("gram")).alias("c"),
    )
    flagged = occ.where(
        (F.col("c") > 1) & (F.col("rn") > 1 if keep_first else F.lit(True))
    ).select("doc", "pos")
    # Gaps-and-islands: a flagged position starts a new span iff it
    # does not overlap the running maximum end of earlier spans.
    wd = W.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        wd.rowsBetween(W.unboundedPreceding, -1)
    )
    starts = flagged.withColumn(
        "new_span",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_span").over(wd.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        starts.groupBy("doc", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            "doc",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    keep_first: bool = True,
) -> DataFrame:
    """Documents with duplicated spans cut out: adds `clean_text`
    (surviving tokens re-joined) and `n_tokens_removed`.

    The spans are collected per doc (bounded by tokens/k) and applied
    as an IN-ROW filter over the positioned token array — the only
    wide ops remain the gram window and the doc-side span groupBy.
    Documents with no duplicated span pass through unchanged (left
    join), tokenized-rejoined for representation consistency.
    """
    spans = (
        duplicated_spans(docs, k=k, keep_first=keep_first, hash_grams=True)
        .groupBy("doc")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    toks = tokens_expr(F.col("text"))
    with_spans = docs.join(
        spans, F.col("doc_id") == spans["doc"], "left"
    ).drop("doc")
    kept = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.coalesce("spans", F.array().cast("array<struct<span_start:int,span_end:int>>")),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    return with_spans.select(
        F.col("doc_id"),
        F.col("text"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )
