"""EXT queries: the canonical web-corpus curation recipes (C4, Gopher,
CCNet) over `documents` — see operators/curation.py for the recipe
citations, the derived-line rendering contract, and the scale shapes.

Each oracle replays the derivation and every rule expression-for-
expression (same positional line decoration, same md5 span keys, same
floor-rounding), so the driver's value-hash gate checks the whole
recipe cross-engine. The oracles deliberately use the NAIVE spec form
(window-ranked span occurrences, plain joins); the engine side uses
the scale shapes (partial-aggregated span keeper, broadcast cut
points) — value equality between the two shapes is the check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import sql_round
from ..operators.pipeline import sql_hash_bucket
from ..tables import load_tables
from .ext import _SQL_STOPS_EN, _SQL_WORDS
from .registry import query

# The derived-line rendering (operators/curation.derived_lines_expr)
# as DuckDB SQL over a CTE exposing `ws` (the word array). Constants
# mirror curation.LINE_WORDS / BULLET_MOD / BOILER_MOD / ELLIPSIS_MOD
# / NOPUNCT_MOD — change one, change both.
_SQL_LINES = """
    list_transform(range(CAST(ceil(len(ws)/6.0) AS BIGINT)), j ->
      (CASE WHEN j % 5 = 0 THEN '- ' ELSE '' END)
      || array_to_string(ws[(j*6+1):(j*6+6)], ' ')
      || (CASE WHEN j % 11 = 5 THEN ' javascript' ELSE '' END)
      || (CASE WHEN j % 7 = 3 THEN '...'
               WHEN j % 3 <> 2 THEN '.' ELSE '' END))
"""

# C4 §2.2 line-retention predicate over one derived line `l`.
_SQL_C4_KEEP = """
      regexp_matches(l, '[.!?]$')
      AND len(list_filter(string_split(l, ' '),
              t -> regexp_matches(t, '[a-z]'))) >= 5
      AND NOT contains(l, 'javascript')
      AND NOT contains(l, 'lorem ipsum')
      AND NOT contains(l, '{')
"""

# Gopher metric expressions over CTE columns (ws, lns, r, n_words) —
# ONE definition composed by the gopher_quality_gate oracle and the
# pipeline_web_curation oracle, mirroring operators/curation.
# _gopher_metrics_sql so neither engine's two consumers can drift.
_SQL_GOPHER_M: dict[str, str] = {
    "mean_word_len": sql_round(
        "COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)"
        " / CAST(greatest(n_words, 1) AS DOUBLE)", 4),
    "symbol_ratio": sql_round(
        "((length(r) - length(replace(r, '#', '')))"
        " + (length(r) - length(replace(r, '...', ''))) / 3.0)"
        " / CAST(greatest(n_words, 1) AS DOUBLE)", 4),
    "bullet_frac": sql_round(
        "CAST(len(list_filter(lns, l -> l LIKE '- %')) AS DOUBLE)"
        " / CAST(greatest(len(lns), 1) AS DOUBLE)", 4),
    "ellipsis_frac": sql_round(
        "CAST(len(list_filter(lns, l -> l LIKE '%...')) AS DOUBLE)"
        " / CAST(greatest(len(lns), 1) AS DOUBLE)", 4),
    "alpha_frac": sql_round(
        "CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)"
        " / CAST(greatest(n_words, 1) AS DOUBLE)", 4),
    "n_stop_distinct": (
        "CAST(len(list_distinct(list_filter(ws,"
        f" x -> list_contains({_SQL_STOPS_EN}, x)))) AS INTEGER)"
    ),
}

# The keep verdict with the metrics inlined (for WHERE-only consumers).
_SQL_GOPHER_KEEP = f"""
      (n_words >= 50 AND n_words <= 100000
       AND {_SQL_GOPHER_M["mean_word_len"]} >= 3.0
       AND {_SQL_GOPHER_M["mean_word_len"]} <= 10.0
       AND {_SQL_GOPHER_M["symbol_ratio"]} <= 0.1
       AND {_SQL_GOPHER_M["bullet_frac"]} <= 0.9
       AND {_SQL_GOPHER_M["ellipsis_frac"]} <= 0.3
       AND {_SQL_GOPHER_M["alpha_frac"]} >= 0.8
       AND {_SQL_GOPHER_M["n_stop_distinct"]} >= 2)
"""


@query(
    "c4_clean",
    headline=True,
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    lines AS (SELECT doc_id, {_SQL_LINES} AS lns FROM w),
    kl AS (
      SELECT doc_id, CAST(len(lns) AS INTEGER) AS n_lines,
             list_filter(lns, l -> {_SQL_C4_KEEP}) AS kept
      FROM lines
    ),
    spans AS (
      SELECT doc_id, CAST(j AS INTEGER) AS pos,
             md5(array_to_string(kept[(j+1):(j+3)], chr(1))) AS span_key
      FROM kl, unnest(range(len(kept) - 2)) AS t(j)
      WHERE len(kept) >= 3
    ),
    marked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY span_key
                                ORDER BY doc_id, pos) AS rn
      FROM spans
    ),
    dups AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dup_spans
      FROM marked GROUP BY doc_id
    )
    SELECT kl.doc_id, kl.n_lines,
           CAST(len(kept) AS INTEGER) AS n_kept,
           len(kept) >= 3 AS keep_doc,
           COALESCE(d.n_spans, 0) AS n_spans,
           COALESCE(d.n_dup_spans, 0) AS n_dup_spans
    FROM kl LEFT JOIN dups d ON kl.doc_id = d.doc_id
    """,
)
def c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: C4 cleaning (Raffel et al. 2020 §2.2) — line-retention
    rules plus the corpus-wide three-sentence-span dedup, summarized
    per document (operators/curation.c4_clean). The oracle ranks span
    occurrences with the naive window spec; the engine uses a
    partial-aggregated min-struct keeper + span-keyed join so a
    corpus-hot boilerplate span can never funnel through one task."""
    from ..operators.curation import c4_clean as op

    t = load_tables(spark, sf_dir)
    return op(t["documents"])


@query(
    "gopher_quality_gate",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    feat AS (
      SELECT doc_id, ws, {_SQL_LINES} AS lns,
             array_to_string({_SQL_LINES}, chr(10)) AS r,
             CAST(len(ws) AS INTEGER) AS n_words
      FROM w
    ),
    m AS (
      SELECT doc_id, n_words,
        {_SQL_GOPHER_M["mean_word_len"]} AS mean_word_len,
        {_SQL_GOPHER_M["symbol_ratio"]} AS symbol_ratio,
        {_SQL_GOPHER_M["bullet_frac"]} AS bullet_frac,
        {_SQL_GOPHER_M["ellipsis_frac"]} AS ellipsis_frac,
        {_SQL_GOPHER_M["alpha_frac"]} AS alpha_frac,
        {_SQL_GOPHER_M["n_stop_distinct"]} AS n_stop_distinct
      FROM feat
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
           ellipsis_frac, alpha_frac, n_stop_distinct,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1
            AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8 AND n_stop_distinct >= 2) AS keep
    FROM m
    """,
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: Gopher quality rules (Rae et al. 2021, Table A1) as one
    map-only gate (operators/curation.gopher_gate): word-count and
    mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis
    line fractions over the derived rendering, alphabetic-word
    fraction, stopword presence. Zero exchanges; `keep` is the
    conjunction a production pipeline filters on."""
    from ..operators.curation import gopher_gate

    t = load_tables(spark, sf_dir)
    return gopher_gate(t["documents"])


@query(
    "ccnet_perplexity_buckets",
    headline=True,
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_SQL_WORDS} AS ws FROM documents),
    toks AS (SELECT doc_id, lang, unnest(ws) AS tok FROM w),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n FROM toks),
    scored AS (
      SELECT doc_id, lang,
             {sql_round("avg(ln(c / CAST(n.n AS DOUBLE)))", 4)} AS avg_logprob
      FROM toks JOIN freq USING (tok) CROSS JOIN n
      GROUP BY doc_id, lang
    ),
    cuts AS (
      SELECT lang,
             {sql_round("quantile_cont(avg_logprob, 1.0/3.0)", 4)} AS c33,
             {sql_round("quantile_cont(avg_logprob, 2.0/3.0)", 4)} AS c66
      FROM scored GROUP BY lang
    )
    SELECT doc_id, lang, avg_logprob,
           CASE WHEN avg_logprob > c66 THEN 'head'
                WHEN avg_logprob > c33 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored JOIN cuts USING (lang)
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: CCNet head/middle/tail bucketing (Wenzek et al. 2020) —
    per-language split at the 33rd/66th percentile of the document's
    corpus-self unigram LM score (operators/curation.ccnet_buckets;
    LM rule shared with text_unigram_logprob). Cut points are one
    per-language exact-percentile aggregate broadcast back; no global
    window, no per-language sort."""
    from ..operators.curation import ccnet_buckets

    t = load_tables(spark, sf_dir)
    return ccnet_buckets(t["documents"])


@query(
    "pipeline_web_curation",
    headline=True,
    oracle=f"""
    WITH w AS (SELECT doc_id, text, lang, {_SQL_WORDS} AS ws FROM documents),
    feat AS (
      SELECT doc_id, text, lang, ws, {_SQL_LINES} AS lns,
             array_to_string({_SQL_LINES}, chr(10)) AS r,
             CAST(len(ws) AS INTEGER) AS n_words
      FROM w
    ),
    gated AS (
      SELECT doc_id, text, lang FROM feat
      WHERE len(list_filter(lns, l -> {_SQL_C4_KEEP})) >= 3
        AND {_SQL_GOPHER_KEEP}
    ),
    dedup AS (
      SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang, text
      FROM gated GROUP BY text
    ),
    toks AS (
      SELECT doc_id, lang, unnest({_SQL_WORDS}) AS tok FROM dedup
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n FROM toks),
    scored AS (
      SELECT doc_id, lang,
             {sql_round("avg(ln(c / CAST(n.n AS DOUBLE)))", 4)} AS avg_logprob
      FROM toks JOIN freq USING (tok) CROSS JOIN n
      GROUP BY doc_id, lang
    ),
    cuts AS (
      SELECT lang,
             {sql_round("quantile_cont(avg_logprob, 1.0/3.0)", 4)} AS c33,
             {sql_round("quantile_cont(avg_logprob, 2.0/3.0)", 4)} AS c66
      FROM scored GROUP BY lang
    ),
    bucketed AS (
      SELECT doc_id, lang, avg_logprob,
             CASE WHEN avg_logprob > c66 THEN 'head'
                  WHEN avg_logprob > c33 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM scored JOIN cuts USING (lang)
    )
    SELECT doc_id, lang, avg_logprob, ppl_bucket,
           CASE WHEN {sql_hash_bucket("doc_id")} < 80 THEN 'train'
                WHEN {sql_hash_bucket("doc_id")} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed WHERE ppl_bucket <> 'tail'
    """,
)
def pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT composite: the full WEB-CORPUS curation pipeline as ONE
    oracle-checked unit — C4 page gate AND Gopher quality gate (both
    from one staged word/line derivation) → exact-dedup keeper (min
    doc_id per text) → CCNet perplexity bucketing with the cut points
    learned on the GATED, DEDUPED survivor corpus (the composition
    point: the per-language percentiles differ from the standalone
    ccnet_perplexity_buckets query's, because a real pipeline buckets
    the cleaned corpus, not the raw one) → tail bucket dropped →
    deterministic hash split. Each stage is individually verified
    elsewhere; this pins their ORDER and the population every
    statistic is computed over. Shuffle shape: one groupBy(text) for
    dedup, the unigram-LM token join, one bounded per-language
    percentile aggregate; gates and split are per-row."""
    from ..operators.curation import ccnet_buckets, web_gate_expr
    from ..operators.pipeline import hash_split

    docs = load_tables(spark, sf_dir)["documents"]
    gated = docs.select("doc_id", "text", "lang").where(
        web_gate_expr("text")
    )
    from ..session import eager_checkpoint

    # The survivor frame feeds several consumers inside the CCNet
    # stage (token freq, corpus total, per-doc scoring); without a
    # materialization each consumer re-runs the whole gate scan
    # (measured: 6 Filter copies of the gate in the optimized plan).
    dedup = eager_checkpoint(
        gated.groupBy("text").agg(
            F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
        )
    )
    bucketed = ccnet_buckets(dedup).withColumnRenamed("bucket", "ppl_bucket")
    head = bucketed.where(F.col("ppl_bucket") != "tail")
    return hash_split(head, "doc_id").select(
        "doc_id", "lang", "avg_logprob", "ppl_bucket", "split"
    )


def _blocklist_oracle() -> str:
    from ..operators.curation import BLOCKLIST_PHRASES

    terms = " + ".join(
        f"((length(norm) - length(replace(norm, ' {ph} ', ''))) / {len(ph) + 2})"
        for ph in BLOCKLIST_PHRASES
    )
    return f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    n AS (
      SELECT doc_id, ' ' || array_to_string(ws, ' ') || ' ' AS norm FROM w
    )
    SELECT doc_id,
           CAST({terms} AS BIGINT) AS n_hits,
           CAST({terms} AS BIGINT) = 0 AS keep
    FROM n
    """


@query("blocklist_filter", oracle=_blocklist_oracle())
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: phrase-blocklist page gate (C4 §2.2's "bad words" filter
    shape; operators/curation.blocklist_gate) — per document the total
    occurrence count across the pinned phrase list on the
    whitespace-normalized text, and the zero-hit keep verdict.
    Map-only; the deployment path for thousand-pattern lists (compiled
    trie in a broadcast Arrow kernel) is documented on the operator."""
    from ..operators.curation import blocklist_gate

    t = load_tables(spark, sf_dir)
    return blocklist_gate(t["documents"])


@query(
    "span_dedup_incremental",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    lines AS (SELECT doc_id, {_SQL_LINES} AS lns FROM w),
    kl AS (
      SELECT doc_id, list_filter(lns, l -> {_SQL_C4_KEEP}) AS kept
      FROM lines
    ),
    spans AS (
      SELECT doc_id, CAST(j AS INTEGER) AS pos,
             md5(array_to_string(kept[(j+1):(j+3)], chr(1))) AS span_key
      FROM kl, unnest(range(len(kept) - 2)) AS t(j)
      WHERE len(kept) >= 3
    ),
    store AS (SELECT DISTINCT span_key FROM spans WHERE doc_id % 5 <> 0),
    b AS (SELECT * FROM spans WHERE doc_id % 5 = 0),
    probed AS (
      SELECT b.doc_id, b.pos, b.span_key,
             s.span_key IS NOT NULL AS in_corpus
      FROM b LEFT JOIN store s USING (span_key)
    ),
    nk AS (
      SELECT doc_id, span_key,
             row_number() OVER (PARTITION BY span_key
                                ORDER BY doc_id, pos) AS rn
      FROM probed WHERE NOT in_corpus
    ),
    verd AS (
      SELECT doc_id, 'dup_corpus' AS verdict FROM probed WHERE in_corpus
      UNION ALL
      SELECT doc_id,
             CASE WHEN rn = 1 THEN 'new' ELSE 'dup_batch' END AS verdict
      FROM nk
    ),
    counts AS (
      SELECT doc_id,
             CAST(count(*) FILTER (verdict = 'dup_corpus') AS BIGINT)
               AS n_dup_corpus,
             CAST(count(*) FILTER (verdict = 'dup_batch') AS BIGINT)
               AS n_dup_batch,
             CAST(count(*) FILTER (verdict = 'new') AS BIGINT) AS n_new
      FROM verd GROUP BY doc_id
    )
    SELECT k.doc_id, CAST(len(kept) AS INTEGER) AS n_kept,
           len(kept) >= 3 AS keep_doc,
           COALESCE(c.n_dup_corpus, 0) AS n_dup_corpus,
           COALESCE(c.n_dup_batch, 0) AS n_dup_batch,
           COALESCE(c.n_new, 0) AS n_new
    FROM kl k LEFT JOIN counts c ON k.doc_id = c.doc_id
    WHERE k.doc_id % 5 = 0
    """,
)
def span_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: incremental C4 span dedup — an ingest batch (every 5th
    document) classified against the already-ingested corpus's
    three-sentence-span store
    (operators/curation.span_incremental_verdicts): per batch doc the
    spans already known to the corpus, the within-batch later
    duplicates (min (id, pos) keeper), and the genuinely new spans an
    append would add. The per-crawl form of c4_clean's global span
    dedup, in the dedup_incremental architecture: the BATCH's distinct
    span keys are broadcast to semi-filter the corpus span stream
    map-side (the store is scanned, never shuffled, never collected),
    and only the bounded hit set is broadcast back into the probe.
    The oracle ranks within-batch occurrences with the naive window
    spec; the engine uses the partial-aggregated min-struct keeper."""
    from ..operators.curation import span_incremental_verdicts

    docs = load_tables(spark, sf_dir)["documents"]
    return span_incremental_verdicts(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
    )


def _pretraining_e2e_oracle() -> str:
    """The FULL pretraining-data path in ONE DuckDB statement, every
    stage's SQL reused from its standalone oracle so the fragments
    cannot drift: web-curation gate (C4 page rule + Gopher) → exact
    dedup keeper → portable MinHash+LSH near-dup pairs (agreement ≥
    0.5) → connected components → per-component canonical keeper →
    leakage-safe hash split ON THE COMPONENT id → top-200/min_df-2
    vocabulary induced on the SURVIVOR corpus (the composition point:
    different vocab than the standalone tokenize_encode's, which sees
    the raw corpus) → token-id encode (OOV→0) → FFD sequence packing
    (capacity 256, 32 portable-hash shards) → per-(split, shard)
    manifest. The manifest's sum_tid pins the vocabulary ids and OOV
    mapping; n_packs/n_overflow pin the packing; n_docs/n_tokens pin
    every gate and keeper upstream."""
    from ..operators.pipeline import sql_hash_bucket
    from .ext import minhash_pair_ctes
    from .pipeline import pack_ffd_ctes

    split_b = sql_hash_bucket("k.component_id")
    return f"""
    WITH RECURSIVE w AS (
      SELECT doc_id, text, lang, {_SQL_WORDS} AS ws FROM documents
    ),
    feat AS (
      SELECT doc_id, text, lang, ws, {_SQL_LINES} AS lns,
             array_to_string({_SQL_LINES}, chr(10)) AS r,
             CAST(len(ws) AS INTEGER) AS n_words
      FROM w
    ),
    gated AS (
      SELECT doc_id, text FROM feat
      WHERE len(list_filter(lns, l -> {_SQL_C4_KEEP})) >= 3
        AND {_SQL_GOPHER_KEEP}
    ),
    exact AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id, text FROM gated GROUP BY text
    ),
    {minhash_pair_ctes("exact", "mh_")},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      WHERE len(list_filter(range(1, 33), i -> sa[i] = sb[i])) / 32.0 >= 0.5
    ),
    und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    reach(node, other) AS (
      SELECT src, dst FROM und
      UNION
      SELECT r2.node, u.dst FROM reach r2 JOIN und u ON u.src = r2.other
    ),
    comp AS (
      SELECT node AS doc_id, LEAST(node, MIN(other)) AS component
      FROM reach GROUP BY node
    ),
    labeled AS (
      SELECT e.doc_id,
             CAST(COALESCE(c.component, e.doc_id) AS BIGINT) AS component_id
      FROM exact e LEFT JOIN comp c USING (doc_id)
    ),
    keepers AS (
      SELECT component_id, MIN(doc_id) AS doc_id
      FROM labeled GROUP BY component_id
    ),
    kept AS MATERIALIZED (
      SELECT k.doc_id, e.text,
             CASE WHEN {split_b} < 80 THEN 'train'
                  WHEN {split_b} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM keepers k JOIN exact e USING (doc_id)
    ),
    ktoks AS MATERIALIZED (SELECT doc_id, unnest({_SQL_WORDS}) AS tok FROM kept),
    vocab_agg AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS term_count
      FROM ktoks GROUP BY tok HAVING count(DISTINCT doc_id) >= 2
    ),
    vocab_top AS (
      SELECT * FROM vocab_agg ORDER BY term_count DESC, tok ASC LIMIT 200
    ),
    vocab AS (
      SELECT tok,
             CAST(row_number() OVER (ORDER BY term_count DESC, tok ASC)
                  AS BIGINT) AS vocab_id
      FROM vocab_top
    ),
    enc AS (
      SELECT t.doc_id, COALESCE(v.vocab_id, 0) AS tid
      FROM ktoks t LEFT JOIN vocab v USING (tok)
    ),
    encagg AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(tid) AS BIGINT) AS sum_tid
      FROM enc GROUP BY doc_id
    ),
    sized AS (
      SELECT doc_id, n_tokens,
             CAST({sql_hash_bucket("doc_id", 32)} AS INTEGER) AS shard
      FROM encagg
    ),
    {pack_ffd_ctes("sized", 256)}
    SELECT k.split, p.shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT p.pack_id) AS BIGINT) AS n_packs,
           CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (p.overflow) AS BIGINT) AS n_overflow,
           CAST(sum(g.sum_tid) AS BIGINT) AS sum_tid
    FROM packed p JOIN kept k USING (doc_id) JOIN encagg g USING (doc_id)
    GROUP BY k.split, p.shard
    """


@query(
    "pipeline_pretraining_e2e",
    headline=True,
    oracle=_pretraining_e2e_oracle(),
)
def pipeline_pretraining_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT composite: the END-TO-END pretraining-data pipeline as ONE
    oracle-checked unit — web-curation gate (C4 + Gopher, one staged
    derivation) → exact-dedup keeper → near-dup dedup on the portable
    MinHash+LSH family (agreement ≥ 0.5 → connected components →
    min-id canonical keeper) → LEAKAGE-SAFE split (hash of the
    component id, so a near-dup pair can never straddle train/test)
    → tokenize_encode with the vocabulary induced on the SURVIVOR
    corpus → FFD sequence packing (capacity 256, 32 portable shards)
    → per-(split, shard) training-shards manifest.

    Every stage is individually oracle-verified elsewhere
    (pipeline_web_curation, dedup_minhash_lsh,
    split_leakage_safe, tokenize_encode, pack_sequences,
    shards_manifest); this query pins their ORDER and the population
    each stage sees — the vocabulary, the split proportions and the
    pack fills all differ from the standalone queries' because a real
    pipeline computes them over the curated, deduped survivor set.
    The manifest's sum_tid column pins the induced vocabulary ids
    end-to-end.

    Shuffle shape: gate is map-only into an eager-checkpointed
    survivor frame; one groupBy(text) exact dedup; the LSH band
    groupBy + in-row pair expansion (never a self-join); CC's star
    rounds on the bounded pair graph; component keeper groupBy; the
    vocab agg broadcast back for a map-side encode; one shard-keyed
    applyInPandas FFD; the manifest agg is 96-row bounded. The
    checkpoints (exact, kept, enc) exist because each feeds 2-3
    consumers and Spark has no automatic subplan reuse."""
    from ..operators.curation import web_gate_expr
    from ..operators.dedup import minhash_lsh_candidates
    from ..operators.graph import cluster_assignment
    from ..operators.pipeline import (
        hash_split,
        pack_greedy,
        tokenize_encode_stats,
    )
    from ..session import eager_checkpoint

    docs = load_tables(spark, sf_dir)["documents"]
    gated = docs.select("doc_id", "text").where(web_gate_expr("text"))
    exact = eager_checkpoint(
        gated.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    )
    pairs = minhash_lsh_candidates(exact).where(F.col("est_jaccard") >= 0.5)
    labeled = cluster_assignment(exact.select("doc_id"), pairs)
    # cluster_assignment already marks the component's min-id row
    # (is_canonical) — a map-side filter, not another corpus-wide
    # groupBy on component_id (review-caught).
    keepers = labeled.where(F.col("is_canonical")).select(
        "component_id", "doc_id"
    )
    kept = eager_checkpoint(
        hash_split(keepers, "component_id")
        .join(exact.select("doc_id", "text"), "doc_id")
        .select("doc_id", "text", "split")
    )
    # The encoded frame carries split so the manifest needs ONE
    # doc-keyed join after packing — and no broadcast hint anywhere:
    # these frames are survivor-corpus-sized (one row per document),
    # the unbounded-broadcast class the span-store fix removed; at
    # scale the join shuffles co-partitioned on doc_id, locally AQE
    # broadcasts on its own.
    # tokenize_encode_stats ≡ tokenize_encode + (size, order-free sum)
    # of input_ids — same vocab, same LUT join, no per-doc array
    # assembly (the manifest never reads id ORDER; r13 optimization,
    # equivalence pinned in tests/test_pipeline_ops.py).
    enc = eager_checkpoint(
        tokenize_encode_stats(kept, k=200, min_df=2)
        .join(kept.select("doc_id", "split"), "doc_id")
    )
    packed = pack_greedy(enc.select("doc_id", "n_tokens"), capacity=256)
    return (
        packed.join(enc.select("doc_id", "split", "sum_tid"), "doc_id")
        .groupBy("split", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("pack_id").cast("long").alias("n_packs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("overflow"), 1).otherwise(0))
            .cast("long")
            .alias("n_overflow"),
            F.sum("sum_tid").cast("long").alias("sum_tid"),
        )
    )


def _pretrain_gate_replay_oracle() -> str:
    """The STREAMING pretraining composite's verdict chain as ONE
    DuckDB statement over a seed + three-ingest fold, every fragment
    reused from its standalone oracle so they cannot drift: the
    web-gate predicate (pipeline_web_curation), the fingerprint/
    MinHash gate round (plans/ext._gate_round_sql — the
    dedup_gate_replay fragment), and the span probe/keeper/summary
    round (span_dedup_incremental). Both membership relations grow
    with each round's admitted survivors — the inline form of the two
    store appends (see streaming/pretrain_gate.pretrain_fold_verdicts
    for why distinct-spans-of(corpus) ≡ the appended span store).
    Per-doc base CTEs (words, gate, kept lines, spans, signatures) are
    population-independent, so they are computed ONCE over all
    documents and MATERIALIZED (multi-round consumers would otherwise
    re-inline the whole derivation per reference — the r12
    pretraining-composite lesson); round membership is by id-list
    joins only."""
    from .ext import _SQL_MINHASH_CTES, _gate_round_sql

    def span_round(surv: str, corpus: str, t: str) -> str:
        return f"""
    store_{t} AS MATERIALIZED (
      SELECT DISTINCT s.span_key
      FROM spans s JOIN {corpus} c ON c.doc_id = s.doc_id
    ),
    probed_{t} AS (
      SELECT s.doc_id, s.pos, s.span_key,
             st.span_key IS NOT NULL AS in_corpus
      FROM spans s
      JOIN {surv} b ON b.doc_id = s.doc_id
      LEFT JOIN store_{t} st ON st.span_key = s.span_key
    ),
    nk_{t} AS (
      SELECT doc_id, span_key,
             row_number() OVER (PARTITION BY span_key
                                ORDER BY doc_id, pos) AS rn
      FROM probed_{t} WHERE NOT in_corpus
    ),
    sverd_{t} AS (
      SELECT doc_id, 'dup_corpus' AS verdict FROM probed_{t} WHERE in_corpus
      UNION ALL
      SELECT doc_id,
             CASE WHEN rn = 1 THEN 'new' ELSE 'dup_batch' END AS verdict
      FROM nk_{t}
    ),
    scnt_{t} AS (
      SELECT doc_id,
             CAST(count(*) FILTER (verdict = 'dup_corpus') AS BIGINT)
               AS n_dup_corpus,
             CAST(count(*) FILTER (verdict = 'dup_batch') AS BIGINT)
               AS n_dup_batch,
             CAST(count(*) FILTER (verdict = 'new') AS BIGINT) AS n_new
      FROM sverd_{t} GROUP BY doc_id
    ),
    ssum_{t} AS (
      SELECT k.doc_id, CAST(len(k.kept) AS INTEGER) AS n_kept,
             CAST(len(k.kept) >= 3 AS INTEGER) AS keep_doc,
             COALESCE(c.n_dup_corpus, 0) AS n_dup_corpus,
             COALESCE(c.n_dup_batch, 0) AS n_dup_batch,
             COALESCE(c.n_new, 0) AS n_new
      FROM kl k
      JOIN {surv} b2 ON b2.doc_id = k.doc_id
      LEFT JOIN scnt_{t} c ON c.doc_id = k.doc_id
    )"""

    def out_round(t: str, tag: str) -> str:
        return f"""
    out_{t} AS (
      SELECT '{tag}' AS ingest, b.doc_id,
             g.doc_id IS NOT NULL AS passed_gate,
             CASE WHEN g.doc_id IS NULL THEN 'gated'
                  ELSE v_{t}.verdict END AS verdict,
             CASE WHEN g.doc_id IS NULL THEN NULL
                  ELSE v_{t}.n_near END AS n_near,
             s.n_kept, s.keep_doc, s.n_dup_corpus, s.n_dup_batch, s.n_new
      FROM b_{t} b
      LEFT JOIN gate g ON g.doc_id = b.doc_id
      LEFT JOIN v_{t} ON v_{t}.doc_id = b.doc_id
      LEFT JOIN ssum_{t} s ON s.doc_id = b.doc_id
    )"""

    rounds = []
    for t, tag, prev in (("a", "A", None), ("b", "B", "a"), ("c", "C", "b")):
        grow = (
            f"""
    corpus_{t} AS MATERIALIZED (
      SELECT doc_id FROM corpus_{prev}
      UNION ALL SELECT doc_id FROM surv_{prev}
    ),"""
            if prev
            else """
    corpus_a AS MATERIALIZED (
      SELECT doc_id FROM documents WHERE doc_id % 4 = 3
    ),"""
        )
        rounds.append(
            f"""{grow}
    ga_{t} AS (
      SELECT b.doc_id FROM b_{t} b JOIN gate g ON g.doc_id = b.doc_id
    ),
    {_gate_round_sql(f"ga_{t}", f"corpus_{t}", t).strip()},
    surv_{t} AS MATERIALIZED (
      SELECT doc_id FROM v_{t} WHERE verdict = 'new'
    ),
    {span_round(f"surv_{t}", f"corpus_{t}", t).strip()},
    {out_round(t, tag).strip()}"""
        )
    all_rounds = ",".join(rounds)
    return f"""
    WITH w AS MATERIALIZED (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
    ),
    feat AS (
      SELECT doc_id, ws, {_SQL_LINES} AS lns,
             array_to_string({_SQL_LINES}, chr(10)) AS r,
             CAST(len(ws) AS INTEGER) AS n_words
      FROM w
    ),
    gate AS MATERIALIZED (
      SELECT doc_id FROM feat
      WHERE len(list_filter(lns, l -> {_SQL_C4_KEEP})) >= 3
        AND {_SQL_GOPHER_KEEP}
    ),
    kl AS MATERIALIZED (
      SELECT doc_id, list_filter(lns, l -> {_SQL_C4_KEEP}) AS kept
      FROM feat
    ),
    spans AS MATERIALIZED (
      SELECT doc_id, CAST(j AS INTEGER) AS pos,
             md5(array_to_string(kept[(j+1):(j+3)], chr(1))) AS span_key
      FROM kl, unnest(range(len(kept) - 2)) AS t(j)
      WHERE len(kept) >= 3
    ),
    {_SQL_MINHASH_CTES.strip()},
    b_a AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
    b_b AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1),
    b_c AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 2),
    {all_rounds}
    SELECT * FROM out_a
    UNION ALL SELECT * FROM out_b
    UNION ALL SELECT * FROM out_c
    """


@query(
    "pretrain_gate_replay",
    # Not headline: the fold recomputes the grown corpus's inline
    # relations per round BY DESIGN (it is the oracle/replay vehicle;
    # the production path is the materialized stores, whose per-ingest
    # cost is corpus-independent — docs/SCALE_PROBE.md), so benching
    # it would time the replay harness, not the engine.
    oracle=_pretrain_gate_replay_oracle(),
)
def pretrain_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the STREAMING pretraining-ingest composite
    (streaming/pretrain_gate.py — web gate → fingerprint/MinHash store
    → span store → idempotent per-batch publish) replayed as a
    deterministic seed + three-ingest batch fold, the oracle-visible
    sibling of the live foreachBatch pipeline (pass(T) pins the
    exactly-once machinery and the live ≡ fold equality; THIS row
    value-checks the chained classification semantics the stream
    feeds on). Seed corpus doc_id%4==3 seeds both stores; ingests
    A/B/C (doc_id%4∈{0,1,2}) each pass the C4+Gopher gate, dedup
    against the grown fingerprint corpus, and their admitted
    survivors' spans probe the grown span store — survivors then JOIN
    both membership relations for the next round, exactly the two
    store appends. Every fingerprint, signature, band bucket and span
    key replays in DuckDB value-for-value. Per-round shape: stores
    scanned never shuffled, batch broadcast on both probes, survivors
    eager-checkpointed."""
    from ..streaming.pretrain_gate import pretrain_fold_verdicts

    docs = load_tables(spark, sf_dir)["documents"]
    seed = docs.where(F.col("doc_id") % 4 == 3)
    batches = [
        (tag, docs.where(F.col("doc_id") % 4 == i))
        for i, tag in enumerate(("A", "B", "C"))
    ]
    return pretrain_fold_verdicts(seed, batches)


# ------------------------------------- streaming vector-ingest gate

def _vector_gate_replay_oracle() -> str:
    """Oracle for vector_gate_replay: the gate → encode → assign chain
    replayed batch-free — the web-gate fragments (_SQL_C4_KEEP /
    _SQL_GOPHER_KEEP), two prefixed instantiations of the shared
    frozen-encoder CTEs (plans/ext._embed_vec_ctes: seed corpus and
    ingest survivors), the md5 portable-seed centroid rule, and the
    integer-dot argmax with dot-DESC/cell-ASC ties."""
    from .ext import _embed_vec_ctes

    return f"""
    WITH w AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents),
    feat AS (
      SELECT doc_id, text, ws, {_SQL_LINES} AS lns,
             array_to_string({_SQL_LINES}, chr(10)) AS r,
             CAST(len(ws) AS INTEGER) AS n_words
      FROM w
    ),
    gk AS MATERIALIZED (
      SELECT doc_id, text,
             (len(list_filter(lns, l -> {_SQL_C4_KEEP})) >= 3
              AND {_SQL_GOPHER_KEEP}) AS keep
      FROM feat
    ),
    sd AS (SELECT doc_id, text FROM gk WHERE doc_id % 4 = 0 AND keep),
    {_embed_vec_ctes(src="sd", id_col="doc_id",
                     text_col="text", prefix="s")},
    cents AS MATERIALIZED (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
               AS INTEGER) AS cell,
             v AS cv
      FROM sev
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      LIMIT 8
    ),
    ing AS (
      SELECT doc_id, text, doc_id % 4 AS ingest_batch, keep
      FROM gk WHERE doc_id % 4 IN (1, 2, 3)
    ),
    kd AS (SELECT doc_id, text FROM ing WHERE keep),
    {_embed_vec_ctes(src="kd", id_col="doc_id",
                     text_col="text", prefix="i")},
    dots AS (
      SELECT e.doc_id, c.cell,
             (SELECT SUM(x.a * x.b)
                FROM (SELECT UNNEST(e.v) AS a, UNNEST(c.cv) AS b) x)
               AS dot
      FROM iev e CROSS JOIN cents c
    ),
    asg AS (
      SELECT doc_id, cell FROM (
        SELECT doc_id, cell,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY dot DESC, cell ASC) AS rn
        FROM dots) WHERE rn = 1
    ),
    rows_all AS (
      SELECT CAST(i.ingest_batch AS BIGINT) AS ingest_batch, a.cell
      FROM asg a JOIN ing i USING (doc_id)
      UNION ALL
      SELECT CAST(ingest_batch AS BIGINT) AS ingest_batch,
             CAST(-1 AS INTEGER) AS cell
      FROM ing WHERE NOT keep
    )
    SELECT ingest_batch, cell, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM rows_all GROUP BY 1, 2
    """


@query("vector_gate_replay", oracle=_vector_gate_replay_oracle())
def vector_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the STREAMING vector-index ingest gate's deterministic
    replay (streaming/vector_gate.vector_fold_verdicts) — the THIRD
    streaming store family (fingerprint → span → vector index): web
    gate → frozen-encoder embed → integer-dot cell assignment against
    the portable md5 seed centroids of the seed corpus' DERIVED
    vectors, i.e. the frozen-centroid regime a built index serves
    appends in (`sim_ivf_append_recall` prices exactly this
    staleness). Per-(batch, cell) admission counts with gate-rejected
    documents in cell −1; pytest pins the live foreachBatch stream
    (dynamic per-batch partition overwrites, summary-first write
    order) bit-identical to this fold. ONE map-only pass + one bounded
    groupBy — the vector gate's verdicts depend on nothing accreted,
    which is the design point the replay makes checkable."""
    from ..streaming.vector_gate import vector_fold_verdicts

    t = load_tables(spark, sf_dir)
    return vector_fold_verdicts(t["documents"])
