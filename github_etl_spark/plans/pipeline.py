"""EXT queries: training-data pipeline operators over `documents`.

Each Spark builder mirrors its DuckDB oracle expression-for-expression
(same md5-prefix hash, same rounding, same regex patterns) so the
driver's value-hash gate checks real cross-engine semantics, not a
self-fulfilling reimplementation. No reference analog (the reference's
ETL is GitHub-shaped); these fulfil the EXT north-star mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import sql_round
from ..functions.text import EMAIL_RE, PHONE_RE, redact_pii_expr, token_count_expr
from ..operators.pipeline import (
    chunk_tokens,
    contamination_overlap,
    hash_split,
    mixture_sample,
    pack_greedy,
    repetition_metrics,
    sql_hash_bucket,
    stratified_sample,
)
from ..tables import load_tables
from .ext import (
    _SQL_QUALITY,
    _SQL_STOPS_DE,
    _SQL_STOPS_EN,
    _SQL_STOPS_ES,
    _SQL_WORDS,
)
from .registry import query


@query(
    "text_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                    i -> array_to_string(w[i:i+1], ' '))) AS g
      FROM toks
    ),
    cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           {sql_round('MAX(c) / CAST(SUM(c) AS DOUBLE)', 4)} AS top_gram_frac,
           {sql_round('SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE)', 4)} AS dup_gram_frac
    FROM cnt GROUP BY doc_id
    """,
    headline=True,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: Gopher-style within-document repetition quality signals
    (top-bigram fraction, duplicate-bigram fraction). Distributed
    explode + two keyed partial aggs — O(tokens), never O(len²)/row."""
    t = load_tables(spark, sf_dir)
    return repetition_metrics(t["documents"], n=2)


@query(
    "split_hash_assign",
    oracle=f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {sql_hash_bucket('doc_id')} AS bucket FROM documents)
    """,
)
def split_hash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: deterministic 80/10/10 train/val/test assignment from a
    portable md5-prefix bucket — stable across engines, runs and
    cluster sizes; zero-shuffle per-row expression."""
    t = load_tables(spark, sf_dir)
    return hash_split(t["documents"], "doc_id").select("doc_id", "bucket", "split")


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ) WHERE rn <= ceil(n * 0.1)
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: exact deterministic 10% stratified sample per language —
    ceil(n·frac) rows per stratum in portable-hash order (reproducible,
    unlike Bernoulli sampleBy)."""
    t = load_tables(spark, sf_dir)
    return stratified_sample(t["documents"], ["lang"], 0.1).select(
        "doc_id", "lang", "source"
    )


def _bench_pred():
    """Eval-set membership for the contamination check: every 20th doc
    plays the held-out benchmark. One predicate, mirrored in the oracle."""
    return F.col("doc_id") % 20 == 0


@query(
    "contamination_check",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(w[i:i+2], ' ')))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
    hits AS (
      SELECT t.doc_id, t.g, (b.g IS NOT NULL) AS hit
      FROM g t LEFT JOIN bench b USING (g)
      WHERE t.doc_id % 20 <> 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           {sql_round("sum(CASE WHEN hit THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS overlap_frac,
           (sum(CASE WHEN hit THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) >= 0.5) AS contaminated
    FROM hits GROUP BY doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: benchmark decontamination — per-document distinct-trigram
    overlap against a held-out eval set (docs 0 mod 20), broadcast gram
    join, corpus never shuffled on grams."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    return contamination_overlap(
        docs.filter(~_bench_pred()), docs.filter(_bench_pred()), n=3
    )


# Domain-mixture target: heavier weight on low-numbered sources. ONE
# dict drives both the Spark CASE chain and the oracle SQL below.
_MIX_RATES = {
    f"src{i}": (1.0 if i < 5 else 0.5 if i < 10 else 0.25 if i < 15 else 0.1)
    for i in range(20)
}


def _mix_cut_sql() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {int(r * 10_000)}"
        for s, r in sorted(_MIX_RATES.items())
    )
    return f"CASE {arms} ELSE 0 END"


@query(
    "mixture_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source,
                 {sql_hash_bucket('doc_id', 10_000)} AS bucket
          FROM documents)
    WHERE bucket < {_mix_cut_sql()}
    """,
)
def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: deterministic domain-mixture downsampling — per-source keep
    rates applied via a portable md5 bucket of doc_id (zero-shuffle,
    engine-portable, stable across runs — unlike Bernoulli sampleBy)."""
    t = load_tables(spark, sf_dir)
    return mixture_sample(t["documents"], _MIX_RATES).select("doc_id", "lang", "source")


@query(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    c AS (
      SELECT doc_id, len(w) AS n_tok,
             unnest(range(0,
               CASE WHEN len(w) <= 0 THEN 0
                    WHEN len(w) <= 32 THEN 1
                    ELSE 1 + CAST(ceil((len(w) - 32) / 24.0) AS INT) END)) AS chunk_id,
             w
      FROM toks
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(w[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tok)]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(w[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tok)], ' ')
             AS chunk_text
    FROM c
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: context-window chunking — 32-token windows every 24 tokens
    (8-token overlap), per-row slices + explode, no shuffle/UDF."""
    t = load_tables(spark, sf_dir)
    out = chunk_tokens(t["documents"], window=32, stride=24)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


def pack_ffd_ctes(sized_rel: str, capacity: int = 256) -> str:
    """DuckDB replay of the sharded FFD in pack_greedy as CTE parts
    over ``sized_rel`` (columns doc_id, n_tokens, shard): a recursive
    CTE per shard walks documents in (n_tokens DESC, doc_id ASC) order
    carrying the open-bin remaining-capacity list, first fit = lowest
    surviving index of `list_min` over candidate bin indexes. Depth =
    max docs per shard (~rows/32), so the recursion stays shallow at
    any sf. The final CTE is ``packed`` with (doc_id, shard, n_tokens,
    pack_id, overflow). Shared by pack_sequences and the pretraining
    e2e composite (plans/curation.py) so the FFD replay cannot drift.
    Must sit under a WITH RECURSIVE header."""
    return f"""ranked AS MATERIALIZED (
      SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard
                                ORDER BY n_tokens DESC, doc_id ASC) AS r
      FROM {sized_rel}
    ),
    ffd AS (
      SELECT shard, CAST(0 AS BIGINT) AS r,
             CAST([] AS BIGINT[]) AS bins,
             CAST([] AS INTEGER[]) AS placed
      FROM (SELECT DISTINCT shard FROM ranked)
      UNION ALL
      SELECT shard, r,
             CASE WHEN fit IS NULL THEN list_append(bins, {capacity} - n_tokens)
                  ELSE list_transform(bins, (rem, i) ->
                         CASE WHEN i = fit THEN rem - n_tokens ELSE rem END)
             END AS bins,
             list_append(placed,
               CAST(CASE WHEN fit IS NULL THEN len(bins) ELSE fit - 1 END
                    AS INTEGER)) AS placed
      FROM (
        SELECT s.shard, s.r + 1 AS r, s.bins, s.placed, d.n_tokens,
               list_min(list_transform(s.bins, (rem, i) ->
                  CASE WHEN d.n_tokens <= {capacity} AND rem >= d.n_tokens
                       THEN i ELSE NULL END)) AS fit
        FROM ffd s JOIN ranked d ON d.shard = s.shard AND d.r = s.r + 1
      ) t
    ),
    final AS (
      SELECT shard, placed, r,
             row_number() OVER (PARTITION BY shard ORDER BY r DESC) AS rn
      FROM ffd
    ),
    packed AS (
      SELECT d.doc_id, d.shard, d.n_tokens,
             CAST(d.shard AS BIGINT) * 4294967296
               + f.placed[CAST(d.r AS INTEGER)] AS pack_id,
             d.n_tokens > {capacity} AS overflow
      FROM final f JOIN ranked d ON d.shard = f.shard
      WHERE f.rn = 1
    )"""


def _pack_sequences_oracle() -> str:
    """pack_greedy's FFD replay over raw word counts — see
    pack_ffd_ctes for the recursion contract."""
    from ..operators.pipeline import sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", 32)
    return f"""
    WITH RECURSIVE sized AS (
      SELECT doc_id,
             COALESCE(CAST(len({_SQL_WORDS}) AS BIGINT), 0) AS n_tokens,
             CAST({bucket} AS INTEGER) AS shard
      FROM documents
    ),
    {pack_ffd_ctes("sized", 256)}
    SELECT doc_id, shard, n_tokens, pack_id, overflow FROM packed
    """


@query("pack_sequences", oracle=_pack_sequences_oracle())
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: greedy sequence packing — shard by portable hash, first-fit-
    decreasing per shard in applyInPandas, capacity 256 tokens. The
    packing is procedural on the Spark side (sequential FFD per shard)
    but replayable in SQL: the DuckDB oracle runs the same FFD as a
    recursive CTE over the same shard/order keys, so doc→pack
    assignments hash-match value-for-value. Invariants (every doc
    exactly once, no pack over capacity, deterministic repack) stay
    pytest-asserted."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", token_count_expr(F.col("text")).alias("n_tokens")
    )
    return pack_greedy(docs, capacity=256)


@query(
    "pii_redact",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             concat('reach user', CAST(doc_id AS VARCHAR),
                    '@example.com or +1-555-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' re ', substr(text, 1, 40)) AS contact
      FROM documents)
    SELECT doc_id, contact,
           regexp_replace(
             regexp_replace(contact, '{EMAIL_RE}', '[EMAIL]', 'g'),
             '{PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM c
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: regex PII redaction (emails then phones, typed
    placeholders). The fixture corpus carries no PII, so the query
    synthesizes a deterministic contact string per document and redacts
    it — the oracle proves pattern parity on every row."""
    t = load_tables(spark, sf_dir)
    contact = F.concat(
        F.lit("reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re "),
        F.substring(F.col("text"), 1, 40),
    )
    return t["documents"].select(
        "doc_id",
        contact.alias("contact"),
        redact_pii_expr(contact).alias("redacted"),
    )


@query(
    "pipeline_filter_dedup_split",
    headline=True,
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(len({_SQL_WORDS}) AS DOUBLE) AS n_tok,
             CAST(len(list_filter({_SQL_WORDS},
                  x -> list_contains({_SQL_STOPS_EN}, x))) AS DOUBLE) AS n_stop,
             len(list_filter({_SQL_WORDS},
                  x -> list_contains({_SQL_STOPS_ES}, x))) AS es,
             len(list_filter({_SQL_WORDS},
                  x -> list_contains({_SQL_STOPS_DE}, x))) AS de,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars_nz
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text,
             CASE WHEN n_stop >= es AND n_stop >= de AND n_stop > 0 THEN 'en'
                  WHEN es >= de AND es > 0 THEN 'es'
                  WHEN de > 0 THEN 'de'
                  ELSE 'und' END AS pred_lang,
             {_SQL_QUALITY} AS quality_score
      FROM base
    ),
    kept AS (
      SELECT * FROM scored WHERE pred_lang = 'en' AND quality_score >= 0.5
    ),
    dedup AS (
      SELECT MIN(doc_id) AS doc_id, MIN(quality_score) AS quality_score
      FROM kept GROUP BY text
    ),
    bucketed AS (
      SELECT doc_id, quality_score,
             {{bucket}} AS bucket
      FROM dedup
    )
    SELECT doc_id, quality_score, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed
    """.format(bucket=sql_hash_bucket("doc_id")),
)
def pipeline_filter_dedup_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT composite: the canonical pretraining-corpus pipeline as ONE
    oracle-checked unit — language filter (derived n-gram lang-id, not
    the labeled column) → quality gate (score ≥ 0.5) → exact-dedup
    keeper (min doc_id per text) → deterministic hash split. Each stage
    is individually verified elsewhere; this query pins their
    COMPOSITION (filter-before-dedup ordering, score rounding at the
    gate boundary, split stability on the deduped survivor set).
    Shuffle shape: one groupBy(text); everything else is per-row."""
    from ..functions.text import lang_id_from, quality_score_from, words_expr

    t = load_tables(spark, sf_dir)
    # ONE word split per row (r13): lang-id (3 stopword screens) and
    # the quality score (2 more word-array terms) read a word array
    # bound as a lambda variable, and F.inline emits both columns from
    # a single Generate — predicate pushdown used to inline BOTH
    # expressions (5 independent splits each) into the pushed filter
    # and again into the projection. quality_score_from rounds
    # internally (round_det at 4) — no second wrapper, same contract
    # as the text_quality query.
    staged = F.transform(
        F.array(words_expr(F.col("text"))),
        lambda ws: F.struct(
            lang_id_from(ws).alias("pred_lang"),
            quality_score_from(F.col("text"), ws).alias("quality_score"),
        ),
    )
    scored = t["documents"].select("doc_id", "text", F.inline(staged))
    kept = scored.filter(
        (F.col("pred_lang") == "en") & (F.col("quality_score") >= 0.5)
    )
    dedup = kept.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("quality_score").alias("quality_score"),
    )
    return hash_split(dedup, "doc_id").select(
        "doc_id", "quality_score", "bucket", "split"
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_WORDS}) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n FROM toks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           (floor(avg(ln(c / CAST(n.n AS DOUBLE))) * 10000 + 0.5) / 10000)
             AS avg_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: corpus-self unigram log-probability per document
    (operators/pipeline.unigram_logprob) — the simplest
    perplexity-style quality gate: outlier documents sit far from the
    corpus mode. Exact cross-engine check: counts are integers and the
    short per-doc ln-sums round stably at 4 decimals."""
    from ..operators.pipeline import unigram_logprob

    t = load_tables(spark, sf_dir)
    return unigram_logprob(t["documents"])


# Shared oracle fragment: the frequency-ranked top-k vocabulary
# (mirrors operators/pipeline.vocab_induce — k=200, min_df=2, ties
# broken lexicographically). Kept as ONE string so the vocab_topk and
# tokenize_encode oracles can never drift apart.
_SQL_VOCAB_TOPK = f"""
    toks AS (SELECT doc_id, unnest({_SQL_WORDS}) AS tok FROM documents),
    vocab_agg AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS term_count,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_count
      FROM toks GROUP BY tok HAVING count(DISTINCT doc_id) >= 2
    ),
    vocab_top AS (
      SELECT * FROM vocab_agg ORDER BY term_count DESC, tok ASC LIMIT 200
    ),
    vocab AS (
      SELECT tok, term_count, doc_count,
             CAST(row_number() OVER (ORDER BY term_count DESC, tok ASC)
                  AS BIGINT) AS vocab_id
      FROM vocab_top
    )
"""


@query(
    "vocab_topk",
    oracle=f"WITH {_SQL_VOCAB_TOPK} SELECT tok, term_count, doc_count, vocab_id FROM vocab",
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: tokenizer-training vocabulary induction
    (operators/pipeline.vocab_induce): corpus term counts + document
    frequencies, min_df floor, top-200 by frequency with dense rank
    ids. The aggregation output is vocabulary-sized, the top-k is
    TakeOrderedAndProject, and the rank window sees only k rows."""
    from ..operators.pipeline import vocab_induce

    t = load_tables(spark, sf_dir)
    return vocab_induce(t["documents"], k=200, min_df=2)


@query(
    "tokenize_encode",
    headline=True,
    oracle=f"""
    WITH words AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    ptoks AS (
      SELECT doc_id, unnest(w) AS tok, unnest(range(len(w))) AS pos FROM words
    ),
    {_SQL_VOCAB_TOPK},
    enc AS (
      SELECT p.doc_id, p.pos, COALESCE(v.vocab_id, 0) AS tid
      FROM ptoks p LEFT JOIN vocab v USING (tok)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           array_to_string(list(tid ORDER BY pos), ' ') AS input_ids
    FROM enc GROUP BY doc_id
    """,
)
def tokenize_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: text → token-id arrays under the induced vocabulary
    (operators/pipeline.tokenize_encode), OOV → 0 — the step feeding
    sequence packing. Vocabulary broadcast (map-side join); the only
    corpus-sized shuffle is the per-document reassembly groupBy, with
    in-array (pos,id) sorting instead of a global order.

    Catalog form emits ``input_ids`` as a space-joined STRING: the
    driver's pandas ``sort_values`` canonicalization cannot hash a
    numpy array cell (CORRECTNESS_r06 `TypeError: unhashable type`),
    so complex-typed outputs are banned catalog-wide
    (tests/test_catalog_contract.py). The library operator keeps the
    ``array<long>`` form for downstream packing."""
    from ..operators.pipeline import tokenize_encode

    t = load_tables(spark, sf_dir)
    enc = tokenize_encode(t["documents"], k=200, min_df=2)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join("input_ids", " ").alias("input_ids"),
    )


@query(
    "quality_model_score",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len({_SQL_WORDS}) AS DOUBLE) AS n_tok,
             CAST(len(list_filter({_SQL_WORDS},
                  x -> list_contains({_SQL_STOPS_EN}, x))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
               AS n_punct,
             CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars_nz,
             COALESCE(list_sum(list_transform({_SQL_WORDS}, x -> length(x))), 0)
               AS n_wchars
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -2.0 + 3.0 * least(n_tok / 100.0, 1.0)
                  + 2.0 * least((n_stop / greatest(n_tok, 1)) * 5.0, 1.0)
                  - 4.0 * (n_punct / n_chars_nz)
                  + 1.0 * least((n_wchars / greatest(n_tok, 1)) / 8.0, 1.0)
               AS z
      FROM base
    )
    SELECT doc_id,
           (floor((1.0 / (1.0 + exp(-z))) * 10000 + 0.5) / 10000)
             AS model_score,
           (floor((1.0 / (1.0 + exp(-z))) * 10000 + 0.5) / 10000) >= 0.5 AS keep
    FROM z
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: model-based quality filtering
    (functions/text.model_quality_expr) — sigmoid of a frozen-weight
    linear model over the text features (the fastText / FineWeb-Edu
    classifier-filter pattern with a deterministic stand-in model).
    One pass of pure JVM expressions; the keep flag is the filter a
    production pipeline would apply."""
    from ..functions.text import model_quality_expr

    t = load_tables(spark, sf_dir)
    score = model_quality_expr(F.col("text"))
    return t["documents"].select(
        "doc_id",
        score.alias("model_score"),
        (score >= 0.5).alias("keep"),
    )


@query(
    "text_bigram_logprob",
    headline=True,
    oracle=f"""
    WITH words AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    stream AS (
      SELECT doc_id,
             unnest(w[1:len(w) - 1]) AS w1,
             unnest(w[2:len(w)]) AS w2
      FROM words WHERE len(w) >= 2
    ),
    uni AS (
      SELECT tok, count(*) AS cu
      FROM (SELECT unnest(w) AS tok FROM words) GROUP BY tok
    ),
    n AS (SELECT sum(cu) AS n FROM uni),
    bi AS (SELECT w1, w2, count(*) AS cb FROM stream GROUP BY w1, w2),
    scored AS (
      SELECT s.doc_id,
             ln(0.5 * b.cb / u1.cu
                + 0.5 * u2.cu / CAST(n.n AS DOUBLE)) AS logp
      FROM stream s
      JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
      JOIN uni u1 ON s.w1 = u1.tok
      JOIN uni u2 ON s.w2 = u2.tok
      CROSS JOIN n
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           (floor(avg(logp) * 10000 + 0.5) / 10000) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: interpolated (Jelinek-Mercer, α=0.5) bigram
    log-probability per document under the corpus's own n-gram model
    (operators/pipeline.bigram_logprob) — the KenLM-family perplexity
    gate one rung above the unigram query. Bigrams are built from the
    token array (no lag window); frequency tables are
    vocabulary-bounded aggregations; scoring joins shuffle on gram
    keys (the only shape that survives a bigram table too large to
    broadcast)."""
    from ..operators.pipeline import bigram_logprob

    t = load_tables(spark, sf_dir)
    return bigram_logprob(t["documents"])


@query(
    "hh_token_heavy_hitters",
    headline=True,
    oracle=f"""
    WITH toks AS (SELECT unnest({_SQL_WORDS}) AS tok FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS term_count
    FROM toks, tot
    GROUP BY tok, tot.n
    HAVING COUNT(*) >= ceil(0.002 * n)
    """,
)
def hh_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: exact heavy hitters (≥0.2% of corpus tokens) via
    Misra-Gries screening + exact verification
    (operators/sketches.heavy_hitters). The full GROUP BY the oracle
    runs shuffles one row per DISTINCT token; the engine's plan
    shuffles only broadcast-screened candidates, with a MEASURED
    decrement bound proving no true heavy hitter was screened out —
    the sketch accelerates, the result stays exact."""
    from ..functions.text import words_expr
    from ..operators.sketches import heavy_hitters

    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        F.explode(words_expr(F.col("text"))).alias("tok")
    )
    return heavy_hitters(toks, "tok", min_fraction=0.002)


@query(
    "udtf_doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    c AS (
      SELECT doc_id, len(w) AS n_tok,
             unnest(range(0,
               CASE WHEN len(w) <= 0 THEN 0
                    WHEN len(w) <= 32 THEN 1
                    ELSE 1 + CAST(ceil((len(w) - 32) / 24.0) AS INT) END)) AS chunk_id,
             w
      FROM toks
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(w[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tok)]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(w[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tok)], ' ')
             AS chunk_text
    FROM c
    """,
)
def udtf_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: the same 32/24 context-window chunking as `doc_chunking`,
    expressed as a Python UDTF + LATERAL join instead of slice/explode
    expressions — completing the UDF surface (scalar pandas_udf,
    grouped applyInPandas(WithState), mapInPandas, and now table
    functions). Same oracle as doc_chunking, so the UDTF and the
    expression pipeline are pinned value-for-value to each other.

    Scale stance: a UDTF runs row-at-a-time in Python — the right tool
    when per-row logic is genuinely procedural and emits a VARIABLE
    number of rows (parsers, tokenizers with carry-over state); when
    the expansion is expressible as array slices, the expression form
    (`doc_chunking`) stays JVM-side and wins. Shipping both, pinned to
    one oracle, documents that trade-off executably."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id long, n_chunk_tokens long, chunk_text string")
    class ChunkDoc:
        def eval(self, text: str):
            if text is None:
                return
            toks = [w for w in text.lower().split() if w]
            if not toks:
                return
            window, stride = 32, 24
            n = len(toks)
            n_chunks = 1 if n <= window else 1 + -(-(n - window) // stride)
            for i in range(n_chunks):
                chunk = toks[i * stride : min(i * stride + window, n)]
                yield i, len(chunk), " ".join(chunk)

    t = load_tables(spark, sf_dir)
    t["documents"].createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("chunk_doc", ChunkDoc)
    return spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.n_chunk_tokens, c.chunk_text "
        "FROM __udtf_docs d, LATERAL chunk_doc(d.text) c"
    )


# ------------------------------------------------------------- BPE catalog

# Pinned BPE merge table: learned ONCE from the sf0.01 documents corpus
# (operators/pipeline.bpe_learn_merges, n_merges=16, min_count=2 —
# deterministic, ties break lexicographically) and frozen here so the
# `bpe_apply_pinned` catalog query is scale-factor-independent and the
# DuckDB oracle can replay the exact same merges. Production learns its
# own table per corpus; the catalog pins one so the ENCODE semantics
# (rank-ordered, left-to-right, non-overlapping fusion) get an exact
# cross-engine hash check.
_BPE_PINNED_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
]


def _bpe_oracle_merge_chain(expr: str) -> str:
    """Fold the pinned merges into a chained DuckDB ``regexp_replace``
    over ``expr`` (a double-space-separated, single-space-padded symbol
    string). RE2 has no lookarounds, so the encoding makes boundaries
    two spaces wide: a match consumes ONE boundary space on each side
    and still leaves the neighbouring symbol's own padding intact —
    which reproduces Java-regex lookaround semantics (left-to-right,
    non-overlapping: 'a a a a a' + (a,a) -> 'aa aa a') exactly.
    Verified piece-for-piece against operators/pipeline.bpe_apply in
    tests (test_pipeline_ops) and by the driver hash gate."""
    import re as _re

    def _sq(s: str) -> str:  # SQL single-quote literal escape
        return s.replace("'", "''")

    out = expr
    for left, right in _BPE_PINNED_MERGES:
        pat = f" {_re.escape(left)}  {_re.escape(right)} "
        rep = f" {left + right} ".replace("\\", "\\\\")
        out = f"regexp_replace({out}, '{_sq(pat)}', '{_sq(rep)}', 'g')"
    return out


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_SQL_WORDS}) AS word FROM documents)
      WHERE length(word) > 0
      GROUP BY word
    ),
    idx AS (
      SELECT word, freq, unnest(range(1, length(word))) AS i FROM wf
    )
    SELECT substr(word, CAST(i AS INT), 1) AS sym_left,
           substr(word, CAST(i AS INT) + 1, 1) AS sym_right,
           CAST(sum(freq) AS BIGINT) AS pair_count
    FROM idx GROUP BY sym_left, sym_right
    """,
)
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the inner loop of BPE tokenizer training — adjacent-symbol
    pair counts weighted by word frequency, from the character round
    (operators/pipeline.bpe_pair_counts over word_freq_table). The
    corpus collapses to the (word, freq) table once; the pair
    aggregation is vocabulary-sized, never corpus-sized — the scale
    property that makes each of the trainer's merge rounds cheap."""
    from ..operators.pipeline import bpe_pair_counts, word_freq_table

    t = load_tables(spark, sf_dir)
    pc = bpe_pair_counts(word_freq_table(t["documents"]))
    return pc.select(
        F.col("left").alias("sym_left"),
        F.col("right").alias("sym_right"),
        "pair_count",
    )


# The shared encode CTE prefix (text → per-word piece lists under the
# pinned merges): ONE definition composed by every BPE-family oracle
# (apply x2 regimes, end-to-end tokenize), so the encode semantics
# under test can never silently diverge between pins.
_BPE_PIECES_CTES = f"""
    words AS (
      SELECT doc_id, unnest(w) AS word, unnest(range(len(w))) AS pos
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
    ),
    enc AS (
      SELECT doc_id, pos,
             {_bpe_oracle_merge_chain("' ' || array_to_string(string_split(word, ''), '  ') || ' '")}
               AS s
      FROM words
    ),
    wp AS (
      SELECT doc_id, pos, string_split(trim(s), '  ') AS ps FROM enc
    )"""

# ONE oracle for BOTH encode regimes (regexp chain / Arrow kernel):
# the two Spark implementations must match each other AND this SQL —
# a three-way pin on the encode semantics.
_BPE_APPLY_ORACLE = f"""
    WITH {_BPE_PIECES_CTES}
    SELECT doc_id,
           CAST(sum(len(ps)) AS BIGINT) AS n_pieces,
           string_agg(array_to_string(ps, ' '), ' ' ORDER BY pos) AS pieces
    FROM wp GROUP BY doc_id
    """


@query(
    "bpe_apply_pinned",
    headline=True,
    oracle=_BPE_APPLY_ORACLE,
)
def bpe_apply_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: BPE encode under the pinned merge table
    (operators/pipeline.bpe_apply) — the production text→subword pass
    that follows tokenizer training. ZERO exchanges: the whole encode
    is a per-row chain of regexp_replace fusions inside a `transform`
    lambda, applied at scan speed — the corpus never shuffles (the
    oracle's GROUP BY exists only because SQL must unnest words; Spark
    keeps each document's pieces in-row). Catalog form emits pieces as
    a space-joined STRING (complex outputs are banned catalog-wide,
    tests/test_catalog_contract.py); docs with zero tokens drop, same
    as the oracle's group-over-words."""
    from ..operators.pipeline import bpe_apply

    t = load_tables(spark, sf_dir)
    enc = bpe_apply(t["documents"], _BPE_PINNED_MERGES, out_col="__pieces")
    return enc.select(
        "doc_id",
        F.size("__pieces").cast("long").alias("n_pieces"),
        F.array_join("__pieces", " ").alias("pieces"),
    ).filter(F.col("n_pieces") > 0)


@query("bpe_apply_kernel_pinned", oracle=_BPE_APPLY_ORACLE)
def bpe_apply_kernel_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: BPE encode, broadcast Arrow-kernel regime
    (operators/pipeline.bpe_apply_kernel) under the SAME pinned merge
    table and the SAME oracle as `bpe_apply_pinned` — a three-way pin:
    the regexp-chain plan, the Python merge-loop kernel, and the
    DuckDB replay must all hash-agree. This regime exists because at
    1024 merges the chain's expression tree either StackOverflows
    during construction or runs ~144x slower than the kernel
    (measured, docs/SCALE_PROBE.md); the kernel carries a 32k-merge
    production table as a closure list instead of a plan.
    Map-only over Arrow batches; docs with zero tokens drop, same as
    the oracle's group-over-words."""
    from ..operators.pipeline import bpe_apply_kernel

    t = load_tables(spark, sf_dir)
    enc = bpe_apply_kernel(t["documents"], _BPE_PINNED_MERGES, out_col="__pieces")
    return enc.select(
        "doc_id",
        F.size("__pieces").cast("long").alias("n_pieces"),
        F.array_join("__pieces", " ").alias("pieces"),
    ).filter(F.col("n_pieces") > 0)


def _bpe_learn_oracle(n_rounds: int = 8, min_count: int = 2) -> str:
    """The FULL iterative BPE learn loop as one DuckDB statement:
    chained MATERIALIZED CTEs, one (pair-count, winner, replace) triple
    per merge round, with each round's winning pair selected by scalar
    subqueries. Two tricks make this exact: (a) the double-space symbol
    encoding means plain literal ``replace()`` — no regex, so
    data-dependent symbols need no escaping — reproduces left-to-right
    non-overlapping fusion; (b) ``AS MATERIALIZED`` forces each round
    to evaluate once (default CTE inlining re-expands the whole chain
    per reference — exponential). Early stop mirrors the operator: a
    round whose best count < min_count empties its v-relation, so no
    later round can emit."""
    parts = [
        f"""
    wf AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_SQL_WORDS}) AS word FROM documents)
      WHERE length(word) > 0 GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT freq,
             ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
      FROM wf
    )"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(
            f"""
    p{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
      FROM (SELECT freq, string_split(trim(s), '  ') AS syms FROM v{k-1}),
           unnest(range(1, len(syms))) AS t(i)
      GROUP BY l, r
    ),
    w{k} AS MATERIALIZED (
      SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1
    ),
    v{k} AS MATERIALIZED (
      SELECT freq,
             replace(s,
               ' ' || (SELECT l FROM w{k}) || '  ' || (SELECT r FROM w{k}) || ' ',
               ' ' || (SELECT l FROM w{k}) || (SELECT r FROM w{k}) || ' ') AS s
      FROM v{k-1}
      WHERE (SELECT c FROM w{k}) >= {min_count}
    )"""
        )
    unions = " UNION ALL ".join(
        f"SELECT {k} AS rank, l, r, c FROM w{k} WHERE c >= {min_count}"
        for k in range(1, n_rounds + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""",
    m AS ({unions})
    SELECT CAST(rank AS INT) AS rank, l AS sym_left, r AS sym_right,
           l || r AS merged, c AS pair_count
    FROM m"""
    )


@query("bpe_learn_merges", oracle=_bpe_learn_oracle(8, 2))
def bpe_learn_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: BPE merge-table learning
    (operators/pipeline.bpe_learn_merges, Sennrich et al. 2016),
    oracle-checked IN FULL: the DuckDB twin replays all 8 iterative
    merge rounds as chained materialized CTEs with scalar-subquery
    winner selection (see `_bpe_learn_oracle`) — winner ties, overlap
    counting, and the min_count early stop included. Rows-only no
    more: the code-for-code differential suite vs a scalar reference
    BPE (tests/test_pipeline_ops.py) remains as the property layer on
    top."""
    from ..operators.pipeline import bpe_learn_merges

    t = load_tables(spark, sf_dir)
    m = bpe_learn_merges(t["documents"], n_merges=8, min_count=2)
    return m.select(
        "rank",
        F.col("left").alias("sym_left"),
        F.col("right").alias("sym_right"),
        "merged",
        "pair_count",
    )


@query(
    "bpe_tokenize_encode",
    oracle=f"""
    WITH {_BPE_PIECES_CTES},
    ptoks AS (
      SELECT doc_id, pos AS wpos, unnest(ps) AS tok,
             unnest(range(len(ps))) AS ppos
      FROM wp
    ),
    toks2 AS (
      SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY wpos, ppos) - 1
               AS pos
      FROM ptoks
    ),
    vocab_agg AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS term_count,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_count
      FROM toks2 GROUP BY tok HAVING count(DISTINCT doc_id) >= 2
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
    encx AS (
      SELECT t.doc_id, t.pos, COALESCE(v.vocab_id, 0) AS tid
      FROM toks2 t LEFT JOIN vocab v USING (tok)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           array_to_string(list(tid ORDER BY pos), ' ') AS input_ids
    FROM encx GROUP BY doc_id
    """,
)
def bpe_tokenize_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the FULL production tokenizer path end-to-end — BPE-encode
    under the pinned merge table, induce the top-200 PIECE vocabulary
    (min_df 2, dense ids), emit per-document piece-id sequences with
    OOV → 0 (operators/pipeline.bpe_tokenize_encode). Supersedes the
    whitespace-word `tokenize_encode` for real pipelines: the unit is
    the learned subword, so the id space is closed. The oracle replays
    all three stages in SQL — merge chain, piece vocabulary, positional
    id reassembly — making this the deepest single cross-engine pin in
    the catalog. Catalog form emits `input_ids` space-joined (complex
    outputs are banned catalog-wide)."""
    from ..operators.pipeline import bpe_tokenize_encode

    t = load_tables(spark, sf_dir)
    enc = bpe_tokenize_encode(t["documents"], _BPE_PINNED_MERGES, k=200, min_df=2)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join("input_ids", " ").alias("input_ids"),
    )


def _unigram_oracle() -> str:
    """Brute-force oracle for the unigram Viterbi: a recursive CTE
    enumerates EVERY segmentation of every distinct token (bounded —
    fixture tokens are <= 8 chars), then ranks by the pinned rule
    (score DESC, reversed-piece-lengths key DESC). The engine's
    linear-time DP must agree with exhaustive search bit-for-bit; see
    operators/unigram.py for why the revkey ORDER BY equals the DP's
    longest-final-piece tie-break."""
    from ..operators.unigram import sql_vocab_values

    toks = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> x <> '')"
    )
    return f"""
    WITH RECURSIVE
    toks0 AS (SELECT doc_id, {toks} AS ws FROM documents),
    toks AS (SELECT doc_id, unnest(ws) AS w,
                    generate_subscripts(ws, 1) AS ord
             FROM toks0),
    pieces(piece, score) AS (SELECT * FROM (VALUES {sql_vocab_values()})),
    dw AS (SELECT DISTINCT w FROM toks),
    seg AS (
      SELECT w, 0 AS pos, 0 AS score,
             CAST('' AS VARCHAR) AS path, CAST('' AS VARCHAR) AS revkey
      FROM dw
      UNION ALL
      SELECT s.w, s.pos + length(p.piece), s.score + p.score,
             CASE WHEN s.path = '' THEN p.piece
                  ELSE s.path || '|' || p.piece END,
             lpad(CAST(length(p.piece) AS VARCHAR), 2, '0') || s.revkey
      FROM seg s JOIN pieces p
        ON substr(s.w, s.pos + 1, length(p.piece)) = p.piece
    ),
    done AS (SELECT w, score, path, revkey FROM seg WHERE pos = length(w)),
    best AS (
      SELECT w, score, path,
             CAST(length(path) - length(replace(path, '|', '')) + 1
                  AS BIGINT) AS n_pieces,
             row_number() OVER (PARTITION BY w
                                ORDER BY score DESC, revkey DESC) AS rn
      FROM done
    ),
    bw AS (SELECT w, score, path, n_pieces FROM best WHERE rn = 1)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(b.n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(b.score) AS BIGINT) AS total_score,
           md5(string_agg(b.path, ' ' ORDER BY t.ord)) AS pieces_digest
    FROM toks t JOIN bw b ON t.w = b.w
    GROUP BY t.doc_id
    HAVING count(*) > 0
    """


@query("unigram_segment_pinned", headline=True, oracle=_unigram_oracle())
def unigram_segment_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: unigram-LM (SentencePiece-style) Viterbi subword
    segmentation under the pinned integer-score vocabulary
    (operators/unigram.py) — the second tokenizer family next to BPE.
    The engine runs the linear-time DP as an Arrow-batched map-only
    kernel (corpus never shuffles; distinct-token memoization); the
    oracle runs EXHAUSTIVE enumeration via a recursive CTE and ranks
    by the same pinned tie-break, so every boundary decision in every
    document is pinned through one md5 digest. The pinned vocab makes
    the fixture exercise real decisions: splits that beat whole pieces
    (win|dow, val|ue), whole pieces that beat splits (stream,
    customer), and exact score TIES resolved by the
    longest-final-piece rule (query, order)."""
    from ..operators.unigram import unigram_segment_kernel

    t = load_tables(spark, sf_dir)
    return unigram_segment_kernel(t["documents"])


def _unigram_learn_ctes(
    rounds: int = 3,
    max_piece_len: int = 4,
    min_count: int = 2,
    max_vocab: int = 100,
) -> str:
    """The FULL unigram hard-EM learn loop as a DuckDB CTE chain
    (shared by the learn AND encode oracles): substring seeding, then
    per round (score from integer bit-length, exhaustive-enumeration
    Viterbi via a recursive CTE, usage re-count, prune) — chained
    MATERIALIZED CTEs, mirroring operators/unigram.learn_vocab
    exactly. length(bin(x)) is the cross-engine-exact integer
    bit-length both sides score with. Ends with ``v{rounds}`` =
    (piece, cnt), no final SELECT."""
    toks = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> x <> '')"
    )
    head = f"""
    WITH RECURSIVE
    toks0 AS MATERIALIZED (SELECT {toks} AS ws FROM documents),
    occ AS MATERIALIZED (
      SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(ws) AS t FROM toks0) GROUP BY t
    ),
    sub0 AS (SELECT token, freq,
                    unnest(range(1, length(token) + 1)) AS i FROM occ),
    sub1 AS (SELECT token, freq, i,
                    unnest(range(1, least({max_piece_len},
                                          length(token) - i + 1) + 1)) AS l
             FROM sub0),
    sub AS MATERIALIZED (
      SELECT substr(token, CAST(i AS INT), CAST(l AS INT)) AS piece,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM sub1 GROUP BY piece
    ),
    v0 AS MATERIALIZED (
      SELECT piece, cnt FROM sub WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        FROM sub WHERE length(piece) >= 2 AND cnt >= {min_count}
      ) WHERE rn <= {max_vocab}
    )"""
    step = """,
    p{r} AS MATERIALIZED (
      SELECT piece,
             CAST(length(bin(cnt)) AS BIGINT)
               - (SELECT CAST(length(bin(sum(cnt))) AS BIGINT)
                  FROM v{prev}) AS score
      FROM v{prev}
    ),
    seg{r} AS (
      SELECT token, freq, 0 AS pos, CAST(0 AS BIGINT) AS score,
             CAST('' AS VARCHAR) AS path, CAST('' AS VARCHAR) AS revkey
      FROM occ
      UNION ALL
      SELECT s.token, s.freq, s.pos + length(p.piece),
             s.score + p.score,
             CASE WHEN s.path = '' THEN p.piece
                  ELSE s.path || '|' || p.piece END,
             lpad(CAST(length(p.piece) AS VARCHAR), 2, '0') || s.revkey
      FROM seg{r} s JOIN p{r} p
        ON substr(s.token, s.pos + 1, length(p.piece)) = p.piece
    ),
    best{r} AS MATERIALIZED (
      SELECT token, freq, path FROM (
        SELECT token, freq, path,
               row_number() OVER (PARTITION BY token
                                  ORDER BY score DESC, revkey DESC) AS rn
        FROM seg{r} WHERE pos = length(token)
      ) WHERE rn = 1
    ),
    use{r} AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(string_split(path, '|')) AS piece
            FROM best{r})
      GROUP BY piece
    ),
    v{r} AS MATERIALIZED (
      SELECT c.piece,
             CAST(greatest(coalesce(u.cnt, 0), 1) AS BIGINT) AS cnt
      FROM (SELECT piece FROM v{prev} WHERE length(piece) = 1) c
      LEFT JOIN use{r} u ON u.piece = c.piece
      UNION ALL
      SELECT piece, cnt FROM use{r}
      WHERE length(piece) >= 2 AND cnt >= {min_count}
    )"""
    body = "".join(
        step.format(r=r, prev=r - 1, min_count=min_count)
        for r in range(1, rounds + 1)
    )
    return head + body


def _unigram_learn_oracle(rounds: int = 3) -> str:
    return (
        _unigram_learn_ctes(rounds=rounds)
        + f"""
    SELECT piece, CAST(length(piece) AS INT) AS piece_len, cnt
    FROM v{rounds}
    """
    )


def _unigram_encode_oracle(rounds: int = 3) -> str:
    """End-to-end unigram tokenization oracle: the learn chain, then
    dense id assignment by (count DESC, piece ASC) rank, one more
    exhaustive Viterbi pass under the FINAL vocabulary's bit-cost
    scores, and per-document id reassembly in token order — every
    stage of operators/unigram.unigram_tokenize_encode replayed."""
    toks = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> x <> '')"
    )
    v = f"v{rounds}"
    return (
        _unigram_learn_ctes(rounds=rounds)
        + f""",
    pf AS MATERIALIZED (
      SELECT piece,
             CAST(length(bin(cnt)) AS BIGINT)
               - (SELECT CAST(length(bin(sum(cnt))) AS BIGINT)
                  FROM {v}) AS score,
             CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
                  AS BIGINT) AS pid
      FROM {v}
    ),
    sege AS (
      SELECT token, 0 AS pos, CAST(0 AS BIGINT) AS score,
             CAST('' AS VARCHAR) AS path, CAST('' AS VARCHAR) AS revkey
      FROM occ
      UNION ALL
      SELECT s.token, s.pos + length(p.piece), s.score + p.score,
             CASE WHEN s.path = '' THEN p.piece
                  ELSE s.path || '|' || p.piece END,
             lpad(CAST(length(p.piece) AS VARCHAR), 2, '0') || s.revkey
      FROM sege s JOIN pf p
        ON substr(s.token, s.pos + 1, length(p.piece)) = p.piece
    ),
    beste AS MATERIALIZED (
      SELECT token, path FROM (
        SELECT token, path,
               row_number() OVER (PARTITION BY token
                                  ORDER BY score DESC, revkey DESC) AS rn
        FROM sege WHERE pos = length(token)
      ) WHERE rn = 1
    ),
    tok_ids AS MATERIALIZED (
      SELECT token,
             string_agg(CAST(p.pid AS VARCHAR), ' ' ORDER BY s.ord)
               AS ids,
             CAST(count(*) AS BIGINT) AS n_pieces
      FROM (SELECT token, unnest(string_split(path, '|')) AS piece,
                   generate_subscripts(string_split(path, '|'), 1) AS ord
            FROM beste) s
      JOIN pf p ON p.piece = s.piece
      GROUP BY token
    ),
    dtoks AS (
      SELECT doc_id, unnest(ws) AS token,
             generate_subscripts(ws, 1) AS ord
      FROM (SELECT doc_id, {toks} AS ws FROM documents)
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(t.n_pieces) AS BIGINT) AS n_pieces,
           string_agg(t.ids, ' ' ORDER BY d.ord) AS input_ids
    FROM dtoks d JOIN tok_ids t ON t.token = d.token
    GROUP BY d.doc_id
    """
    )


@query("unigram_learn_vocab", oracle=_unigram_learn_oracle())
def unigram_learn_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: unigram-LM vocabulary LEARNING by hard (Viterbi) EM
    (operators/unigram.unigram_learn) — the training half of the
    second tokenizer family, the sibling of bpe_learn_merges. Piece
    scores are Shannon-Fano integer bit-costs (length(bin(count)),
    cross-engine exact), so every EM round — substring seeding,
    Viterbi E-step, usage-count M-step, pruning — is deterministic
    integer arithmetic, and the DuckDB oracle replays the WHOLE loop
    as chained materialized CTEs with exhaustive-enumeration Viterbi.
    Scale shape: the corpus never leaves the cluster; only the bounded
    vocabulary crosses to the driver per round."""
    from ..operators.unigram import unigram_learn

    t = load_tables(spark, sf_dir)
    return unigram_learn(t["documents"])


@query("unigram_tokenize_encode", oracle=_unigram_encode_oracle())
def unigram_tokenize_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the FULL unigram tokenizer path end-to-end — hard-EM
    vocabulary learning, dense id assignment (count DESC, piece ASC;
    no OOV by the character-coverage invariant), and Viterbi encoding
    of every document under the final bit-cost scores
    (operators/unigram.unigram_tokenize_encode) — the unigram sibling
    of bpe_tokenize_encode, and with it the catalog's deepest pins:
    the oracle replays learning (chained EM CTEs), id ranking, an
    exhaustive-enumeration final segmentation, and positional id
    reassembly in ONE statement. Catalog form emits input_ids
    space-joined (complex outputs are banned catalog-wide)."""
    from ..operators.unigram import unigram_tokenize_encode

    t = load_tables(spark, sf_dir)
    return unigram_tokenize_encode(t["documents"])


# ------------------------------------------------------- WordPiece catalog

# Pinned WordPiece encode vocabulary: the sf0.01 corpus alphabet (both
# bare and ##-continuation forms) plus the merge tokens learned ONCE by
# operators/wordpiece.wordpiece_learn (n_merges=16, min_count=2 — the
# run is reproduced by `wordpiece_learn_vocab`'s first 8 rows), MINUS
# every piece containing 'q' ('q', '##q', 'qu'): the deliberate OOV
# hole makes the [UNK] collapse rule fire on real rows ('query',
# 'unique', …) in both engines instead of staying untested. Production
# encodes under its own learned vocab; the catalog pins one so the
# greedy longest-match semantics get an exact cross-engine hash check
# (the _BPE_PINNED_MERGES idiom).
_WP_PINNED_CHARS = "abcdefghijklmnoprstuvwy"  # no q (OOV hole), no x/z (absent)
_WP_PINNED_MERGED = [
    "li", "wi", "lin", "win", "wind", "fi", "bi", "##in",
    "big", "ag", "agg", "th", "##sh", "##ch", "fil",
]
_WP_PINNED_VOCAB: tuple[str, ...] = tuple(
    [c for c in _WP_PINNED_CHARS]
    + ["##" + c for c in _WP_PINNED_CHARS]
    + _WP_PINNED_MERGED
)


def _wp_learn_parts(n_rounds: int, min_count: int) -> list[str]:
    """The WordPiece learn loop's CTE parts (wf, v0, then per round
    sy{k}/p{k}/w{k}/v{k}) — shared by `_wordpiece_learn_oracle` and
    the end-to-end oracle so the replayed trainer can never drift
    between the two pins."""
    parts = [
        f"""
    wf AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_SQL_WORDS}) AS word FROM documents)
      WHERE length(word) > 0 GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT freq,
             ' ' || array_to_string(list_transform(range(1, length(word) + 1),
               i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
                         ELSE '##' || substr(word, CAST(i AS INT), 1) END),
               '  ') || ' ' AS s
      FROM wf
    )"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(
            f"""
    sy{k} AS MATERIALIZED (
      SELECT sym, CAST(sum(freq) AS BIGINT) AS c
      FROM (SELECT freq, unnest(string_split(trim(s), '  ')) AS sym FROM v{k-1})
      GROUP BY sym
    ),
    p{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
      FROM (SELECT freq, string_split(trim(s), '  ') AS syms FROM v{k-1}),
           unnest(range(1, len(syms))) AS t(i)
      GROUP BY l, r
    ),
    w{k} AS MATERIALIZED (
      SELECT p.l, p.r, p.c, sl.c AS lc, sr.c AS rc,
             CAST((CAST(p.c AS HUGEINT) * 1000000000000)
                  // (CAST(sl.c AS HUGEINT) * sr.c) AS BIGINT) AS score
      FROM p{k} p JOIN sy{k} sl ON p.l = sl.sym JOIN sy{k} sr ON p.r = sr.sym
      WHERE p.c >= {min_count}
      ORDER BY score DESC, p.c DESC, p.l ASC, p.r ASC LIMIT 1
    ),
    v{k} AS MATERIALIZED (
      SELECT freq,
             replace(s,
               ' ' || (SELECT l FROM w{k}) || '  ' || (SELECT r FROM w{k}) || ' ',
               ' ' || (SELECT l FROM w{k}) || substr((SELECT r FROM w{k}), 3)
                   || ' ') AS s
      FROM v{k-1}
      WHERE (SELECT c FROM w{k}) >= {min_count}
    )"""
        )
    return parts


def _wordpiece_learn_oracle(n_rounds: int = 8, min_count: int = 2) -> str:
    """The FULL iterative WordPiece learn loop as one DuckDB statement
    — the `_bpe_learn_oracle` construction with the two WordPiece
    deltas: (a) each round also aggregates SYMBOL counts and the
    winner maximizes the scaled-integer likelihood score
    ``(pair_count * 10^12) // (left_count * right_count)`` (HUGEINT —
    exact, never a float ratio; ties by pair count then
    lexicographic), and (b) the initial segmentation ##-prefixes every
    non-initial character and a merge strips the right side's ##.
    Same double-space symbol encoding (plain literal replace
    reproduces left-to-right non-overlapping fusion), same
    MATERIALIZED-CTE-per-round shape, same min_count early stop."""
    parts = _wp_learn_parts(n_rounds, min_count)
    unions = " UNION ALL ".join(
        f"SELECT {k} AS rank, l, r, c, lc, rc, score FROM w{k} WHERE c >= {min_count}"
        for k in range(1, n_rounds + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""",
    m AS ({unions})
    SELECT CAST(rank AS INT) AS rank, l AS sym_left, r AS sym_right,
           l || substr(r, 3) AS merged, c AS pair_count,
           lc AS left_count, rc AS right_count, score AS score_scaled
    FROM m"""
    )


def _wp_vocab_values() -> str:
    """The pinned vocab as a DuckDB VALUES list (piece, raw form
    without ##, continuation flag, raw length). Pieces are [a-z#]
    only — validated here so a future pin edit cannot silently break
    the SQL literal (the sql_vocab_values lesson, unigram.py)."""
    rows = []
    for p in sorted(_WP_PINNED_VOCAB):
        if not p or not all(ch.isascii() and (ch.islower() or ch == "#") for ch in p):
            raise ValueError(f"unquotable pinned vocab piece: {p!r}")
        raw = p[2:] if p.startswith("##") else p
        cont = "true" if p.startswith("##") else "false"
        rows.append(f"('{p}', '{raw}', {cont}, {len(raw)})")
    return ", ".join(rows)


def _wp_encode_parts(rounds: int, vocab_cte: str) -> list[str]:
    """The greedy longest-match unroll as CTE parts, probing
    ``vocab_cte`` (columns piece, raw, cont, plen) — shared by the
    pinned-vocab encode oracle and the end-to-end oracle, where the
    vocab is DERIVED from the learn CTEs instead of a VALUES literal.

    The unroll runs over DISTINCT words only (the encode is a pure
    per-word function); the final ``wenc`` CTE maps word → (wp,
    failed) and consumers re-join it to the ``words`` occurrence
    frame. The earlier per-occurrence unroll paid the LATERAL probe
    once per word OCCURRENCE — ~445 s at sf1 for 55 s of engine time;
    deduplicating cuts the oracle by the corpus's word-duplication
    factor (same hash, it is the identical function applied once per
    key instead of once per row)."""
    parts = [
        f"""
    words AS (
      SELECT doc_id, unnest(w) AS word, unnest(range(len(w))) AS pos
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
    ),
    uwords AS MATERIALIZED (SELECT DISTINCT word FROM words),
    e0 AS MATERIALIZED (
      SELECT word, 0 AS i, CAST('' AS VARCHAR) AS acc, false AS failed
      FROM uwords
    )"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""
    e{k} AS MATERIALIZED (
      SELECT e.word,
        CASE WHEN e.failed OR e.i >= length(e.word) OR m.plen IS NULL
             THEN e.i ELSE e.i + m.plen END AS i,
        CASE WHEN e.failed OR e.i >= length(e.word) OR m.plen IS NULL
             THEN e.acc ELSE e.acc || ' ' || m.piece END AS acc,
        (e.failed OR (e.i < length(e.word) AND m.plen IS NULL)) AS failed
      FROM e{k-1} e LEFT JOIN LATERAL (
        SELECT v.piece, v.plen FROM {vocab_cte} v
        WHERE v.cont = (e.i > 0) AND e.i < length(e.word)
          AND substr(e.word, e.i + 1, v.plen) = v.raw
        ORDER BY v.plen DESC LIMIT 1) m ON true
    )"""
        )
    parts.append(
        f"""
    wenc AS MATERIALIZED (
      SELECT word,
             CASE WHEN failed THEN '[UNK]' ELSE trim(acc) END AS wp,
             failed
      FROM e{rounds}
    )"""
    )
    return parts


def _wordpiece_encode_oracle(rounds: int = 10) -> str:
    """Greedy longest-match-first WordPiece encode as an UNROLLED
    DuckDB statement: one MATERIALIZED CTE per consumed piece — each
    round a LATERAL longest-match probe into the pinned vocab VALUES
    table (##-continuation form past position 0), a no-op once the
    word is consumed or failed. ``rounds`` must cover the corpus's
    longest word (8 across the fixture scales; 10 pinned) — a longer
    word would leave a tail unconsumed in the oracle while the
    engine's loop finishes, and the driver hash gate would expose the
    divergence loudly. A word with no match at any position collapses
    to [UNK] (the BERT rule)."""
    parts = [
        f"""
    vocab(piece, raw, cont, plen) AS (VALUES {_wp_vocab_values()})"""
    ] + _wp_encode_parts(rounds, "vocab")
    return (
        "WITH "
        + ",".join(parts)
        + """,
    wordpieces AS (
      SELECT w.doc_id, w.pos, x.wp, x.failed
      FROM words w JOIN wenc x USING (word)
    )
    SELECT doc_id,
           CAST(sum(len(string_split(wp, ' '))) AS BIGINT) AS n_pieces,
           CAST(count(*) FILTER (failed) AS BIGINT) AS n_unk,
           string_agg(wp, ' ' ORDER BY pos) AS pieces
    FROM wordpieces GROUP BY doc_id"""
    )


@query("wordpiece_learn_vocab", oracle=_wordpiece_learn_oracle(8, 2))
def wordpiece_learn_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: WordPiece merge-table learning
    (operators/wordpiece.wordpiece_learn — Schuster & Nakajima 2012,
    the HF-trainer likelihood-ratio rule), oracle-checked IN FULL:
    all 8 rounds replayed as chained materialized CTEs, winner =
    max scaled-integer score ``(pair_count * 10^12) div (left_count *
    right_count)`` — the third tokenizer family next to
    bpe_learn_merges (raw pair count) and unigram_learn_vocab
    (global-likelihood pruning). Scale shape: corpus collapses once to
    (word, freq); each round is two vocabulary-sized aggs + one
    TakeOrdered(1); only the winning row crosses to the driver."""
    from ..operators.wordpiece import wordpiece_learn

    t = load_tables(spark, sf_dir)
    m = wordpiece_learn(t["documents"], n_merges=8, min_count=2)
    return m.select(
        "rank",
        F.col("left").alias("sym_left"),
        F.col("right").alias("sym_right"),
        "merged",
        "pair_count",
        "left_count",
        "right_count",
        "score_scaled",
    )


@query("wordpiece_encode_pinned", headline=True, oracle=_wordpiece_encode_oracle())
def wordpiece_encode_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: WordPiece encode under the pinned vocabulary
    (operators/wordpiece.wordpiece_encode_kernel) — greedy
    longest-match-first with ##-continuations and the whole-word
    [UNK] collapse (the BERT WordpieceTokenizer rule; the pinned
    vocab's deliberate 'q' hole keeps the UNK path exercised on real
    rows). Map-only broadcast Arrow kernel — greedy matching is
    sequential PER WORD so there is no regexp-chain sibling regime;
    the corpus never shuffles, distinct words memoize per batch. The
    oracle unrolls the match loop as LATERAL longest-match probes.
    Catalog form: pieces space-joined, docs with zero tokens drop
    (the bpe_apply_pinned contract)."""
    from ..operators.wordpiece import UNK, wordpiece_encode_kernel

    t = load_tables(spark, sf_dir)
    enc = wordpiece_encode_kernel(t["documents"], _WP_PINNED_VOCAB, out_col="__pieces")
    return enc.select(
        "doc_id",
        F.size("__pieces").cast("long").alias("n_pieces"),
        F.size(
            F.filter("__pieces", lambda p: p == F.lit(UNK))
        ).cast("long").alias("n_unk"),
        F.array_join("__pieces", " ").alias("pieces"),
    ).filter(F.col("n_pieces") > 0)


def _wordpiece_e2e_oracle(
    n_merges: int = 8, min_count: int = 2, rounds: int = 10
) -> str:
    """The FULL WordPiece production path in ONE DuckDB statement —
    the trio-completing deepest pin next to bpe_tokenize_encode and
    unigram_tokenize_encode: the 8-round likelihood-ratio learn loop
    (`_wp_learn_parts`), the vocabulary DERIVED from it (corpus
    alphabet in bare + ## forms ∪ the surviving merge tokens — no
    VALUES literal anywhere, so the encode is pinned against the
    TRAINED vocab), the greedy longest-match unroll probing that
    derived vocab, and the shared piece-vocabulary id tail
    (count-then-lexicographic dense ranks, min_df floor, sub-top-k →
    0, positional reassembly)."""
    merged_unions = " UNION ALL ".join(
        f"SELECT l || substr(r, 3) AS piece FROM w{k} WHERE c >= {min_count}"
        for k in range(1, n_merges + 1)
    )
    parts = _wp_learn_parts(n_merges, min_count)
    parts.append(
        f"""
    alpha AS MATERIALIZED (
      SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS ch
      FROM wf, unnest(range(1, length(word) + 1)) AS t(i)
    ),
    wpv AS MATERIALIZED (
      SELECT piece,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                  ELSE piece END AS raw,
             piece LIKE '##%' AS cont,
             length(CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                         ELSE piece END) AS plen
      FROM (
        SELECT ch AS piece FROM alpha
        UNION ALL SELECT '##' || ch FROM alpha
        UNION ALL {merged_unions}
      )
    )"""
    )
    parts.extend(_wp_encode_parts(rounds, "wpv"))
    return (
        "WITH "
        + ",".join(parts)
        + f""",
    wp2 AS (
      SELECT w.doc_id, w.pos, string_split(x.wp, ' ') AS ps
      FROM words w JOIN wenc x USING (word)
    ),
    ptoks AS (
      SELECT doc_id, pos AS wpos, unnest(ps) AS tok,
             unnest(range(len(ps))) AS ppos
      FROM wp2
    ),
    toks2 AS (
      SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY wpos, ppos) - 1
               AS pos
      FROM ptoks
    ),
    vocab_agg AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS term_count,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_count
      FROM toks2 GROUP BY tok
    ),
    vocab_top AS (
      SELECT * FROM vocab_agg WHERE doc_count >= 2
      ORDER BY term_count DESC, tok ASC LIMIT 200
    ),
    vocab_ids AS (
      SELECT tok,
             CAST(row_number() OVER (ORDER BY term_count DESC, tok ASC)
                  AS BIGINT) AS vocab_id
      FROM vocab_top
    ),
    encx AS (
      SELECT t.doc_id, t.pos, COALESCE(v.vocab_id, 0) AS tid
      FROM toks2 t LEFT JOIN vocab_ids v USING (tok)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           array_to_string(list(tid ORDER BY pos), ' ') AS input_ids
    FROM encx GROUP BY doc_id"""
    )


@query("wordpiece_tokenize_encode", oracle=_wordpiece_e2e_oracle())
def wordpiece_tokenize_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the FULL WordPiece tokenizer path end-to-end — learn the
    merge table with the likelihood-ratio trainer, assemble the
    vocabulary (corpus alphabet bare + ## forms ∪ merged tokens, so
    encode has no OOV by construction), greedy-encode every document,
    induce the top-200 piece vocabulary (min_df 2, dense ids), and
    emit per-document piece-id sequences
    (operators/wordpiece.wordpiece_tokenize_encode). With
    bpe_tokenize_encode and unigram_tokenize_encode this completes
    end-to-end pins for all three tokenizer families; the oracle
    replays training, vocabulary assembly, greedy matching against the
    TRAINED vocab, and positional id reassembly in one statement."""
    from ..operators.wordpiece import wordpiece_tokenize_encode

    t = load_tables(spark, sf_dir)
    enc = wordpiece_tokenize_encode(
        t["documents"], n_merges=8, min_count=2,
        k=200, min_df=2,
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join("input_ids", " ").alias("input_ids"),
    )
