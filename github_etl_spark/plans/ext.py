"""EXT queries (SURVEY.md §2.11): dedup, similarity search, text analysis.

Where the computation is SQL-expressible, the DuckDB oracle mirrors the
Spark expression exactly (same tokenization regex, same hash function
where both engines share one — md5 — and integer/exact arithmetic so
value hashes match bit-for-bit). MinHash and SimHash take their bits
from md5, so their oracles replay them value-for-value; their
statistical contracts (estimator accuracy, LSH recall) are property
tests in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_piece_count_expr,
    lang_id_expr,
    punct_ratio_expr,
    quality_score_expr,
    rolling_fingerprint_expr,
    stopword_ratio_expr,
    token_count_expr,
)
from ..operators.dedup import (
    MINHASH_P,
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_candidates,
    minhash_mins_sql,
    ngram_jaccard_pairs,
    simhash_signatures,
    sql_md5_long,
)
from ..functions.rounding import round_det
from ..operators.pipeline import sql_hash_bucket
from ..operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
    sql_quantize,
)
from ..tables import load_tables
from .registry import query

# DuckDB token expression kept in lockstep with operators.dedup.tokens_expr.
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
# Whitespace words, lockstep with functions.text.words_expr.
_SQL_WORDS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
# Stopword list literals, lockstep with functions.text.{EN,ES,DE}_STOPWORDS.
# Single source for every oracle that scores language or quality — a list
# edited in one oracle but not another would silently diverge from the
# stage oracles.
_SQL_STOPS_EN = "['the','a','and','of','to','in','is','it','for','on']"
_SQL_STOPS_ES = "['el','la','de','que','y','en','un','una','los','por']"
_SQL_STOPS_DE = "['der','die','das','und','ist','ein','eine','zu','mit','von']"
# Quality formula over the standard base columns (n_tok, n_stop, n_punct,
# n_chars_nz) — lockstep with functions.text.quality_score_expr.
_SQL_QUALITY = (
    "(floor((0.4 * least(n_tok / 100.0, 1.0)"
    " + 0.3 * (1.0 - n_punct / n_chars_nz)"
    " + 0.3 * least((n_stop / greatest(n_tok, 1)) * 5.0, 1.0)) * 10000 + 0.5) / 10000)"
)


@query(
    "dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_id, count(*) AS n_dupes
    FROM documents
    GROUP BY text
    """,
    headline=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: exact dedup — deterministic keeper (min id), not
    dropDuplicates' arbitrary row."""
    t = load_tables(spark, sf_dir)
    return exact_dedup(t["documents"], ["text"])


@query(
    "dedup_fingerprint",
    oracle=f"""
    SELECT md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fingerprint,
           MIN(doc_id) AS keep_id,
           count(*) AS n_dupes
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: canonical-fingerprint dedup (md5 of sorted distinct token set
    — order/casing/punctuation-invariant)."""
    t = load_tables(spark, sf_dir)
    return fingerprint_dedup(t["documents"])


def _url_dedup_oracle() -> str:
    from ..functions.urls import CANONICALIZE_URL_SQL_CTES, SYNTHESIZE_URLS_SQL

    return f"""
    WITH urls AS ({SYNTHESIZE_URLS_SQL}),
    {CANONICALIZE_URL_SQL_CTES.format(urls="urls")}
    SELECT canonical_url, COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_variants,
           MIN(doc_id) AS keeper_doc_id
    FROM canon GROUP BY canonical_url
    """


@query("dedup_url_canonical", oracle=_url_dedup_oracle())
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: web-corpus URL dedup (CCNet/RefinedWeb front-door pass).
    Deterministic URL fixtures over `documents` carry scheme-case /
    `www.` / host-case / utm-parameter / fragment / trailing-slash
    noise on top of a stable (source, path, ref, lang) identity;
    `canonicalize_url` (functions/urls.py — pure JVM regexp chain, no
    UDFs) collapses the noise and the dedup groups by canonical key
    with a deterministic keeper (min doc_id) and a variant count that
    PROVES collapse happened (n_variants > 1 for residue classes whose
    members differ only in noise). Shape at 100 TB: map-only
    canonicalization + ONE hash shuffle on the canonical key. The
    DuckDB oracle replays synthesis AND the full rule chain from the
    shared SQL templates, so Spark and SQL canonicalization cannot
    drift apart silently."""
    from ..functions.urls import canonicalize_url, synthesize_urls

    t = load_tables(spark, sf_dir)
    urls = synthesize_urls(t["documents"])
    return (
        urls.withColumn("canonical_url", canonicalize_url("url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# Shared CTE chain: exact blocked n-gram Jaccard candidate pairs with
# the hot-shingle df cap. Used verbatim by the dedup_ngram_jaccard
# oracle AND as the edge source of the dedup_cluster_canonical oracle,
# so the two stay in lockstep with operators.dedup.ngram_jaccard_pairs.
_JACCARD_PAIR_CTES = f"""
    toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS w FROM documents
    ),
    sh0 AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(w[i:i+2], ' ')))) AS tok
      FROM toks
    ),
    hot AS (
      SELECT lang, tok FROM sh0 GROUP BY lang, tok HAVING count(*) > 100
    ),
    sh AS (
      SELECT sh0.* FROM sh0 ANTI JOIN hot USING (lang, tok)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_PAIR_CTES}
    SELECT id_a, id_b,
           (floor((n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE)) * 10000 + 0.5) / 10000) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.5
    """,
    headline=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: exact 3-gram-shingle Jaccard near-dup pairs, blocked by lang,
    with the hot-shingle skew cap (df > 100 grams dropped on BOTH the
    Spark and oracle sides — the similarity is over discriminative
    shingles, so a boilerplate gram can't produce B² join rows)."""
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(
        t["documents"],
        block_cols=["lang"],
        threshold=0.5,
        shingle=3,
        max_df=100,
    )


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.5
    ),
    und AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst, src FROM edges
    ),
    reach(node, other) AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.other
    ),
    comp AS (
      SELECT node AS doc_id, LEAST(node, MIN(other)) AS component FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component_id,
           COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    headline=True,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: near-dup CLUSTERING — n-gram Jaccard pairs are edges of a
    similarity graph; alternating large-star/small-star connected
    components (operators/graph.py) assigns every document a component
    id (= min member) and flags the canonical keeper. The oracle
    recomputes components with a DuckDB recursive transitive closure —
    fine at sf0.01, while the Spark side is the O(log n)-round
    shuffle-friendly formulation that survives 100 TB."""
    from ..operators.graph import cluster_assignment

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = ngram_jaccard_pairs(
        docs, block_cols=["lang"], threshold=0.5, shingle=3, max_df=100
    )
    return cluster_assignment(docs.select("doc_id"), pairs)


@query(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.5
    ),
    und AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst, src FROM edges
    ),
    reach(node, other) AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.other
    ),
    comp AS (
      SELECT node AS doc_id, LEAST(node, MIN(other)) AS component FROM reach GROUP BY node
    ),
    labeled AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component_id,
           CASE WHEN {sql_hash_bucket("component_id")} < 80 THEN 'train'
                WHEN {sql_hash_bucket("component_id")} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM labeled
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: dedup-aware train/val/test split — the split key is the
    near-dup COMPONENT id, not the document id, so two near-duplicate
    documents can never straddle train and test (the eval-leakage mode
    a plain hash split silently permits; asserted pair-by-pair in
    tests). Composition of three verified operators: Jaccard pairs →
    connected components → portable hash split."""
    from ..operators.graph import cluster_assignment
    from ..operators.pipeline import hash_split

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = ngram_jaccard_pairs(
        docs, block_cols=["lang"], threshold=0.5,
        shingle=3, max_df=100,
    )
    labeled = cluster_assignment(docs.select("doc_id"), pairs)
    return hash_split(labeled, "component_id").select(
        "doc_id", "component_id", "split"
    )


# The MinHash oracle relations as ONE shared CTE text (tokens ->
# distinct 3-word shingles -> signatures under operators/dedup's family
# -> 8 bands of 4): every MinHash oracle embeds it — the candidate
# pairs (dedup_minhash_lsh, minhash_estimate_error, the pretraining e2e
# composite over its curated survivor relation) and the gate rounds
# (dedup_incremental, dedup_gate_replay, pretrain_gate_replay) — so the
# pinned parameters (hash coefficients, band count, shingle width)
# cannot drift between the oracles.


def minhash_band_ctes(rel: str = "documents", prefix: str = "") -> str:
    """CTEs over relation ``rel`` (columns doc_id, text), names
    prefixed so a composite can embed them without collisions:
    ``{prefix}sh`` (doc_id, s) — one row per distinct shingle — and
    ``{prefix}bands`` (doc_id, sig, band, bucket), one row per document
    × band, the bucket being the band's 4-value slice of the signature
    (operators/dedup.minhash_band_buckets)."""
    p = prefix
    return f"""{p}toks AS MATERIALIZED (SELECT doc_id, {_SQL_TOKS} AS w FROM {rel}),
    {p}sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(w[i:i+2], ' ')))) AS s
      FROM {p}toks
    ),
    {p}sig AS (
      SELECT doc_id, [{minhash_mins_sql(32)}] AS sig
      FROM (SELECT doc_id,
                   {sql_md5_long("s")} % {MINHASH_P} AS x
            FROM {p}sh)
      GROUP BY doc_id
    ),
    {p}bands AS MATERIALIZED (
      SELECT doc_id, sig, b.b AS band, sig[b.b*4+1 : b.b*4+4] AS bucket
      FROM {p}sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b
    )"""


def minhash_pair_ctes(rel: str = "documents", prefix: str = "") -> str:
    """`minhash_band_ctes` plus the candidate pairs of
    `operators.dedup.minhash_lsh_candidates`: the deterministic
    64-member cap per bucket and ``{prefix}pairs`` with
    (id_a, id_b, sa, sb)."""
    p = prefix
    return f"""{minhash_band_ctes(rel, prefix)},
    {p}capped AS (
      SELECT *,
             row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
      FROM {p}bands
    ),
    {p}pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sig AS sa, b.sig AS sb
      FROM {p}capped a JOIN {p}capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE a.rn <= 64 AND b.rn <= 64
    )"""


_SQL_MINHASH_PAIR_CTES = minhash_pair_ctes()

# The gate rounds' relations: the bands plus each document's exact
# fingerprint (operators/incremental._fingerprints).
_SQL_MINHASH_CTES = f"""
    {minhash_band_ctes()},
    fp AS MATERIALIZED (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
      FROM toks
    )
"""


def _gate_round_sql(batch_cte: str, corpus_cte: str, tag: str) -> str:
    """One gate round as CTEs: candidates, agreement screen, exact
    fingerprint probe, verdict CASE — verdicts for ``batch_cte``
    against ``corpus_cte``."""
    return f"""
    cand_{tag} AS (
      SELECT DISTINCT n.doc_id AS batch_doc, o.doc_id AS corpus_doc,
                      n.sig AS sn, o.sig AS so
      FROM bands n
      JOIN {batch_cte} bb ON bb.doc_id = n.doc_id
      JOIN bands o ON n.band = o.band AND n.bucket = o.bucket
      JOIN {corpus_cte} cc ON cc.doc_id = o.doc_id
    ),
    near_{tag} AS (
      SELECT batch_doc, COUNT(*) AS n_near
      FROM cand_{tag}
      WHERE len(list_filter(range(1, 33), i -> sn[i] = so[i])) / 32.0 >= 0.5
      GROUP BY batch_doc
    ),
    exact_{tag} AS (
      SELECT DISTINCT nf.doc_id
      FROM fp nf
      JOIN {batch_cte} bb ON bb.doc_id = nf.doc_id
      JOIN fp cf ON nf.fingerprint = cf.fingerprint
      JOIN {corpus_cte} cc ON cc.doc_id = cf.doc_id
    ),
    v_{tag} AS (
      SELECT bb.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                  WHEN COALESCE(nr.n_near, 0) > 0 THEN 'near_dup'
                  ELSE 'new' END AS verdict,
             CAST(COALESCE(nr.n_near, 0) AS BIGINT) AS n_near
      FROM {batch_cte} bb
      LEFT JOIN exact_{tag} e ON e.doc_id = bb.doc_id
      LEFT JOIN near_{tag} nr ON nr.batch_doc = bb.doc_id
    )
    """


@query(
    "dedup_minhash_lsh",
    headline=True,
    oracle=f"""
    WITH {_SQL_MINHASH_PAIR_CTES}
    SELECT id_a, id_b,
           (floor((len(list_filter(range(1, 33), i -> sa[i] = sb[i])) / 32.0)
                  * 10000 + 0.5) / 10000) AS est_jaccard
    FROM pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the FULL MinHash+LSH candidate pipeline — shingling, 32
    permutation minima, 8-band bucketing, deterministic 64-member skew
    cap, in-row pair expansion, signature-agreement jaccard estimate —
    verified value-for-value against DuckDB (operators/dedup's
    md5-based family computes the same integers in both engines).
    Recall vs exact Jaccard asserted in tests/test_dedup.py."""
    t = load_tables(spark, sf_dir)
    return minhash_lsh_candidates(t["documents"])


@query(
    "dedup_incremental",
    headline=True,
    oracle=f"""
    WITH {_SQL_MINHASH_CTES.strip()},
    inb AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    corp AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
    {_gate_round_sql("inb", "corp", "i").strip()}
    SELECT doc_id, verdict, n_near FROM v_i
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: incremental batch-vs-corpus dedup — the 100 TB crawl-ingest
    shape (operators/incremental.py). Documents split into a corpus
    (doc_id % 5 != 0) and an ingest batch (doc_id % 5 == 0); each batch
    doc is classified exact_dup (fingerprint already in corpus),
    near_dup (MinHash LSH candidate vs a corpus doc with signature
    agreement >= 0.5) or new. The oracle replays fingerprinting,
    signatures, banding, the candidate join and the verdict CASE
    value-for-value. The corpus side is scanned, never shuffled (batch
    broadcast on both probe joins)."""
    from ..operators.incremental import incremental_dedup_verdicts

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return incremental_dedup_verdicts(corpus, batch, threshold=0.5)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    hx AS (SELECT doc_id, md5(tok) AS hx FROM toks),
    bits AS (
      SELECT doc_id, b.bit,
             (((instr('0123456789abcdef', substr(hx, (b.bit // 4) + 1, 1)) - 1)
               >> (b.bit % 4)) & 1) * 2 - 1 AS v
      FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, SUM(v) AS vote FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN
                      CASE WHEN bit = 63 THEN -9223372036854775808
                           ELSE CAST(1 AS BIGINT) << bit END
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: 64-bit SimHash signatures (near-dup = small hamming
    distance). The bits come from md5, so the full bit-vote pipeline —
    per-bit ±1 votes, majority, packing (bit 63 is the sign bit in both
    engines) — is oracle-checked; its similarity ordering is a
    property test in tests/test_dedup.py."""
    t = load_tables(spark, sf_dir)
    return simhash_signatures(t["documents"])


@query(
    "search_bm25_topk",
    headline=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(COALESCE(len(w), 0)) AS avgdl FROM toks
    ),
    ex AS (
      SELECT doc_id, COALESCE(len(w), 0) AS dl, unnest(w) AS term FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM ex WHERE term IN ('dup', 'vector', 'stream')
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             SUM( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                  * (tf.tf * (1.2 + 1.0))
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
             ) AS score_raw
      FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    r AS (
      SELECT doc_id, (floor((score_raw) * 10000 + 0.5) / 10000) AS score
      FROM scored
    ),
    ranked AS (
      SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS INTEGER) AS rank
      FROM r
    )
    SELECT doc_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: BM25 keyword retrieval (operators/search.py) — top-10 docs
    for the query {dup, vector, stream} under the Lucene idf variant.
    The explode is filtered to query terms before the tf shuffle (the
    inverted-index probe expressed relationally); corpus stats are one
    scalar agg broadcast into the scoring expression; ranking is on the
    rounded score so the oracle's window replays exactly."""
    from ..operators.search import bm25_topk

    t = load_tables(spark, sf_dir)
    return bm25_topk(t["documents"], ["dup", "vector", "stream"], k=10)


@query(
    "span_dedup",
    headline=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    g0 AS (
      SELECT doc_id, w,
             unnest(range(1, greatest(len(w) - 8 + 1, 0) + 1)) AS i
      FROM toks
    ),
    grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(w[i:i+7], ' ') AS gram
      FROM g0
    ),
    occ AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY gram) AS c
      FROM grams
    ),
    hit AS (SELECT doc_id, pos FROM occ WHERE c > 1 AND rn > 1),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_span
      FROM hit
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
    FROM islands GROUP BY doc_id, island
    """,
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: substring-level dedup — maximal spans of corpus-wide
    duplicated 8-gram occurrences (all but each gram's first
    occurrence), merged per document with a gaps-and-islands window.
    The relational approximation of suffix-array substring dedup (Lee
    et al. ACL'22); operators/spans.py carries the scale argument (one
    gram-keyed shuffle; span merge and removal are doc-partitioned /
    in-row). String grams here so the oracle replays the ranking
    exactly; production uses hash_grams=True."""
    from ..operators.spans import duplicated_spans

    t = load_tables(spark, sf_dir)
    return (
        duplicated_spans(t["documents"], k=8, keep_first=True, hash_grams=False)
        .select(
            F.col("doc").alias("doc_id"),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            F.col("span_tokens").cast("long"),
        )
    )


def _sql_spread_bits(expr: str, bits: int, offset: int) -> str:
    """DuckDB replay of operators.zorder._spread_bits: bit i of `expr`
    lands on position 2i+offset. Fully parenthesized — SQL bitwise
    precedence differs from Python's."""
    return " | ".join(
        f"(((({expr}) >> {i}) & 1) << {2 * i + offset})" for i in range(bits)
    )


@query(
    "zorder_key",
    oracle=f"""
    SELECT o_orderkey,
           CAST(({_sql_spread_bits("o_custkey & 65535", 16, 0)})
              | ({_sql_spread_bits("o_orderkey & 65535", 16, 1)})
              AS BIGINT) AS z
    FROM orders
    """,
)
def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: Morton (Z-order) key over two integer columns — the
    clustering key behind multi-column data skipping
    (operators/zorder.py; layout benefit measured in
    tests/test_zorder.py). Pure bit arithmetic, replayed exactly by
    the oracle's generated shift/or tower."""
    from ..operators.zorder import zorder_key_expr

    t = load_tables(spark, sf_dir)
    return t["orders"].select(
        "o_orderkey",
        zorder_key_expr(F.col("o_custkey"), F.col("o_orderkey")).alias("z"),
    )


@query(
    "shards_manifest",
    headline=True,
    oracle=f"""
    SELECT doc_id,
           {sql_hash_bucket("doc_id", 8)} AS shard,
           CAST(row_number() OVER (
             PARTITION BY {sql_hash_bucket("doc_id", 8)}
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
    FROM documents
    """,
)
def shards_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the canonical training-shard permutation as a manifest —
    every document's shard (portable md5 bucket, zero-shuffle) and its
    position within the shard (row_number over the md5 shuffle key —
    a PARTITIONED window, so the sort is per-shard, never global).
    `operators/shards.write_shuffled_shards` materializes exactly this
    layout as `shard=K/` parquet directories; the oracle replays both
    the bucket and the in-shard order."""
    from pyspark.sql import Window as W

    from ..operators.shards import SHUFFLE_KEY, shard_assignment

    t = load_tables(spark, sf_dir)
    w = W.partitionBy("shard").orderBy(SHUFFLE_KEY, "doc_id")
    return (
        shard_assignment(t["documents"].select("doc_id"), n_shards=8)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


@query(
    "corpus_profile",
    headline=True,
    oracle=f"""
    WITH toks AS (
      SELECT lang, COALESCE(len({_SQL_WORDS}), 0) AS dl FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens,
           (floor((avg(dl)) * 10000 + 0.5) / 10000) AS avg_tokens,
           (floor((quantile_cont(dl, 0.5)) * 10000 + 0.5) / 10000) AS p50_tokens,
           (floor((quantile_cont(dl, 0.9)) * 10000 + 0.5) / 10000) AS p90_tokens,
           CAST(MIN(dl) AS BIGINT) AS min_tokens,
           CAST(MAX(dl) AS BIGINT) AS max_tokens
    FROM toks GROUP BY lang
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: per-language corpus profile — the first audit any training
    corpus gets: document counts, token budget, and the token-length
    distribution (EXACT percentiles: one pass, partial agg pre-shuffle;
    at 100 TB swap `percentile` for `percentile_approx` — same plan
    shape, bounded state — and the A4 family already oracle-checks the
    approx variants' contract)."""
    from ..functions.text import token_count_expr

    t = load_tables(spark, sf_dir)
    dl = token_count_expr(F.col("text")).cast("long").alias("dl")
    return (
        t["documents"].select("lang", dl)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
            round_det(F.avg("dl"), 4).alias("avg_tokens"),
            round_det(F.percentile("dl", 0.5), 4).alias("p50_tokens"),
            round_det(F.percentile("dl", 0.9), 4).alias("p90_tokens"),
            F.min("dl").cast("long").alias("min_tokens"),
            F.max("dl").cast("long").alias("max_tokens"),
        )
    )


@query("text_compression_ratio", sibling="text_compression_ratio_pinned")  # zlib kernel — no SQL form, rows-only
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: zlib compression-ratio quality signal (Gopher/RefinedWeb
    family). No SQL twin exists (DuckDB has no zlib expression), so the
    driver checks rows/schema only; the kernel itself is verified by a
    per-row differential test against direct zlib plus
    partitioning-invariance and repetition-ordering properties
    (tests/test_pipeline_ops.py)."""
    from ..operators.pipeline import compression_ratio_col

    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        round_det(compression_ratio_col("text"), 4).alias("compression_ratio"),
    )


# The portable sibling's fixed corpus: three regimes of the signal
# (templated ~0.04, natural prose ~0.25, high-entropy ~0.79). ONE
# Python list drives the Spark DataFrame AND the oracle's VALUES rows,
# with the expected ratios pinned from CPython zlib level 6.
_ZLIB_PIN_TEXTS = [
    (1, "a" * 400, 0.035),
    (2, ("the quick brown fox jumps over the lazy dog. " * 5).strip(), 0.2455),
    (
        3,
        "deterministic high-entropy stand-in: "
        + "".join(format((i * 2654435761) % 256, "02x") for i in range(64)),
        0.7939,
    ),
]


@query(
    "text_compression_ratio_pinned",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"(CAST({i} AS BIGINT), {r})" for i, _t, r in _ZLIB_PIN_TEXTS
    )
    + ") AS t(doc_id, compression_ratio)",
)
def text_compression_ratio_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the zlib compression-ratio kernel's oracle-visible sibling.
    `text_compression_ratio` over the corpus stays rows-only (DuckDB
    has no zlib expression), so this variant runs the SAME pandas_udf
    kernel over a fixed three-text corpus — templated / prose /
    high-entropy — whose level-6 ratios are pinned as literals in the
    oracle. Brittleness accepted knowingly: zlib level-6 output is
    deterministic for a given zlib build, and driver + authoring run
    the same container; a zlib upgrade that changes compressed sizes
    fails this query loudly (re-pin the three literals), it can never
    pass wrong. The per-row differential + invariance properties in
    tests/test_pipeline_ops.py remain the kernel's primary suite."""
    from ..operators.pipeline import compression_ratio_col

    df = spark.createDataFrame(
        [(i, t) for i, t, _r in _ZLIB_PIN_TEXTS], "doc_id long, text string"
    )
    return df.select(
        "doc_id",
        round_det(compression_ratio_col("text"), 4).alias("compression_ratio"),
    )


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_SQL_WORDS}) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(regexp_extract_all(lower(text), '([a-z0-9]+|[^a-z0-9\\s])', 1), x -> x <> '')) AS INTEGER) AS n_pieces,
           COALESCE(length(text), 0) AS n_chars_computed,
           md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: token counting (whitespace + BPE-ish regex pieces) and
    document fingerprinting."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_tokens"),
        bpe_ish_piece_count_expr(F.col("text")).alias("n_pieces"),
        F.coalesce(F.length("text"), F.lit(0)).alias("n_chars_computed"),
        rolling_fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


@query(
    "text_fingerprint_winnow",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS wrd FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(wrd) - 2, 0) + 1),
                            i -> array_to_string(wrd[i:i+2], ' ')) AS g
      FROM toks
    ),
    hs AS (
      SELECT doc_id, list_transform(g, x -> left(md5(x), 16)) AS h
      FROM grams
    ),
    wins AS (
      SELECT doc_id,
             CASE WHEN len(h) >= 4
                    THEN list_transform(range(1, len(h) - 3 + 1),
                                        i -> list_min(h[i:i+3]))
                  WHEN len(h) > 0 THEN [list_min(h)]
                  ELSE CAST([] AS VARCHAR[]) END AS mins
      FROM hs
    )
    SELECT doc_id,
           CAST(len(list_distinct(mins)) AS INTEGER) AS n_fingerprints,
           md5(array_to_string(list_sort(list_distinct(mins)), ',')) AS fp_digest
    FROM wins
    """,
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: winnowing document fingerprints (Schleimer et al. — the
    rolling-hash fingerprint scheme; operators/pipeline.
    winnow_fingerprints_expr). k=3-word grams, window w=4; the md5
    gram hash and hex string ordering are shared with DuckDB, so the
    oracle reproduces the exact window-minima selection."""
    from ..operators.pipeline import winnow_fingerprints_expr

    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", winnow_fingerprints_expr(F.col("text")).alias("fps"))
        .select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.md5(F.concat_ws(",", "fps")).alias("fp_digest"),
        )
    )


@query(
    "text_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len({_SQL_WORDS}) AS DOUBLE) AS n_tok,
             CAST(len(list_filter({_SQL_WORDS},
                  x -> list_contains({_SQL_STOPS_EN}, x))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars_nz
      FROM documents
    )
    SELECT doc_id,
           (floor((n_punct / n_chars_nz) * 10000 + 0.5) / 10000) AS punct_ratio,
           (floor((n_stop / greatest(n_tok, 1)) * 10000 + 0.5) / 10000) AS stopword_ratio,
           {_SQL_QUALITY} AS quality_score
    FROM base
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: quality scoring — length/punctuation/stopword-ratio composite."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        round_det(punct_ratio_expr(F.col("text")), 4).alias("punct_ratio"),
        round_det(stopword_ratio_expr(F.col("text")), 4).alias("stopword_ratio"),
        quality_score_expr(F.col("text")).alias("quality_score"),
    )


@query(
    "quality_decile_binning",
    headline=True,
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len({_SQL_WORDS}) AS DOUBLE) AS n_tok,
             CAST(len(list_filter({_SQL_WORDS},
                  x -> list_contains({_SQL_STOPS_EN}, x))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars_nz
      FROM documents
    ),
    scored AS (SELECT doc_id, {_SQL_QUALITY} AS quality_score FROM base),
    bounds AS (
      SELECT list_transform(
               quantile_cont(quality_score,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               b -> floor(b * 10000 + 0.5) / 10000) AS bs
      FROM scored
    )
    SELECT doc_id, quality_score,
           CAST(1 + len(list_filter(bs, b -> quality_score > b)) AS INTEGER)
             AS decile
    FROM scored CROSS JOIN bounds
    """,
)
def quality_decile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: quality-decile labeling — the quantile-cut form of
    importance filtering ("keep the top 3 deciles"). Boundaries are ONE
    exact-percentile aggregate broadcast back over the corpus (never a
    global ntile window, which would funnel every row through one
    partition); each doc's decile is an in-row comparison against the
    9 rounded cut points. Both the score and the cuts are 4-decimal
    rounded, so the bin edges replay exactly in the oracle."""
    from ..functions.text import quality_score_from, words_expr
    from ..session import eager_checkpoint

    t = load_tables(spark, sf_dir)
    # Score once (r13): the percentile aggregate AND the final
    # projection both consume the scored frame — Spark has no subplan
    # reuse, so without the checkpoint the word-splitting score
    # expression ran over the corpus twice. The staged form
    # (quality_score_from over a bound word array) additionally cuts
    # the splits per evaluation from 3 to 1; the checkpointed frame is
    # (id, double) — a sliver of the corpus it summarizes.
    scores = eager_checkpoint(
        t["documents"].select(
            "doc_id",
            F.element_at(
                F.transform(
                    F.array(words_expr(F.col("text"))),
                    lambda ws: quality_score_from(F.col("text"), ws),
                ),
                F.lit(1),
            ).alias("quality_score"),
        )
    )
    bounds = scores.agg(
        F.percentile("quality_score", [i / 10.0 for i in range(1, 10)]).alias(
            "bs"
        )
    ).select(F.transform("bs", lambda b: round_det(b, 4)).alias("bs"))
    return scores.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "quality_score",
        (
            1
            + F.size(
                F.filter("bs", lambda b: F.col("quality_score") > b)
            )
        ).cast("int").alias("decile"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter({_SQL_WORDS}, x -> list_contains({_SQL_STOPS_EN}, x))) AS en,
             len(list_filter({_SQL_WORDS}, x -> list_contains({_SQL_STOPS_ES}, x))) AS es,
             len(list_filter({_SQL_WORDS}, x -> list_contains({_SQL_STOPS_DE}, x))) AS de
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
                WHEN es >= de AND es > 0 THEN 'es'
                WHEN de > 0 THEN 'de'
                ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: stopword-ngram language-ID heuristic with deterministic
    tie-breaking (en > es > de > und)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id_expr(F.col("text")).alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_SIM_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
            FROM (SELECT UNNEST(q.q_vec) AS a, UNNEST(e.embedding) AS b) x)
         / (sqrt((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                    FROM (SELECT UNNEST(q.q_vec) AS a) y))
          * sqrt((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                    FROM (SELECT UNNEST(e.embedding) AS b) z))) AS cosine_raw
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
FROM ranked WHERE rank <= 5
"""


@query("sim_bruteforce_topk", oracle=_SIM_ORACLE, headline=True)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: exact top-5 cosine neighbors for query vectors (vec_id < 10):
    broadcast queries × corpus scan, zip_with/aggregate dot products
    (JVM-side), window top-k with deterministic tiebreak."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return brute_force_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    ).withColumn("rank", F.col("rank").cast("int"))


def _lsh_bucket_sql(planes: list[list[int]]) -> str:
    """DuckDB expression for `portable_bucket_expr` over a `qv` column
    (the quantized integer vector): per plane, exact integer dot
    product sign → bit, bits packed into the bucket id. The plane
    constants are the same md5-derived integers the Spark side uses
    (`md5_int_planes`), inlined as list literals."""
    terms = []
    for p_idx, p in enumerate(planes):
        lit = "[" + ",".join(str(c) for c in p) + "]"
        terms.append(
            f"(CASE WHEN (SELECT SUM(x.a * x.b) FROM "
            f"(SELECT UNNEST(qv) AS a, UNNEST({lit}) AS b) x) >= 0 "
            f"THEN {1 << p_idx} ELSE 0 END)"
        )
    return " + ".join(terms)


def _sim_lsh_oracle() -> str:
    from ..operators.similarity import md5_int_planes

    bucket = _lsh_bucket_sql(md5_int_planes(dim=64, n_planes=4, table=0))
    return f"""
    WITH emb_q AS (
      SELECT vec_id, embedding,
             {sql_quantize("embedding")} AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    emb_b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM emb_q
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_vec, bucket
      FROM emb_b WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(q.q_vec) AS a, UNNEST(e.embedding) AS b) x)
             / (sqrt((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                        FROM (SELECT UNNEST(q.q_vec) AS a) y))
              * sqrt((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                        FROM (SELECT UNNEST(e.embedding) AS b) z))) AS cosine_raw
      FROM q JOIN emb_b e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
    FROM ranked WHERE rank <= 5
    """


@query("sim_lsh_topk", oracle=_sim_lsh_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: LSH-bucketed ANN (4 integer hyperplanes, 16 buckets) — the
    scale path: each query scans ~1/16 of the corpus. DuckDB replays
    bucket assignment (exact integer dot-product signs over quantized
    vectors), candidate generation, cosine scoring and the top-k
    window value-for-value."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return lsh_bucketed_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5, n_planes=4
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "sim_cosine_neardup",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (SELECT SUM(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                FROM (SELECT UNNEST(a.embedding) AS u, UNNEST(b.embedding) AS v) x)
             / NULLIF(sqrt((SELECT SUM(CAST(y.u AS DOUBLE) * CAST(y.u AS DOUBLE))
                        FROM (SELECT UNNEST(a.embedding) AS u) y))
              * sqrt((SELECT SUM(CAST(z.v AS DOUBLE) * CAST(z.v AS DOUBLE))
                        FROM (SELECT UNNEST(b.embedding) AS v) z)), 0) AS cosine_raw
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
    FROM pairs WHERE cosine_raw >= 0.4
    """,
)
def sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: embedding-cosine near-duplicate pairs, blocked on label
    (the cluster id plays the LSH-bucket role for the exact variant)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    from ..operators.similarity import cosine_expr, _as_double

    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        _as_double("embedding").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        _as_double("embedding").alias("vb"),
    )
    return (
        a.join(b, (F.col("label_a") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine_raw"))
        .filter(F.col("cosine_raw") >= 0.4)
        .select("id_a", "id_b", round_det("cosine_raw", 4).alias("cosine"))
    )


_PQ_CTES = f"""    WITH emb_q AS (
      SELECT vec_id, embedding,
             {sql_quantize("embedding")} AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    cents AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER)
               AS j,
             qv AS cv
      FROM emb_q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    subs AS (SELECT unnest(generate_series(0, 7)) AS s),
    cw AS (
      SELECT subs.s, c.j, c.cv[subs.s*8+1 : subs.s*8+8] AS w
      FROM cents c CROSS JOIN subs
    ),
    sv AS (
      SELECT e.vec_id, subs.s, e.qv[subs.s*8+1 : subs.s*8+8] AS v
      FROM emb_q e CROSS JOIN subs
    ),
    enc0 AS (
      SELECT sv.vec_id, sv.s, cw.j,
             (SELECT SUM((x.a - x.b) * (x.a - x.b))
                FROM (SELECT UNNEST(sv.v) AS a, UNNEST(cw.w) AS b) x) AS d
      FROM sv JOIN cw ON cw.s = sv.s
    ),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d ASC, j ASC) AS rn
        FROM enc0) WHERE rn = 1
    ),
    qs AS (
      SELECT e.vec_id AS query_id, subs.s,
             list_transform(e.embedding[subs.s*8+1 : subs.s*8+8],
                            v -> CAST(v AS DOUBLE)) AS q8
      FROM emb_q e CROSS JOIN subs
      WHERE e.vec_id < 10
    ),
    lut AS (
      SELECT qs.query_id, qs.s, cw.j,
             (SELECT SUM(x.a * (x.b / 1000.0))
                FROM (SELECT UNNEST(qs.q8) AS a, UNNEST(cw.w) AS b) x) AS dot
      FROM qs JOIN cw ON cw.s = qs.s
    ),
    scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.dot) AS score_raw
      FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    r AS (
      SELECT query_id, neighbor_id,
             (floor((score_raw) * 10000 + 0.5) / 10000) AS score
      FROM scored
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM r
    )
"""


@query(
    "sim_pq_topk",
    oracle=_PQ_CTES + """
    SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= 5
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: product-quantization ANN (Jégou et al. TPAMI'11, the FAISS
    PQ shape) — 64-dim vectors compressed to 8 nibble codes (16
    codewords per subspace); queries score the corpus through per-query
    lookup tables (asymmetric distance). Portable seed codebooks +
    exact integer encoding make compression AND scoring replayable in
    the oracle; recall vs brute force asserted in tests. See
    operators/similarity.pq_topk."""
    from ..operators.similarity import pq_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "sim_pq_rerank_topk",
    oracle=_PQ_CTES + """,
    short AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 20),
    ex AS (
      SELECT s.query_id, s.neighbor_id,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(q.embedding) AS a, UNNEST(n.embedding) AS b) x)
             / (sqrt((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                        FROM (SELECT UNNEST(q.embedding) AS a) y))
              * sqrt((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                        FROM (SELECT UNNEST(n.embedding) AS b) z))) AS cosine_raw
      FROM short s
      JOIN emb_q q ON q.vec_id = s.query_id
      JOIN emb_q n ON n.vec_id = s.neighbor_id
    ),
    final AS (
      SELECT query_id, neighbor_id, cosine_raw,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank
      FROM ex
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
    FROM final WHERE rank <= 5
    """,
)
def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the two-stage PQ serving shape — PQ shortlists the top 20
    per query through codes alone, then the exact cosine re-ranks ONLY
    those rows (full vectors read for queries×20 ids, not the corpus).
    Shares every CTE with sim_pq_topk's oracle, so the shortlist the
    exact stage consumes is itself the verified PQ ranking."""
    from ..operators.similarity import pq_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, rerank=20
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "dedup_semantic",
    headline=True,
    oracle=f"""
    WITH emb_q AS (
      SELECT vec_id, embedding,
             {sql_quantize("embedding")} AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    cents AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER)
               AS cell,
             qv AS cv
      FROM emb_q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    sims AS (
      SELECT e.vec_id, e.embedding, c.cell,
             (SELECT SUM(x.a * x.b)
                FROM (SELECT UNNEST(e.qv) AS a, UNNEST(c.cv) AS b) x) AS dot
      FROM emb_q e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT vec_id, embedding, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cell ASC) AS rn
        FROM sims) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (SELECT SUM(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                FROM (SELECT UNNEST(a.embedding) AS u, UNNEST(b.embedding) AS v) x)
             / ((sqrt((SELECT SUM(CAST(y.u AS DOUBLE) * CAST(y.u AS DOUBLE))
                        FROM (SELECT UNNEST(a.embedding) AS u) y))
               * sqrt((SELECT SUM(CAST(z.v AS DOUBLE) * CAST(z.v AS DOUBLE))
                        FROM (SELECT UNNEST(b.embedding) AS v) z))))
               AS cosine_raw
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
    FROM pairs WHERE cosine_raw >= 0.4
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: SemDeDup — embedding-space near-duplicate pairs blocked by
    quantizer cell (supervision-free, unlike sim_cosine_neardup's
    label blocking): candidate volume is Σ cell_size², never corpus².
    The IVF seed quantizer makes centroid selection and cell
    assignment exact integer arithmetic, so the oracle replays the
    whole screen. See operators/similarity.semantic_neardup_pairs."""
    from ..operators.similarity import semantic_neardup_pairs

    t = load_tables(spark, sf_dir)
    return semantic_neardup_pairs(
        t["embeddings"], threshold=0.4, n_centroids=16
    )


@query(
    "mm_decode_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
               AS media_type,
             hex(encode(COALESCE(text, ''))) AS h,
             octet_length(encode(COALESCE(text, ''))) AS n_bytes
      FROM documents
    ),
    b AS (
      SELECT media_id,
             CAST(concat('0x', substr(h, i.i * 2 + 1, 2)) AS INT) AS v
      FROM (SELECT media_id, h, unnest(range(0, n_bytes)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value
      FROM b GROUP BY media_id
    )
    SELECT m.media_id, m.media_type, CAST(m.n_bytes AS BIGINT) AS n_bytes,
           (floor((s.mean_raw) * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value
    FROM m LEFT JOIN stats s USING (media_id)
    """,
)
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the decode/integrity pass of the multimodal pipeline,
    oracle-checked — the payload synthesis is deterministic (UTF-8
    bytes), so DuckDB re-derives every byte via hex() and replays the
    Arrow mapInPandas decode-stats kernel value-for-value: byte means
    of integer payloads are exact in float64 (sum ≤ 255·len ≪ 2^53),
    empty/NULL payloads report n_bytes=0 with NULL stats. This turns
    "binary payloads are unverifiable in SQL" into a checked claim for
    the stats half; the float32 feature kernel stays rows-only
    (mm_media_pipeline) with its Arrow-vs-expression identity tests."""
    from ..multimodal.media import decode_stats, synthesize_media

    t = load_tables(spark, sf_dir)
    stats = decode_stats(synthesize_media(t["documents"]))
    return stats.select(
        "media_id",
        "media_type",
        "n_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
    )


@query("mm_media_pipeline", sibling="mm_decode_stats")  # binary payloads — rows-only (no SQL form)
def mm_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: multimodal pipeline — synthesize binary media from
    `documents`, decode-stats each payload, extract fixed-dim features
    (Arrow-batched mapInPandas; deterministic fake codecs)."""
    from ..multimodal.media import decode_stats, extract_features, synthesize_media

    t = load_tables(spark, sf_dir)
    media = synthesize_media(t["documents"])
    stats = decode_stats(media)
    feats = extract_features(media, dim=8)
    return stats.join(feats, "media_id").select(
        "media_id",
        "media_type",
        "n_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        F.size("features").alias("feature_dim"),
    )


@query(
    "mm_bmp_roundtrip_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 5 + 2 AS INT) AS width,
             CAST(doc_id % 3 + 2 AS INT) AS height,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    px AS (
      SELECT media_id,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v,
             i.i AS idx
      FROM (SELECT media_id, hx, n, width, height,
                   unnest(range(0, width * height * 3)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS corner_value
      FROM px GROUP BY media_id
    )
    SELECT m.media_id, m.width, m.height,
           CAST(m.width * m.height * 3 AS BIGINT) AS n_pixel_bytes,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.corner_value
    FROM m JOIN stats s USING (media_id)
    """,
)
def mm_bmp_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the REAL image decode path, oracle-checked end-to-end.
    Each document becomes an actual 24-bit BMP file (real header,
    bottom-up padded BGR rows — `encode_bmp24`), then `bmp_decode_stats`
    parses it back with the dependency-free production decoder:
    dimensions from the header, stats over the decoded RGB array, and
    a positional corner probe that a row-flip or channel-swap bug
    would change. The synthesized pixel rule (text bytes tiled) is
    SQL-replayable, so DuckDB verifies the whole encode→decode
    roundtrip value-for-value without parsing BMP itself. This is the
    image branch of the codec seam made real; WAV (audio) and Y4M
    (video) have equivalent real paths — compressed codecs
    now all have real paths — baseline JPEG and FLAC included
    (mm_jpeg/mm_flac_roundtrip_stats); only inter-frame H.264-family
    video remains a library seam."""
    from ..multimodal.media import bmp_decode_stats, synthesize_bmp_media

    t = load_tables(spark, sf_dir)
    stats = bmp_decode_stats(synthesize_bmp_media(t["documents"]))
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
    )


# ONE oracle for BOTH compressed-image roundtrips (PNG and QOI): the
# two fixture synthesizers share the pixel rule (w=id%4+2, h=id%3+2,
# RGB bytes tiling the text), so the same SQL replay pins both codecs.
_MM_RGB_TILED_ORACLE = """
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 4 + 2 AS INT) AS width,
             CAST(doc_id % 3 + 2 AS INT) AS height,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    px AS (
      SELECT media_id, width, height,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v,
             i.i AS idx
      FROM (SELECT media_id, hx, n, width, height,
                   unnest(range(0, width * height * 3)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS corner_value,
             MAX(CASE WHEN idx = width * height * 3 - 1 THEN v END) AS last_value
      FROM px GROUP BY media_id
    )
    SELECT m.media_id, m.width, m.height, CAST(3 AS INT) AS channels,
           CAST(m.width * m.height * 3 AS BIGINT) AS n_pixel_bytes,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.corner_value, s.last_value
    FROM m JOIN stats s USING (media_id)
    """


@query("mm_png_roundtrip_stats", oracle=_MM_RGB_TILED_ORACLE)
def mm_png_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: a real COMPRESSED codec path, oracle-checked end-to-end.
    Each document becomes an actual 8-bit RGB PNG (`encode_png` —
    CRC-checked chunks, zlib-DEFLATE scanlines, per-row filter
    `(row*7+h)%5` so all five PNG filters occur across the corpus),
    then `png_decode_stats` parses it back with the dependency-free
    production decoder: chunk walk + CRC verify, inflate, and full
    None/Sub/Up/Average/Paeth reconstruction. Two positional probes
    (`corner_value` = first byte, `last_value` = final byte) only
    match if every scanline's filter chain reconstructed exactly. The
    pixel rule (text bytes tiled) is SQL-replayable, so DuckDB checks
    the compress→inflate→unfilter roundtrip without parsing PNG.
    Unlike the BMP/WAV/Y4M paths this one exercises REAL compression
    — with baseline JPEG (mm_jpeg_roundtrip_stats) and FLAC
    (mm_flac_roundtrip_stats) also real, the only remaining
    codec-library seam is H.264."""
    from ..multimodal.media import png_decode_stats, synthesize_png_media

    t = load_tables(spark, sf_dir)
    stats = png_decode_stats(synthesize_png_media(t["documents"]))
    return stats.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
        "last_value",
    )


@query("mm_qoi_roundtrip_stats", oracle=_MM_RGB_TILED_ORACLE)
def mm_qoi_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: a SECOND real compressed image codec, oracle-checked
    end-to-end. Each document becomes an actual QOI file (`encode_qoi`
    — qoiformat.org spec: 64-slot running index, DIFF/LUMA deltas,
    run-length packing; the tiled-text fixtures exercise every op),
    then `qoi_decode_stats` parses it back with the strict
    dependency-free decoder. Shares the PNG roundtrip's oracle (same
    pixel rule), so PNG and QOI are pinned value-for-value to each
    other AND to SQL. Unlike PNG (zlib's C DEFLATE), QOI's compression
    is the algorithm itself — a complete compressed bitstream with no
    library call at all. Map-only; payload bytes never shuffle."""
    from ..multimodal.media import qoi_decode_stats, synthesize_qoi_media

    t = load_tables(spark, sf_dir)
    stats = qoi_decode_stats(synthesize_qoi_media(t["documents"]))
    return stats.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
        "last_value",
    )


@query(
    "mm_jpeg_roundtrip_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 3 + 1 AS INT) AS bx,
             CAST(doc_id % 2 + 1 AS INT) AS by,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    bl AS (
      SELECT media_id, bx, by,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v,
             i.i AS idx
      FROM (SELECT media_id, hx, n, bx, by,
                   unnest(range(0, bx * by)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS corner_value,
             MAX(CASE WHEN idx = bx * by - 1 THEN v END) AS last_value
      FROM bl GROUP BY media_id
    )
    SELECT m.media_id,
           CAST(m.bx * 8 AS INT) AS width,
           CAST(m.by * 8 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(m.bx * 8 * m.by * 8 AS BIGINT) AS n_pixel_bytes,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.corner_value, s.last_value
    FROM m JOIN stats s USING (media_id)
    """,
)
def mm_jpeg_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the LOSSY compressed codec made real AND oracle-exact.
    Each document becomes an actual baseline JPEG (`encode_jpeg` —
    DCT, Annex-K Huffman tables, restart markers every 2 MCUs) in the
    bit-exact regime: grayscale images whose aligned 8x8 blocks are
    constant carry only DC energy, and with a DC quantization step of
    8 the coefficient ``8*(v-128)`` quantizes losslessly, so
    `decode_jpeg` (full entropy decode → dequant → IDCT) returns the
    exact block values. The block rule (block k = text byte k mod
    len) is SQL-replayable, so DuckDB pins the entire
    DCT→Huffman→RSTn→IDCT pipeline value-for-value without parsing
    JPEG. Lossy-regime (general content, quality scaling, 4:2:0)
    tolerance bounds live in tests/test_multimodal.py. Map-only plan:
    payload bytes never cross a shuffle."""
    from ..multimodal.media import jpeg_decode_stats, synthesize_jpeg_media

    t = load_tables(spark, sf_dir)
    stats = jpeg_decode_stats(synthesize_jpeg_media(t["documents"]))
    return stats.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
        "last_value",
    )


@query(
    "mm_wav_roundtrip_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    sm AS (
      SELECT media_id,
             CASE WHEN n = 0 THEN 0
                  ELSE (CAST(concat('0x',
                          substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
                        - 128) * 256
             END AS v,
             i.i AS idx
      FROM (SELECT media_id, hx, n, n_samples,
                   unnest(range(0, n_samples)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS first_sample
      FROM sm GROUP BY media_id
    )
    SELECT m.media_id, m.sample_rate, m.n_samples, CAST(1 AS INT) AS channels,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.first_sample
    FROM m JOIN stats s USING (media_id)
    """,
)
def mm_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the REAL audio decode path, oracle-checked end-to-end.
    Each document becomes an actual RIFF/WAVE PCM-16 file
    (`encode_wav16`), then `wav_decode_stats` parses it back with the
    dependency-free chunk-walking decoder: rate/shape from the header,
    stats over the decoded int16 samples, and a positional
    first-sample probe an endianness or interleave bug would change.
    The synthesized sample rule ((text byte − 128) · 256, tiled —
    always inside int16) is SQL-replayable, so DuckDB verifies the
    whole encode→decode roundtrip without parsing WAV. With
    `mm_bmp_roundtrip_stats` and `mm_y4m_frame_stats` all three media
    branches run real formats; compressed codecs remain library
    seams."""
    from ..multimodal.media import synthesize_wav_media, wav_decode_stats

    t = load_tables(spark, sf_dir)
    stats = wav_decode_stats(synthesize_wav_media(t["documents"]))
    return stats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "channels",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "first_sample",
    )


@query(
    "mm_flac_roundtrip_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    sm AS (
      SELECT media_id,
             CASE WHEN n = 0 THEN 0
                  ELSE (CAST(concat('0x',
                          substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
                        - 128) * 256
             END AS v,
             i.i AS idx, n_samples
      FROM (SELECT media_id, hx, n, n_samples,
                   unnest(range(0, n_samples)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS first_sample,
             MAX(CASE WHEN idx = n_samples - 1 THEN v END) AS last_sample
      FROM sm GROUP BY media_id
    )
    SELECT m.media_id, m.sample_rate, m.n_samples, CAST(1 AS INT) AS channels,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.first_sample, s.last_sample
    FROM m JOIN stats s USING (media_id)
    """,
)
def mm_flac_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: a LOSSLESS compressed audio codec, oracle-checked
    end-to-end. Each document becomes an actual FLAC stream
    (`encode_flac` — fixed predictors chosen per frame by exact Rice
    cost, CRC-8 headers, CRC-16 footers, STREAMINFO MD5), then
    `flac_decode_stats` decodes it back through the dependency-free
    production decoder (full residual reconstruction + every CRC and
    the stream MD5 verified). The fixtures share the WAV sample rule,
    so the SAME SQL replay pins FLAC value-for-value against PCM —
    plus a `last_sample` probe that only matches if every predictor
    step before it reconstructed exactly. With JPEG
    (mm_jpeg_roundtrip_stats) this retires the second of the three
    declared compressed-codec seams; only inter-frame H.264-family
    video remains a library seam. Map-only plan: payload bytes never cross a shuffle."""
    from ..multimodal.media import flac_decode_stats, synthesize_flac_media

    t = load_tables(spark, sf_dir)
    stats = flac_decode_stats(synthesize_flac_media(t["documents"]))
    return stats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "channels",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "first_sample",
        "last_sample",
    )


@query(
    "mm_y4m_frame_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 4 + 1 AS INT) AS nf,
             CAST(doc_id % 5 + 2 AS INT) AS w,
             CAST(doc_id % 3 + 2 AS INT) AS h,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    px AS (
      SELECT media_id, w, h,
             CAST(i.i // (w * h) AS INT) AS frame_index,
             i.i % (w * h) AS off,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v
      FROM (SELECT media_id, hx, n, w, h,
                   unnest(range(0, nf * w * h)) AS i FROM m) i
    )
    SELECT media_id, frame_index, w AS width, h AS height,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MAX(CASE WHEN off = 0 THEN v END) AS first_pixel
    FROM px GROUP BY media_id, frame_index, w, h
    """,
)
def mm_y4m_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the REAL video decode path, per-frame, oracle-checked.
    Each document becomes an actual YUV4MPEG2 clip (`encode_y4m` —
    ASCII parameter header + FRAME markers + raw luma planes, the
    standard uncompressed-video interchange format), then
    `y4m_frame_stats` parses it back and fans out ONE ROW PER FRAME
    with luma stats and a frame-local (0,0) probe — a frame-boundary
    bug shifts every subsequent frame's first_pixel. The synthesized
    luma rule (text bytes tiled across all frames) is SQL-replayable,
    so DuckDB verifies the container roundtrip frame-for-frame. With
    BMP and WAV this makes all three media branches real formats;
    compressed codecs are real too (PNG/QOI/JPEG/FLAC/MJPG);
    only inter-frame H.264-family video remains a library seam."""
    from ..multimodal.media import synthesize_y4m_media, y4m_frame_stats

    t = load_tables(spark, sf_dir)
    stats = y4m_frame_stats(synthesize_y4m_media(t["documents"]), every_n=1)
    return stats.select(
        "media_id",
        "frame_index",
        "width",
        "height",
        round_det("mean_value", 4).alias("mean_value"),
        "first_pixel",
    )


@query(
    "mm_mjpeg_frame_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 3 + 1 AS INT) AS nf,
             CAST(doc_id % 2 + 1 AS INT) AS bx,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    bl AS (
      SELECT media_id, bx,
             CAST(i.i // bx AS INT) AS frame_index,
             i.i % bx AS off,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v
      FROM (SELECT media_id, hx, n, nf, bx,
                   unnest(range(0, nf * bx)) AS i FROM m) i
    )
    SELECT media_id, frame_index,
           CAST(bx * 8 AS INT) AS width, CAST(8 AS INT) AS height,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MAX(CASE WHEN off = 0 THEN v END) AS first_pixel
    FROM bl GROUP BY media_id, frame_index, bx
    """,
)
def mm_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: COMPRESSED video, per-frame, oracle-exact. Each document
    becomes a real Motion-JPEG AVI (`encode_mjpeg_avi` — RIFF
    container with spec-shaped avih/strh/strf headers, one complete
    baseline JPEG per '00dc' chunk) in the bit-exact block-constant
    DC-quant-8 regime, then `mjpeg_frame_stats` walks the container
    back, entropy-decodes every frame, and fans out ONE ROW PER FRAME
    with a frame-local (0,0) probe — a chunk-walk or frame-boundary
    bug shifts every subsequent frame's first_pixel. The block rule
    is SQL-replayable, so DuckDB pins the whole
    container→Huffman→IDCT pipeline frame-for-frame. With this the
    video branch has BOTH an uncompressed (Y4M) and a compressed
    (MJPG) real format; the only remaining media seam is inter-frame
    H.264. Map-only plan: payload bytes never cross a shuffle."""
    from ..multimodal.media import mjpeg_frame_stats, synthesize_mjpeg_media

    t = load_tables(spark, sf_dir)
    stats = mjpeg_frame_stats(synthesize_mjpeg_media(t["documents"]))
    return stats.select(
        "media_id",
        "frame_index",
        "width",
        "height",
        round_det("mean_value", 4).alias("mean_value"),
        "first_pixel",
    )


@query(
    "mm_video_front_door",
    oracle="""
    WITH ym AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 4 + 1 AS INT) AS nf,
             CAST(doc_id % 5 + 2 AS INT) AS w,
             CAST(doc_id % 3 + 2 AS INT) AS h,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents WHERE doc_id % 2 = 0
    ),
    ypx AS (
      SELECT media_id, w, h,
             CAST(i.i // (w * h) AS INT) AS frame_index,
             i.i % (w * h) AS off,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v
      FROM (SELECT media_id, hx, n, w, h,
                   unnest(range(0, nf * w * h)) AS i FROM ym) i
    ),
    yrows AS (
      SELECT media_id, frame_index, w AS width, h AS height,
             (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
             MAX(CASE WHEN off = 0 THEN v END) AS first_pixel
      FROM ypx GROUP BY media_id, frame_index, w, h
    ),
    jm AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 3 + 1 AS INT) AS nf,
             CAST(doc_id % 2 + 1 AS INT) AS bx,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents WHERE doc_id % 2 = 1
    ),
    jbl AS (
      SELECT media_id, bx,
             CAST(i.i // bx AS INT) AS frame_index,
             i.i % bx AS off,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v
      FROM (SELECT media_id, hx, n, nf, bx,
                   unnest(range(0, nf * bx)) AS i FROM jm) i
    ),
    jrows AS (
      SELECT media_id, frame_index,
             CAST(bx * 8 AS INT) AS width, CAST(8 AS INT) AS height,
             (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
             MAX(CASE WHEN off = 0 THEN v END) AS first_pixel
      FROM jbl GROUP BY media_id, frame_index, bx
    )
    SELECT media_id, 'y4m' AS container, 'rawvideo' AS codec,
           frame_index, width, height, mean_value, first_pixel
    FROM yrows
    UNION ALL
    SELECT media_id, 'avi' AS container, 'MJPG' AS codec,
           frame_index, width, height, mean_value, first_pixel
    FROM jrows
    """,
)
def mm_video_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the SNIFFING video front door itself, oracle-exact over a
    genuinely MIXED corpus — even doc_ids become real Y4M clips, odd
    ones real Motion-JPEG AVIs (bit-exact DC-quant-8 regime), and ONE
    `video_frame_stats` pass sniffs each payload's container by magic
    and dispatches to the right decoder. The output carries the
    sniffed (container, codec) per row, so a mis-sniff (or a dispatch
    to the wrong decoder) hash-mismatches — this pins the DISPATCH,
    where mm_y4m/mm_mjpeg_frame_stats pin the decoders individually.
    H.264-family payloads would surface as quarantine rows (fixture-
    tested in tests/test_multimodal.py); none exist in this corpus, so
    every row decodes. Map-only: mixed payload bytes never cross a
    shuffle."""
    from ..multimodal.media import (
        synthesize_mjpeg_media,
        synthesize_y4m_media,
        video_frame_stats,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    mixed = synthesize_y4m_media(
        docs.where(F.col("doc_id") % 2 == 0)
    ).unionByName(synthesize_mjpeg_media(docs.where(F.col("doc_id") % 2 == 1)))
    stats = video_frame_stats(mixed)
    return stats.select(
        "media_id",
        "container",
        "codec",
        "frame_index",
        "width",
        "height",
        round_det("mean_value", 4).alias("mean_value"),
        "first_pixel",
    )


@query(
    "mm_resize_bmp_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 5 + 2 AS INT) AS w,
             CAST(doc_id % 3 + 2 AS INT) AS h,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    px AS (
      SELECT media_id, i.i AS idx,
             least(CAST(floor(((i.i // 12) + 0.5) * h / 3.0) AS INT), h - 1) AS sy,
             least(CAST(floor((((i.i // 3) % 4) + 0.5) * w / 4.0) AS INT), w - 1) AS sx,
             CAST(i.i % 3 AS INT) AS c, w, n, hx
      FROM (SELECT media_id, hx, n, w, h, unnest(range(0, 36)) AS i FROM m) i
    ),
    v AS (
      SELECT media_id, idx,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(((sy * w + sx) * 3 + c) % n AS INT) * 2 + 1, 2))
                       AS INT)
             END AS v
      FROM px
    )
    SELECT media_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
           CAST(36 AS BIGINT) AS n_pixel_bytes,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MIN(v) AS min_value, MAX(v) AS max_value,
           MAX(CASE WHEN idx = 0 THEN v END) AS corner_value
    FROM v GROUP BY media_id
    """,
)
def mm_resize_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: REAL image resize, oracle-checked end-to-end. Synthesized
    BMPs (2-6 × 2-4 px, so up- AND down-scaling both occur) resize to
    a fixed 4×3 with `resize_bmp` (nearest-neighbor center sampling,
    PIL-NEAREST's floor((i+0.5)·src/out) rule), and the OUTPUT — a
    valid BMP file — is decoded back by `bmp_decode_stats`. DuckDB
    replays the index math per output pixel, so decode→resample→
    re-encode→decode matches value-for-value; the corner probe pins
    the geometry (a transposed or off-by-half index rule changes it).
    Map-only: payload bytes never cross a shuffle."""
    from ..multimodal.media import (
        bmp_decode_stats,
        resize_bmp,
        synthesize_bmp_media,
    )

    t = load_tables(spark, sf_dir)
    resized = resize_bmp(synthesize_bmp_media(t["documents"]), 4, 3)
    stats = bmp_decode_stats(resized.select("media_id", "content"))
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
    )


@query(
    "mm_transcode_png_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 5 + 2 AS INT) AS width,
             CAST(doc_id % 3 + 2 AS INT) AS height,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    px AS (
      SELECT media_id, width, height,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS v,
             i.i AS idx
      FROM (SELECT media_id, hx, n, width, height,
                   unnest(range(0, width * height * 3)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS corner_value,
             MAX(CASE WHEN idx = width * height * 3 - 1 THEN v END) AS last_value
      FROM px GROUP BY media_id
    )
    SELECT m.media_id, m.width, m.height, CAST(3 AS INT) AS channels,
           CAST(m.width * m.height * 3 AS BIGINT) AS n_pixel_bytes,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.corner_value, s.last_value
    FROM m JOIN stats s USING (media_id)
    """,
)
def mm_transcode_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: image format normalization, oracle-checked end-to-end. The
    synthesized BMP corpus runs through `transcode_image(target='png')`
    (magic-sniffed decode, PNG re-encode — the mixed-corpus
    normalization step before training ingest), and the OUTPUT PNGs
    decode back through `png_decode_stats` (CRC chunk walk, inflate,
    all five filters). The oracle replays the source BMP pixel rule:
    values survive BMP-encode → BMP-decode → PNG-encode (real
    DEFLATE) → PNG-decode exactly, with first/last byte probes pinning
    geometry and filter reconstruction. Map-only end to end."""
    from ..multimodal.media import (
        png_decode_stats,
        synthesize_bmp_media,
        transcode_image,
    )

    t = load_tables(spark, sf_dir)
    pngs = transcode_image(synthesize_bmp_media(t["documents"]), target="png")
    stats = png_decode_stats(pngs.select("media_id", "content"))
    return stats.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
        "last_value",
    )


@query(
    "mm_transcode_flac_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    sm AS (
      SELECT media_id,
             CASE WHEN n = 0 THEN 0
                  ELSE (CAST(concat('0x',
                          substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
                        - 128) * 256
             END AS v,
             i.i AS idx
      FROM (SELECT media_id, hx, n, n_samples,
                   unnest(range(0, n_samples)) AS i FROM m) i
    ),
    stats AS (
      SELECT media_id, AVG(v) AS mean_raw,
             MIN(v) AS min_value, MAX(v) AS max_value,
             MAX(CASE WHEN idx = 0 THEN v END) AS first_sample
      FROM sm GROUP BY media_id
    )
    SELECT m.media_id, m.sample_rate, m.n_samples, CAST(1 AS INT) AS channels,
           (floor(s.mean_raw * 10000 + 0.5) / 10000) AS mean_value,
           s.min_value, s.max_value, s.first_sample
    FROM m JOIN stats s USING (media_id)
    """,
)
def mm_transcode_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: audio format normalization, oracle-checked end-to-end. The
    synthesized FLAC corpus runs through `transcode_audio('wav')`
    (magic-sniffed decode — full FLAC residual reconstruction + CRC +
    MD5 verification — then PCM-16 re-encode: the mixed-corpus
    normalization step that lets FLAC assets reach every WAV-consuming
    operator, e.g. `resample_wav`), and the OUTPUT WAVs decode back
    through `wav_decode_stats`. The oracle replays the shared sample
    rule: values survive FLAC-encode → FLAC-decode → WAV-encode →
    WAV-decode exactly (both codecs lossless). Map-only end to end."""
    from ..multimodal.media import (
        synthesize_flac_media,
        transcode_audio,
        wav_decode_stats,
    )

    t = load_tables(spark, sf_dir)
    wavs = transcode_audio(synthesize_flac_media(t["documents"]), target="wav")
    stats = wav_decode_stats(wavs.select("media_id", "content"))
    return stats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "channels",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "first_sample",
    )


@query(
    "mm_resample_wav_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
             CAST(doc_id % 50 + 10 AS BIGINT) AS n_src,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    o AS (
      SELECT *, CAST(floor(n_src * 8000.0 / rate + 0.5) AS BIGINT) AS out_n FROM m
    ),
    sm AS (
      SELECT media_id, out_n, i.i AS idx,
             least(CAST(floor((i.i + 0.5) * n_src / CAST(out_n AS DOUBLE)) AS BIGINT),
                   n_src - 1) AS j,
             hx, n
      FROM (SELECT media_id, hx, n, n_src, out_n,
                   unnest(range(0, out_n)) AS i FROM o) i
    ),
    v AS (
      SELECT media_id, out_n, idx,
             CASE WHEN n = 0 THEN 0
                  ELSE (CAST(concat('0x',
                          substr(hx, CAST(j % n AS INT) * 2 + 1, 2)) AS INT)
                        - 128) * 256
             END AS v
      FROM sm
    )
    SELECT media_id, CAST(8000 AS INT) AS sample_rate,
           out_n AS n_samples, CAST(1 AS INT) AS channels,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MIN(v) AS min_value, MAX(v) AS max_value,
           MAX(CASE WHEN idx = 0 THEN v END) AS first_sample
    FROM v GROUP BY media_id, out_n
    """,
)
def mm_resample_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: REAL audio resample, oracle-checked end-to-end. The
    synthesized 8/12/16 kHz PCM-16 corpus resamples to a uniform
    8 kHz with `resample_wav` (nearest-sample zero-order hold on the
    shared `_nn_index` rule; out_n = floor(n·8000/rate + 0.5) — the
    repo's half-up convention, never round(): Python banker's
    rounding and DuckDB's half-away diverge on .5 ties), and
    the OUTPUT — a valid WAV — decodes back through
    `wav_decode_stats`. The first-sample probe pins the index rule;
    identity (8 kHz→8 kHz), downsample (16→8) and fractional (12→8)
    paths all occur across the corpus. Map-only."""
    from ..multimodal.media import (
        resample_wav,
        synthesize_wav_media,
        wav_decode_stats,
    )

    t = load_tables(spark, sf_dir)
    res = resample_wav(synthesize_wav_media(t["documents"]), 8000)
    stats = wav_decode_stats(res.select("media_id", "content"))
    return stats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "channels",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "first_sample",
    )


@query(
    "mm_y4m_to_bmp_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 4 + 1 AS INT) AS nf,
             CAST(doc_id % 5 + 2 AS INT) AS w,
             CAST(doc_id % 3 + 2 AS INT) AS h,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    fr AS (
      SELECT media_id, w, h, hx, n, CAST(f.f AS INT) AS f
      FROM (SELECT media_id, w, h, hx, n, unnest(range(0, nf)) AS f FROM m) f
      WHERE f.f % 2 = 0
    ),
    px AS (
      SELECT media_id, f, w, h, i.i AS off,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST((f * w * h + i.i) % n AS INT) * 2 + 1, 2))
                       AS INT)
             END AS v
      FROM (SELECT media_id, f, w, h, hx, n,
                   unnest(range(0, w * h)) AS i FROM fr) i
    )
    SELECT CAST(media_id * 8 + f AS BIGINT) AS media_id,
           w AS width, h AS height,
           CAST(w * h * 3 AS BIGINT) AS n_pixel_bytes,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MIN(v) AS min_value, MAX(v) AS max_value,
           MAX(CASE WHEN off = 0 THEN v END) AS corner_value
    FROM px GROUP BY media_id, f, w, h
    """,
)
def mm_y4m_to_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the video→image bridge, oracle-checked end-to-end.
    Synthesized Y4M clips fan out through `y4m_frames_to_bmp`
    (every_n=2 — real frame sampling), each kept frame becoming a
    standalone 24-bit BMP (luma replicated to RGB) that decodes back
    through `bmp_decode_stats`. Frame rows get a composite id
    (media_id·8 + frame_index; nf ≤ 4 so no collisions) before the
    image pass, proving the bridge's 1→N output feeds the IMAGE
    pipeline unchanged. The oracle replays the frame pixel rule for
    even frames only — a frame-sampling or luma-replication bug
    changes mean and corner both. Map-only: clip and frame payloads
    never cross a shuffle."""
    from ..multimodal.media import (
        bmp_decode_stats,
        synthesize_y4m_media,
        y4m_frames_to_bmp,
    )

    t = load_tables(spark, sf_dir)
    frames = y4m_frames_to_bmp(synthesize_y4m_media(t["documents"]), every_n=2)
    bmps = frames.select(
        (F.col("media_id") * 8 + F.col("frame_index")).alias("media_id"),
        "content",
    )
    stats = bmp_decode_stats(bmps)
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
    )


@query(
    "mm_mjpeg_to_bmp_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 3 + 1 AS INT) AS nf,
             CAST(doc_id % 2 + 1 AS INT) AS bx,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    fr AS (
      SELECT media_id, bx, hx, n, CAST(f.f AS INT) AS f
      FROM (SELECT media_id, bx, hx, n, unnest(range(0, nf)) AS f FROM m) f
      WHERE f.f % 2 = 0
    ),
    bl AS (
      SELECT media_id, f, bx, i.i AS off,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST((f * bx + i.i) % n AS INT) * 2 + 1, 2))
                       AS INT)
             END AS v
      FROM (SELECT media_id, f, bx, hx, n,
                   unnest(range(0, bx)) AS i FROM fr) i
    )
    SELECT CAST(media_id * 4 + f AS BIGINT) AS media_id,
           CAST(bx * 8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(bx * 8 * 8 * 3 AS BIGINT) AS n_pixel_bytes,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MIN(v) AS min_value, MAX(v) AS max_value,
           MAX(CASE WHEN off = 0 THEN v END) AS corner_value
    FROM bl GROUP BY media_id, f, bx
    """,
)
def mm_mjpeg_to_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the COMPRESSED-video→image bridge, oracle-checked
    end-to-end. Synthesized MJPG AVIs (bit-exact DC8 regime) fan out
    through `mjpeg_frames_to_bmp` (every_n=2 — real frame sampling),
    each kept frame becoming a standalone 24-bit BMP that decodes
    back through `bmp_decode_stats` — so an entropy-coded video
    corpus reaches the image operators (and image_features → ANN) in
    two map-only hops, all value-pinned by SQL. Frame rows get a
    composite id (media_id·4 + frame_index; nf ≤ 3 so no collisions).
    The oracle replays the even frames' block rule; a chunk-walk,
    Huffman, frame-sampling or gray→RGB bug changes mean and corner
    both. Map-only: clip and frame payloads never cross a shuffle."""
    from ..multimodal.media import (
        bmp_decode_stats,
        mjpeg_frames_to_bmp,
        synthesize_mjpeg_media,
    )

    t = load_tables(spark, sf_dir)
    frames = mjpeg_frames_to_bmp(
        synthesize_mjpeg_media(t["documents"]), every_n=2
    )
    bmps = frames.select(
        (F.col("media_id") * 4 + F.col("frame_index")).alias("media_id"),
        "content",
    )
    stats = bmp_decode_stats(bmps)
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_pixel_bytes",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "corner_value",
    )


@query(
    "mm_mulaw_roundtrip_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS n
      FROM documents
    ),
    sm AS (
      SELECT media_id, i.i AS idx,
             CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x',
                         substr(hx, CAST(i.i % n AS INT) * 2 + 1, 2)) AS INT)
             END AS code
      FROM (SELECT media_id, hx, n, n_samples,
                   unnest(range(0, n_samples)) AS i FROM m) i
    ),
    dec AS (
      SELECT media_id, idx,
             (((255 - code) & 15) * 8 + 132)
               * CAST(pow(2, ((255 - code) >> 4) & 7) AS INT) AS t,
             (255 - code) AS u
      FROM sm
    ),
    v AS (
      SELECT media_id, idx,
             CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END AS v
      FROM dec
    )
    SELECT m.media_id, CAST(8000 AS INT) AS sample_rate,
           m.n_samples, CAST(1 AS INT) AS channels,
           (floor(AVG(v) * 10000 + 0.5) / 10000) AS mean_value,
           MIN(v) AS min_value, MAX(v) AS max_value,
           MAX(CASE WHEN idx = 0 THEN v END) AS first_sample
    FROM v JOIN m USING (media_id)
    GROUP BY m.media_id, m.n_samples
    """,
)
def mm_mulaw_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the REAL compressed-audio codec (ITU-T G.711 mu-law,
    WAVE_FORMAT_MULAW tag 7) under the driver's hash gate. Each
    document becomes a mu-law WAV whose samples sit exactly on the
    codebook (`synthesize_mulaw_media`: tiled text bytes AS codes,
    expanded by `mulaw_decode`), `encode_wav_mulaw` compresses 2:1,
    and `wav_decode_stats` → `decode_wav16` expands tag-7 data back
    transparently. The oracle replays the Sun-g711.c expansion in
    pure SQL integer math — sign fold, mantissa, exponent shift — so
    the companding law itself is value-checked cross-engine, not just
    pytest-pinned. Map-only."""
    from ..multimodal.media import synthesize_mulaw_media, wav_decode_stats

    t = load_tables(spark, sf_dir)
    stats = wav_decode_stats(synthesize_mulaw_media(t["documents"]))
    return stats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "channels",
        round_det("mean_value", 4).alias("mean_value"),
        "min_value",
        "max_value",
        "first_sample",
    )


def _sim_ivf_oracle(train_where: str = "") -> str:
    """Oracle for sim_ivf_topk: the md5 integer seed centroids, exact
    integer-dot cell assignment and nprobe=4 probe ranking (ties to the
    lowest cell), then cosine top-5. ``train_where`` restricts which
    vectors are eligible as seeds (empty = all; a predicate = the
    stale-centroid appended-index regime of sim_ivf_append_recall)."""
    return f"""
WITH emb_q AS (
  SELECT vec_id, embedding,
         {sql_quantize("embedding")} AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
cents AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER)
           AS cell,
         qv AS cv
  FROM emb_q {train_where}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
sims AS (
  SELECT e.vec_id, e.embedding, c.cell,
         (SELECT SUM(x.a * x.b)
            FROM (SELECT UNNEST(e.qv) AS a, UNNEST(c.cv) AS b) x) AS dot
  FROM emb_q e CROSS JOIN cents c
),
ranked_cells AS (
  SELECT vec_id, embedding, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot DESC, cell ASC) AS rn
  FROM sims
),
assigned AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, cell
  FROM ranked_cells WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_vec, cell
  FROM ranked_cells WHERE vec_id < 10 AND rn <= 4
),
scored AS (
  SELECT p.query_id, n.neighbor_id,
         (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
            FROM (SELECT UNNEST(p.q_vec) AS a, UNNEST(n.c_vec) AS b) x)
         / (sqrt((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                    FROM (SELECT UNNEST(p.q_vec) AS a) y))
          * sqrt((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                    FROM (SELECT UNNEST(n.c_vec) AS b) z))) AS cosine_raw
  FROM probes p JOIN assigned n
    ON n.cell = p.cell AND n.neighbor_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
FROM ranked WHERE rank <= 5
"""


_SIM_IVF_ORACLE = _sim_ivf_oracle()


@query("sim_ivf_topk", headline=True, oracle=_SIM_IVF_ORACLE)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: IVF ANN — the FAISS-IVF shape on DataFrames: 16 coarse
    cells, probe the 4 closest per query (~1/4 of the corpus scored).
    Centroid selection is an md5-ordered top-K (discrete), cell
    assignment and probe ranking are exact integer dot products over
    quantized vectors, so DuckDB re-derives the centroids from the same
    table and replays assignment → probe → cosine → top-k
    value-for-value. See operators/similarity.ivf_topk."""
    from ..operators.similarity import ivf_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4
    ).withColumn("rank", F.col("rank").cast("int"))


def _recall_oracle(approx_sql: str) -> str:
    """Recall@5 of an approximate retrieval pipeline against the exact
    brute-force top-5, per query — both pipelines embedded verbatim as
    nested CTEs, so the recall CONTRACT inherits their exactness."""
    return f"""
    WITH bf AS ({_SIM_ORACLE}),
    ap AS ({approx_sql}),
    hits AS (
      SELECT b.query_id,
             CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM bf b LEFT JOIN ap a
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY b.query_id
    )
    SELECT query_id, n_hits,
           (floor((CAST(n_hits AS DOUBLE) / 5.0) * 10000 + 0.5) / 10000)
             AS recall_at_5
    FROM hits
    """


def _recall_vs_bruteforce(spark, sf_dir, approx_builder) -> DataFrame:
    from ..operators.similarity import brute_force_topk as _bf

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 10)
    exact = _bf(corpus=emb, queries=q, k=5).select("query_id", "neighbor_id")
    approx = approx_builder(emb, q).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    per_q = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"))
    )
    return per_q.select(
        "query_id",
        "n_hits",
        round_det(F.col("n_hits") / 5.0, 4).alias("recall_at_5"),
    )


@query("sim_ivf_recall", oracle=_recall_oracle(_SIM_IVF_ORACLE))
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: recall@5 of the IVF retrieval (nprobe=4 of 16
    cells) against exact brute force, PER QUERY — the
    approximation-quality contract for the ANN scale path, as an
    oracle-checked catalog row rather than a test-only assertion. Both
    pipelines are the already-pinned catalog queries; this measures the
    thing a 100 TB user actually tunes (nprobe vs recall) and pins that
    the measurement itself is engine-independent."""
    from ..operators.similarity import ivf_topk

    return _recall_vs_bruteforce(
        spark,
        sf_dir,
        lambda emb, q: ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4),
    )


@query("sim_lsh_recall", oracle=_recall_oracle(_sim_lsh_oracle()))
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: recall@5 of the LSH retrieval (4 integer hyperplanes,
    16 buckets) against exact brute force, per query — the same
    approximation-quality contract as sim_ivf_recall for the
    bucket-pruned path. LSH recall is expected to be the lossier of
    the two at equal candidate budgets; pinning both makes the
    trade-off a verified number instead of folklore."""
    from ..operators.similarity import lsh_bucketed_topk

    return _recall_vs_bruteforce(
        spark,
        sf_dir,
        lambda emb, q: lsh_bucketed_topk(corpus=emb, queries=q, k=5, n_planes=4),
    )


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(COALESCE(len(w), 0)) AS avgdl FROM toks
    ),
    ex AS (
      SELECT doc_id, COALESCE(len(w), 0) AS dl, unnest(w) AS term FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM ex WHERE term IN ('dup', 'vector', 'stream')
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    lscored AS (
      SELECT tf.doc_id,
             SUM( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                  * (tf.tf * (1.2 + 1.0))
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
             ) AS score_raw
      FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    lr AS (
      SELECT doc_id, (floor((score_raw) * 10000 + 0.5) / 10000) AS score
      FROM lscored
    ),
    lex AS (
      SELECT doc_id, CAST(rank_lex AS INTEGER) AS rank_lex FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_lex
        FROM lr
      ) WHERE rank_lex <= 20
    ),
    q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    sscored AS (
      SELECT e.vec_id AS doc_id,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(q.q_vec) AS a, UNNEST(e.embedding) AS b) x)
             / (sqrt((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                        FROM (SELECT UNNEST(q.q_vec) AS a) y))
              * sqrt((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                        FROM (SELECT UNNEST(e.embedding) AS b) z))) AS cosine_raw
      FROM q, embeddings e
      WHERE e.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, CAST(rank_sem AS INTEGER) AS rank_sem FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine_raw DESC, doc_id ASC)
                 AS rank_sem
        FROM sscored
      ) WHERE rank_sem <= 20
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.rank_lex, s.rank_sem,
             (floor((COALESCE(1.0 / (60 + l.rank_lex), 0)
                     + COALESCE(1.0 / (60 + s.rank_sem), 0)) * 1000000 + 0.5)
              / 1000000) AS rrf_score
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ),
    ranked AS (
      SELECT doc_id, rank_lex, rank_sem, rrf_score,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                  AS INTEGER) AS rank
      FROM fused
    )
    SELECT doc_id, rank_lex, rank_sem, rrf_score, rank
    FROM ranked WHERE rank <= 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: hybrid retrieval (operators/search.hybrid_rrf_topk) —
    BM25 top-20 for {dup, vector, stream} fused with the exact cosine
    top-20 for query vector 0 via Reciprocal Rank Fusion
    (1/(60+rank)), top-10 overall. The two retrievals keep their
    scale shapes; the fusion layer is constant-size (2·k_each rows),
    and ranking is on the rounded fused score so the oracle replays
    the order exactly."""
    from ..operators.search import hybrid_rrf_topk

    t = load_tables(spark, sf_dir)
    return hybrid_rrf_topk(
        t["documents"], t["embeddings"], ["dup", "vector", "stream"],
        query_vec_id=0, k=10, k_each=20,
    )


@query(
    "search_phrase_match",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    counted AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN
               CAST(len(list_filter(range(1, len(w)),
                        i -> w[i:i+1] = ['table', 'hash'])) AS BIGINT)
             ELSE 0 END AS n_occurrences
      FROM toks
    )
    SELECT doc_id, n_occurrences FROM counted WHERE n_occurrences > 0
    """,
)
def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: exact consecutive-phrase matching
    (operators/search.phrase_count_expr) — the positional-postings
    primitive behind contamination audits and quote detection,
    expressed as a pure in-row slice comparison: a zero-shuffle
    map-only corpus scan at any scale."""
    from ..operators.search import phrase_count_expr

    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        phrase_count_expr(F.col("text"), ["table", "hash"]).alias(
            "n_occurrences"
        ),
    ).where(F.col("n_occurrences") > 0)


@query(
    "source_quota_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {sql_hash_bucket("doc_id", 100000)}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS source_seq
    FROM ranked WHERE rn <= 15
    """,
)
def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: per-source quota capping — keep at most 15 documents per
    source, chosen by the portable md5 hash order (deterministic,
    repartition-stable, engine-replayable), the source-balancing step
    that stops one crawl dump from dominating a mixture. One window
    shuffle keyed on source; the hash order makes the kept subset a
    uniform sample of each source rather than a prefix of its storage
    order."""
    from pyspark.sql import Window as W

    from ..operators.pipeline import portable_hash_bucket

    t = load_tables(spark, sf_dir)
    w = W.partitionBy("source").orderBy(
        portable_hash_bucket(F.col("doc_id"), 100000), F.col("doc_id")
    )
    return (
        t["documents"]
        .select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("source_seq"),
        )
        .where(F.col("source_seq") <= 15)
    )


# Shared model-quality-score CTEs (lockstep with
# functions.text.model_quality_expr): `base` computes the raw text
# features, `scored` the 4dp sigmoid score. Single source for every
# oracle that consumes the frozen quality model.
_SQL_MODEL_SCORE_CTES = f"""
    base AS (
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
    scored AS (
      SELECT doc_id,
             (floor((1.0 / (1.0 + exp(-(
                -2.0 + 3.0 * least(n_tok / 100.0, 1.0)
                     + 2.0 * least((n_stop / greatest(n_tok, 1)) * 5.0, 1.0)
                     - 4.0 * (n_punct / n_chars_nz)
                     + 1.0 * least((n_wchars / greatest(n_tok, 1)) / 8.0, 1.0)
             )))) * 10000 + 0.5) / 10000) AS model_score
      FROM base
    )"""


@query(
    "quality_importance_sample",
    oracle=f"""
    WITH {_SQL_MODEL_SCORE_CTES},
    weighted AS (
      SELECT doc_id, model_score,
             (floor(least(exp(4.0 * (model_score - 0.5)), 1.0) * 10000 + 0.5)
              / 10000) AS p_accept,
             {sql_hash_bucket("doc_id", 10000)} AS draw
      FROM scored
    )
    SELECT doc_id, model_score, p_accept
    FROM weighted WHERE draw < p_accept * 10000
    """,
)
def quality_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: quality-temperature importance resampling (the DSIR-shaped
    accept/reject step): p_accept = min(exp(λ·(score − 0.5)), 1) under
    the frozen-weight quality model, decided by the portable md5 draw
    — so high-quality documents are kept, low-quality ones are kept
    with exponentially decaying probability, and the subsample is
    deterministic, repartition-stable, and engine-replayable. Pure
    map-side expressions: zero shuffle at any scale."""
    from ..functions.text import model_quality_expr
    from ..operators.pipeline import portable_hash_bucket

    t = load_tables(spark, sf_dir)
    score = model_quality_expr(F.col("text"))
    p_accept = round_det(
        F.least(F.exp(4.0 * (score - 0.5)), F.lit(1.0)), 4
    )
    draw = portable_hash_bucket(F.col("doc_id"), 10000)
    return (
        t["documents"]
        .select(
            "doc_id",
            score.alias("model_score"),
            p_accept.alias("p_accept"),
            draw.alias("draw"),
        )
        .where(F.col("draw") < F.col("p_accept") * 10000)
        .drop("draw")
    )


@query(
    "quality_budget_select",
    oracle=f"""
    WITH {_SQL_MODEL_SCORE_CTES},
    toks AS (
      SELECT s.doc_id,
             CAST(floor(s.model_score * 1000 + 0.5) AS BIGINT) AS quality_pm,
             CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
      FROM scored s JOIN documents USING (doc_id)
      WHERE text IS NOT NULL
    ),
    ordered AS (
      SELECT doc_id, quality_pm, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY quality_pm DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, quality_pm, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ordered WHERE cum_tokens <= 10000
    """,
)
def quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: token-budget-constrained corpus selection — the global
    quality-ordered prefix (frozen model score DESC, doc_id ASC) whose
    running token total fits a 10k-token budget; "fill the training
    budget with the best tokens first". The ORACLE is the naive
    one-task global running-sum window; the engine decomposes it into
    a bounded cross-bucket prefix (≤1001 per-mille quality buckets)
    plus ONE keyed within-bucket window (operators/pipeline.
    budget_select — the surrogate_keys split-the-sort idea), and the
    all-integer output pins the decomposition exactly equal to the
    naive form."""
    from ..operators.pipeline import budget_select

    t = load_tables(spark, sf_dir)
    return budget_select(t["documents"], 10000)


# Shared DSIR oracle CTEs (Xie et al. 2023 hashed n-gram importance
# weights — word unigrams + bigrams, integer bit-cost form — lockstep with
# operators.pipeline.dsir_gram_weights / dsir_doc_logweights; the 1024
# matches DSIR_BUCKETS, the 'en' predicate the catalog target).
_SQL_DSIR_CTES = f"""
    dsir_toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS ts FROM documents),
    dsir_grams AS (
      SELECT doc_id, lang,
             {sql_hash_bucket("gram", 1024)} AS bucket
      FROM (SELECT doc_id, lang, unnest(ts) AS gram FROM dsir_toks
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(ts)),
                          i -> ts[i] || ' ' || ts[i+1])) AS gram
            FROM dsir_toks)
    ),
    dsir_counts AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS ct
      FROM dsir_grams GROUP BY 1
    ),
    dsir_tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
      FROM dsir_counts
    ),
    dsir_wt AS (
      SELECT bucket,
             CAST((length(bin(ct + 1)) - length(bin(tt + 1024))) -
                  (length(bin(cr + 1)) - length(bin(tr + 1024)))
               AS BIGINT) AS s
      FROM dsir_counts CROSS JOIN dsir_tot
    ),
    dsir_doclw AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(w.s) AS BIGINT) AS lw_bits
      FROM dsir_grams g JOIN dsir_wt w USING (bucket)
      GROUP BY g.doc_id
    )"""


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_SQL_DSIR_CTES}
    SELECT doc_id, n_grams, lw_bits FROM dsir_doclw
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: DSIR proper (Xie et al. 2023, arXiv:2302.03169) — per-doc
    integer log-importance of the raw corpus toward the lang='en'
    TARGET distribution, from learned hashed n-gram (unigram+bigram)
    bucket weights
    (operators/pipeline.dsir_gram_weights). Learn = one corpus scan
    aggregated to 1024 bucket rows (the only thing that crosses to the
    driver); apply = map-only in-row fold under the broadcast weight
    array — zero shuffle, scan-speed at 100 TB. Integer bit-cost
    scores keep every weight and doc score cross-engine exact; the
    oracle replays both passes as CTEs."""
    from ..operators.pipeline import dsir_doc_logweights, dsir_gram_weights

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    weights = dsir_gram_weights(
        docs.withColumn("__is_t", F.col("lang") == "en"), "__is_t"
    )
    return dsir_doc_logweights(docs, weights)


@query(
    "dsir_resample",
    headline=True,
    oracle=f"""
    WITH {_SQL_DSIR_CTES},
    dsir_mx AS (SELECT MAX(lw_bits) AS max_lw FROM dsir_doclw),
    dsir_dec AS (
      SELECT d.doc_id, d.n_grams, d.lw_bits,
             CAST(floor((d.lw_bits - m.max_lw) / 4.0) AS INTEGER)
               AS accept_exp,
             {sql_hash_bucket("'dsir:' || CAST(d.doc_id AS VARCHAR)", 65536)}
               AS draw
      FROM dsir_doclw d CROSS JOIN dsir_mx m
    )
    SELECT doc_id, n_grams, lw_bits, accept_exp
    FROM dsir_dec
    WHERE draw < CASE WHEN accept_exp <= -16 THEN CAST(0 AS BIGINT)
                      ELSE (CAST(1 AS BIGINT) << (16 + accept_exp)) END
    """,
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the DSIR composition end-to-end — learn importance weights
    toward the lang='en' target, score every document, then
    importance-resample with p = 2^floor((lw - max_lw)/4): max-weight
    documents always kept, the rest decaying exponentially, decided by
    a salted portable-hash draw so the kept subset is deterministic,
    repartition-stable and engine-replayable (all integer arithmetic —
    no float log anywhere). max_lw is a broadcast 1-row aggregate; the
    accept/reject tail is pure map-side expressions."""
    from ..operators.pipeline import dsir_resample as _resample

    t = load_tables(spark, sf_dir)
    docs = t["documents"].withColumn("__is_t", F.col("lang") == "en")
    return _resample(docs, "__is_t")


@query(
    "graph_triangle_count",
    headline=True,
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    w AS (SELECT x.src AS u, x.dst AS w1, y.dst AS w2
          FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst),
    nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w
            JOIN e ON w.w1 = e.src AND w.w2 = e.dst) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: triangle count of the co-purchase graph (parts linked when
    some order contains both) via compact-forward degree orientation
    (operators/graph.triangle_count). The oracle enumerates wedges from
    the id-canonical edge list — correct but hub-quadratic; the engine
    orients every edge by (degree, id) first, so a hub of degree d
    contributes O(sqrt(m)) wedges instead of O(d^2) — the difference
    between finishing and not on a power-law co-purchase graph."""
    from ..operators.graph import cooccurrence_edges, triangle_count

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # cooccurrence_edges emits distinct (src < dst) pairs already —
    # skip the operator's re-canonicalization, which would re-shuffle
    # the 1.2M-edge set right after the producer's own dedup exchange.
    return triangle_count(edges, edges_canonical=True)


_PR_SCALE = 10**12
_PR_ITERS = 5
# One unrolled DuckDB iteration of the EXACT fixed-point recurrence
# (operators/graph.pagerank_fixed_point): integer division and BIGINT
# sums only, so both engines agree bit-for-bit at every round.
_PR_STEP = """
    r{k} AS MATERIALIZED (
      SELECT d.node, d.deg,
             CAST((15 * ({scale} // n.n) + 85 * coalesce(s.s, 0)) // 100
                  AS BIGINT) AS r
      FROM deg d
      CROSS JOIN n
      LEFT JOIN (SELECT e.dst AS node, sum(p.r // p.deg) AS s
                 FROM e JOIN r{prev} p ON e.src = p.node
                 GROUP BY e.dst) s
        ON d.node = s.node
    )"""


@query(
    "graph_pagerank",
    headline=True,
    oracle="WITH e0 AS MATERIALIZED (\n"
    "      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst\n"
    "      FROM lineitem a JOIN lineitem b\n"
    "        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey\n"
    "    ),\n"
    "    e AS MATERIALIZED (SELECT src, dst FROM e0\n"
    "                       UNION ALL SELECT dst, src FROM e0),\n"
    "    deg AS MATERIALIZED (SELECT src AS node,\n"
    "                                CAST(count(*) AS BIGINT) AS deg\n"
    "                         FROM e GROUP BY src),\n"
    "    n AS (SELECT count(*) AS n FROM deg),\n"
    f"    r0 AS (SELECT node, deg, CAST({_PR_SCALE} // n.n AS BIGINT) AS r\n"
    "           FROM deg CROSS JOIN n),"
    + ",".join(
        _PR_STEP.format(k=k, prev=k - 1, scale=_PR_SCALE)
        for k in range(1, _PR_ITERS + 1)
    )
    + f"""
    SELECT node, deg, r AS rank_fp FROM r{_PR_ITERS}
    ORDER BY rank_fp DESC, node LIMIT 100
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: 5-iteration PageRank of the co-purchase graph in exact
    64-bit fixed-point (operators/graph.pagerank_fixed_point) — the
    classic corpus-curation quality signal, formulated so rank is a
    bit-exact cross-engine CONTRACT: integer division + BIGINT sums
    are summation-order independent, where floating-point PageRank
    diverges in the last ulps between engines (and between
    partitionings of the same engine) and iteration amplifies it.
    Plan: the Pregel shape — degrees once, then per round one
    edge-width join + one groupBy sum, each round eagerly checkpointed
    so lineage stays O(1); top-100 via TakeOrderedAndProject (no
    global sort)."""
    from ..operators.graph import cooccurrence_edges, pagerank_fixed_point

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    ranks = pagerank_fixed_point(edges, iterations=_PR_ITERS, scale=_PR_SCALE)
    return ranks.orderBy(F.desc("rank_fp"), F.asc("node")).limit(100)


@query(
    "quantile_sketch_bottomk",
    headline=True,
    oracle=f"""
    WITH sample AS (
      SELECT o_totalprice FROM (
        SELECT {sql_md5_long("CAST(o_orderkey AS VARCHAR)")} AS hkey,
               o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
        ORDER BY hkey, o_orderkey LIMIT 500
      )
    ),
    ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice) AS rn,
             count(*) OVER () AS n
      FROM sample
    )
    SELECT MAX(CASE WHEN rn = CAST(floor(0.10 * (n - 1)) AS INT) + 1
                    THEN o_totalprice END) AS q_10,
           MAX(CASE WHEN rn = CAST(floor(0.50 * (n - 1)) AS INT) + 1
                    THEN o_totalprice END) AS q_50,
           MAX(CASE WHEN rn = CAST(floor(0.90 * (n - 1)) AS INT) + 1
                    THEN o_totalprice END) AS q_90,
           MAX(CASE WHEN rn = CAST(floor(0.99 * (n - 1)) AS INT) + 1
                    THEN o_totalprice END) AS q_99,
           CAST(MAX(n) AS BIGINT) AS sample_n
    FROM ranked
    """,
)
def quantile_sketch_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: mergeable quantile sketch (operators/sketches.py): the
    bottom-k-by-portable-hash row sample — the quantile member of the
    mergeable-summary family (HLL → distincts, Misra-Gries → heavy
    hitters). The md5 hash family lets DuckDB re-derive the IDENTICAL
    sample; discrete index selection (no interpolation) makes the
    quantiles bit-equal. Spark plans the sample as
    TakeOrderedAndProject: per-partition bottom-k heaps, no global
    sort, shuffle bounded by k — and per-ingest samples fold with
    bottomk_merge, so maintained quantiles never rescan history."""
    from ..operators.sketches import bottomk_sample, sample_quantiles

    t = load_tables(spark, sf_dir)
    sample = bottomk_sample(t["orders"], "o_totalprice", "o_orderkey", k=500)
    return sample_quantiles(sample, "o_totalprice", [0.10, 0.50, 0.90, 0.99])


@query(
    "quantile_sketch_grouped",
    oracle=f"""
    WITH sample AS (
      SELECT c_mktsegment, o_totalprice FROM (
        SELECT c.c_mktsegment,
               {sql_md5_long("CAST(o.o_orderkey AS VARCHAR)")} AS hkey,
               o.o_orderkey, o.o_totalprice,
               row_number() OVER (
                 PARTITION BY c.c_mktsegment
                 ORDER BY {sql_md5_long("CAST(o.o_orderkey AS VARCHAR)")},
                          o.o_orderkey
               ) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice IS NOT NULL AND o.o_orderkey IS NOT NULL
      ) WHERE rn <= 200
    ),
    ranked AS (
      SELECT c_mktsegment, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM sample
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rn = CAST(floor(0.50 * (n - 1)) AS INT) + 1
                    THEN o_totalprice END) AS q_50,
           MAX(CASE WHEN rn = CAST(floor(0.90 * (n - 1)) AS INT) + 1
                    THEN o_totalprice END) AS q_90,
           CAST(MAX(n) AS BIGINT) AS sample_n
    FROM ranked GROUP BY c_mktsegment
    """,
)
def quantile_sketch_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: PER-SEGMENT quantile sketches (operators/sketches.py
    grouped bottom-k): one pass maintains a portable-hash sample per
    market segment; discrete index selection reads off per-segment
    medians/p90s bit-identically in both engines. The per-group window
    ranks only hash keys (16 B/row through the one group exchange);
    output is segments × k rows, merged across ingests exactly like
    the global sample."""
    from ..operators.sketches import (
        bottomk_sample_grouped,
        grouped_sample_quantiles,
    )

    t = load_tables(spark, sf_dir)
    joined = t["orders"].join(
        t["customer"], F.col("o_custkey") == F.col("c_custkey")
    )
    sample = bottomk_sample_grouped(
        joined, "o_totalprice", "o_orderkey", ["c_mktsegment"], k=200
    )
    return grouped_sample_quantiles(
        sample, "o_totalprice", ["c_mktsegment"], [0.50, 0.90]
    )


_QSE_COARSE = 100000  # $1000-wide coarse cent buckets for phase 1


def _qse_exact_q_sql(q: int) -> str:
    """Phase-2 CTEs locating the exact per-segment q-th percentile:
    target coarse bucket from the bounded phase-1 table, then a
    cumulative window over values INSIDE that bucket only (lockstep
    with the Spark builder)."""
    return f"""
    qse_t{q} AS (
      SELECT c_mktsegment, MIN(coarse) AS coarse FROM qse_cc2
      WHERE cum >= ((n_rows - 1) * {q}) // 100 + 1 GROUP BY 1
    ),
    qse_ti{q} AS (
      SELECT b.c_mktsegment, b.coarse, b.cum - b.c AS off,
             ((b.n_rows - 1) * {q}) // 100 + 1 AS idx
      FROM qse_cc2 b JOIN qse_t{q} t USING (c_mktsegment, coarse)
    ),
    qse_in{q} AS (
      SELECT r.c_mktsegment, r.v, CAST(COUNT(*) AS BIGINT) AS c2,
             MAX(t.off) AS off, MAX(t.idx) AS idx
      FROM qse_cr r JOIN qse_ti{q} t
        ON t.c_mktsegment = r.c_mktsegment AND t.coarse = r.coarse
      GROUP BY 1, 2
    ),
    qse_e{q} AS (
      SELECT c_mktsegment, MIN(v) AS exact_p{q} FROM (
        SELECT c_mktsegment, v, off, idx,
               SUM(c2) OVER (PARTITION BY c_mktsegment ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
        FROM qse_in{q})
      WHERE off + cumv >= idx GROUP BY 1
    )"""


@query(
    "quantile_sketch_error",
    oracle=f"""
    WITH qse_joined AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_totalprice IS NOT NULL AND o.o_orderkey IS NOT NULL
    ),
    qse_cr AS (
      SELECT c_mktsegment,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               // {_QSE_COARSE} AS coarse
      FROM qse_joined
    ),
    qse_cc AS (
      SELECT c_mktsegment, coarse, CAST(COUNT(*) AS BIGINT) AS c
      FROM qse_cr GROUP BY 1, 2
    ),
    qse_cc2 AS (
      SELECT c_mktsegment, coarse, c,
             SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY coarse
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             CAST(SUM(c) OVER (PARTITION BY c_mktsegment) AS BIGINT)
               AS n_rows
      FROM qse_cc
    ),
    qse_n AS (
      SELECT c_mktsegment, MAX(n_rows) AS n_rows FROM qse_cc2 GROUP BY 1
    ),
    {_qse_exact_q_sql(50).strip()},
    {_qse_exact_q_sql(90).strip()},
    qse_sample AS (
      SELECT c_mktsegment, o_totalprice FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (
                 PARTITION BY c_mktsegment
                 ORDER BY {sql_md5_long("CAST(o_orderkey AS VARCHAR)")},
                          o_orderkey
               ) AS rn
        FROM qse_joined
      ) WHERE rn <= 200
    ),
    qse_sr AS (
      SELECT c_mktsegment,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice) AS rn,
             CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS sn
      FROM qse_sample
    ),
    qse_sketch AS (
      SELECT c_mktsegment, MAX(sn) AS sample_n,
             MAX(CASE WHEN rn = ((sn - 1) * 50) // 100 + 1 THEN v END)
               AS sketch_p50,
             MAX(CASE WHEN rn = ((sn - 1) * 90) // 100 + 1 THEN v END)
               AS sketch_p90
      FROM qse_sr GROUP BY c_mktsegment
    )
    SELECT n.c_mktsegment, n.n_rows, s.sample_n,
           e50.exact_p50, s.sketch_p50,
           CAST(abs(s.sketch_p50 - e50.exact_p50) AS BIGINT)
             AS err_p50_cents,
           e90.exact_p90, s.sketch_p90,
           CAST(abs(s.sketch_p90 - e90.exact_p90) AS BIGINT)
             AS err_p90_cents
    FROM qse_n n
    JOIN qse_e50 e50 USING (c_mktsegment)
    JOIN qse_e90 e90 USING (c_mktsegment)
    JOIN qse_sketch s USING (c_mktsegment)
    """,
)
def quantile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: quantile-sketch ACCURACY as oracle-checked rows — per
    market segment, the bottom-k(200) portable-hash sample's discrete
    p50/p90 versus the EXACT per-group discrete quantiles, with
    absolute errors in integer cents. Completes the accuracy-contract
    family (minhash_estimate_error for sketch similarity, the ANN
    recall rows for retrieval): the O(1/sqrt(k)) sampling-error claim
    the RUNBOOK cites becomes a measured, cross-engine-exact number.

    The EXACT side is a TWO-PHASE quantile, not a one-task sort
    (o_totalprice is ~100% distinct, so a per-value cumulative window
    would funnel a segment's whole row count through one task — the
    first cut did exactly that and the review caught it): phase 1
    aggregates $1000-wide coarse cent buckets (bounded by the price
    DOMAIN / 1000, independent of row count) and its cumulative window
    locates the target bucket + the already-consumed prefix; phase 2
    re-scans only rows INSIDE each segment's target bucket (a
    broadcast semi of <= segments rows) and takes the first value
    whose in-bucket cumulative count reaches the integer index
    ((n-1)*q)//100. All index arithmetic is integer in both engines."""
    from pyspark.sql import Window as W

    from ..operators.sketches import bottomk_sample_grouped

    t = load_tables(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .where(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderkey").isNotNull()
        )
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    cr = joined.select(
        "c_mktsegment",
        cents.alias("v"),
        F.expr(
            f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            f" div {_QSE_COARSE}"
        ).alias("coarse"),
    )
    wseq = (
        W.partitionBy("c_mktsegment")
        .orderBy("coarse")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cc2 = (
        cr.groupBy("c_mktsegment", "coarse")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(wseq))
        .withColumn(
            "n_rows",
            F.sum("c").over(W.partitionBy("c_mktsegment")).cast("long"),
        )
    )
    nn = cc2.groupBy("c_mktsegment").agg(F.max("n_rows").alias("n_rows"))

    def exact_q(q: int) -> DataFrame:
        idx = F.expr(f"((n_rows - 1) * {q}) div 100 + 1")
        tgt = (
            cc2.where(F.col("cum") >= idx)
            .groupBy("c_mktsegment")
            .agg(F.min("coarse").alias("coarse"))
        )
        ti = cc2.join(tgt, ["c_mktsegment", "coarse"]).select(
            "c_mktsegment",
            "coarse",
            (F.col("cum") - F.col("c")).alias("off"),
            idx.alias("idx"),
        )
        inb = (
            cr.join(F.broadcast(ti), ["c_mktsegment", "coarse"])
            .groupBy("c_mktsegment", "v")
            .agg(
                F.count(F.lit(1)).alias("c2"),
                F.max("off").alias("off"),
                F.max("idx").alias("idx"),
            )
        )
        wv = (
            W.partitionBy("c_mktsegment")
            .orderBy("v")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return (
            inb.withColumn("cumv", F.sum("c2").over(wv))
            .where(F.col("off") + F.col("cumv") >= F.col("idx"))
            .groupBy("c_mktsegment")
            .agg(F.min("v").alias(f"exact_p{q}"))
        )

    sample = bottomk_sample_grouped(
        joined, "o_totalprice", "o_orderkey", ["c_mktsegment"], k=200
    )
    sr = (
        sample.select("c_mktsegment", cents.alias("v"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("c_mktsegment").orderBy("v")
            ),
        )
        .withColumn(
            "sn",
            F.count(F.lit(1)).over(W.partitionBy("c_mktsegment")),
        )
    )
    sketch = sr.groupBy("c_mktsegment").agg(
        F.max("sn").alias("sample_n"),
        F.max(
            F.when(
                F.col("rn") == F.expr("((sn - 1) * 50) div 100 + 1"),
                F.col("v"),
            )
        ).alias("sketch_p50"),
        F.max(
            F.when(
                F.col("rn") == F.expr("((sn - 1) * 90) div 100 + 1"),
                F.col("v"),
            )
        ).alias("sketch_p90"),
    )
    return (
        nn.join(exact_q(50), "c_mktsegment")
        .join(exact_q(90), "c_mktsegment")
        .join(sketch, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_rows",
            "sample_n",
            "exact_p50",
            "sketch_p50",
            F.abs(F.col("sketch_p50") - F.col("exact_p50")).alias(
                "err_p50_cents"
            ),
            "exact_p90",
            "sketch_p90",
            F.abs(F.col("sketch_p90") - F.col("exact_p90")).alias(
                "err_p90_cents"
            ),
        )
    )


# A basket of size B emits C(B,2) pairs in a SINGLE row — quadratic,
# the same blowup every other pair generator here caps (cooccurrence
# max_group_size, minhash max_bucket_size). Baskets larger than this
# are DROPPED from the whole analysis (pairs, item supports and the
# basket total alike, so support/confidence stay consistent): a basket
# containing everything is boilerplate, not co-purchase signal. TPC-H
# baskets are <= 7 items, so the cap is semantically inert on the test
# tables while killing the one-mega-order hazard at 100 TB.
MAX_BASKET_SIZE = 64


@query(
    "basket_association_rules",
    headline=True,
    oracle=f"""
    WITH baskets AS (
      SELECT l_orderkey, items FROM (
        SELECT l_orderkey,
               list_sort(list_distinct(list(l_partkey))) AS items
        FROM lineitem GROUP BY l_orderkey
      ) WHERE len(items) <= {MAX_BASKET_SIZE}
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_baskets FROM baskets),
    expl AS (SELECT l_orderkey, unnest(items) AS item FROM baskets),
    pairs AS (
      SELECT a.item AS pa, b.item AS pb, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM expl a JOIN expl b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY 1, 2
    ),
    item_supp AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM expl GROUP BY item
    )
    SELECT p.pa, p.pb, p.c_ab,
           (floor(p.c_ab / n.n_baskets * 1000000 + 0.5) / 1000000) AS support,
           (floor(CAST(p.c_ab AS DOUBLE) / sa.c * 1000000 + 0.5) / 1000000)
             AS conf_a_to_b,
           (floor(CAST(p.c_ab AS DOUBLE) / sb.c * 1000000 + 0.5) / 1000000)
             AS conf_b_to_a,
           (floor(n.n_baskets * p.c_ab / (CAST(sa.c AS DOUBLE) * sb.c)
                  * 10000 + 0.5) / 10000) AS lift
    FROM pairs p
    JOIN item_supp sa ON sa.item = p.pa
    JOIN item_supp sb ON sb.item = p.pb
    CROSS JOIN n
    WHERE p.c_ab >= 3
    ORDER BY lift DESC, p.pa ASC, p.pb ASC
    LIMIT 50
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: market-basket association rules (support / confidence /
    lift) over co-purchase pairs. Pair counts come from in-row pair
    expansion of per-basket distinct item arrays (one groupBy — the
    cooccurrence_edges shape, keeping COUNTS instead of dedup), item
    supports from one explode+agg bounded by item cardinality, and the
    basket total is a broadcast 1-row aggregate. The min-support floor
    prunes the rule table before the ranking top-k
    (TakeOrderedAndProject on rounded lift with a pair tiebreak).
    Baskets above MAX_BASKET_SIZE are dropped before the in-row O(B²)
    expansion (see the constant's note; oracle applies the same
    filter), so one skewed mega-basket can never build a quadratic
    array in a single row."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    return basket_rules_from_items(li, max_basket_size=MAX_BASKET_SIZE)


def basket_rules_from_items(
    li: DataFrame, max_basket_size: int | None = MAX_BASKET_SIZE
) -> DataFrame:
    """The basket-rules pipeline over a (l_orderkey, l_partkey) frame;
    ``max_basket_size=None`` disables the cap (scale-probe use only —
    the catalog query always caps)."""
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    if max_basket_size is not None:
        baskets = baskets.where(F.size("items") <= max_basket_size)
    ps = F.col("items")
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ps,
                        lambda x, i: F.transform(
                            F.slice(ps, i + 2, F.size(ps)),
                            lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    item_supp = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_baskets"))
    sa = item_supp.select(F.col("item").alias("pa"), F.col("c").alias("ca"))
    sb = item_supp.select(F.col("item").alias("pb"), F.col("c").alias("cb"))
    rules = (
        pairs.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "c_ab",
            round_det(F.col("c_ab") / F.col("n_baskets"), 6).alias("support"),
            round_det(
                F.col("c_ab").cast("double") / F.col("ca"), 6
            ).alias("conf_a_to_b"),
            round_det(
                F.col("c_ab").cast("double") / F.col("cb"), 6
            ).alias("conf_b_to_a"),
            round_det(
                F.col("n_baskets")
                * F.col("c_ab")
                / (F.col("ca").cast("double") * F.col("cb")),
                4,
            ).alias("lift"),
        )
    )
    return rules.orderBy(
        F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(50)


# ---------------------------------------------------- media -> ANN end-to-end

def _features_ann_oracle() -> str:
    """Oracle for mm_features_ann_topk: replay the closed-form feature
    vectors from FEATURE_PAIRS (integer quantization verified safe
    against the real float32 kernel — see the constant's docstring),
    then the IVF pipeline over those integers as they are, sharing the
    _SIM_IVF_ORACLE shape."""
    from ..multimodal.media import FEATURE_PAIRS

    pa = "[" + ", ".join(str(a) for a, _ in FEATURE_PAIRS) + "]"
    pb = "[" + ", ".join(str(b) for _, b in FEATURE_PAIRS) + "]"
    return f"""
    WITH pairs AS (SELECT {pa} AS pa, {pb} AS pb),
    feat AS (
      SELECT doc_id AS vec_id,
             CAST(pa[CAST(doc_id % 64 AS INT) + 1] AS DOUBLE) AS a,
             CAST(pb[CAST(doc_id % 64 AS INT) + 1] AS DOUBLE) AS b
      FROM documents, pairs
    ),
    qv AS (
      SELECT vec_id,
             list_transform(range(0, 8), i ->
               CAST(floor(a / sqrt(8.0*a*a + 8.0*b*b) * 1000 + 0.5) AS BIGINT))
          || list_transform(range(0, 8), i ->
               CAST(floor(b / sqrt(8.0*a*a + 8.0*b*b) * 1000 + 0.5) AS BIGINT))
             AS v
      FROM feat
    ),
    cents AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER)
               AS cell,
             v AS cv
      FROM qv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    sims AS (
      SELECT e.vec_id, e.v, c.cell,
             (SELECT SUM(x.a * x.b)
                FROM (SELECT UNNEST(e.v) AS a, UNNEST(c.cv) AS b) x) AS dot
      FROM qv e CROSS JOIN cents c
    ),
    ranked_cells AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, cell ASC) AS rn
      FROM sims
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, v AS c_vec, cell
      FROM ranked_cells WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, v AS q_vec, cell
      FROM ranked_cells WHERE vec_id < 10 AND rn <= 4
    ),
    scored AS (
      SELECT p.query_id, n.neighbor_id,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(p.q_vec) AS a, UNNEST(n.c_vec) AS b) x)
             / (sqrt((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                        FROM (SELECT UNNEST(p.q_vec) AS a) y))
              * sqrt((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                        FROM (SELECT UNNEST(n.c_vec) AS b) z))) AS cosine_raw
      FROM probes p JOIN assigned n
        ON n.cell = p.cell AND n.neighbor_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_raw DESC, neighbor_id ASC)
               AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           (floor((cosine_raw) * 10000 + 0.5) / 10000) AS cosine
    FROM ranked WHERE rank <= 5
    """


@query("mm_features_ann_topk", oracle=_features_ann_oracle())
def mm_features_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the multimodal→ANN claim as ONE oracle-checked row —
    mixed-format image corpus (BMP/PNG/QOI/JPEG rotated per doc,
    synthesize_feature_image_media) → sniffed decode + luma-bucket
    featurization (image_features, the real float32 kernel) → integer
    quantization → IVF top-k (ivf_topk, which takes the integral
    vectors as they are, so centroid selection, cell assignment,
    probing and the cosine tail are all exact arithmetic DuckDB
    replays value-for-value). Previously tested piecewise; this
    row pins the COMPOSITION end-to-end, including that a JPEG-carried
    page and a BMP-carried page of the same pixels land in the same
    cell with the same features. Map-only until the ANN tail's
    bounded centroid collect + per-query top-k window."""
    from ..multimodal.media import (
        image_features,
        synthesize_feature_image_media,
    )
    from ..operators.similarity import ivf_topk, quantize_expr

    t = load_tables(spark, sf_dir)
    media = synthesize_feature_image_media(t["documents"])
    feats = image_features(media, dim=16).where(
        F.col("decode_error").isNull()
    )
    qdf = feats.select(
        F.col("media_id").alias("vec_id"),
        quantize_expr(F.col("features")).alias("embedding"),
    )
    return ivf_topk(
        qdf, qdf.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4
    ).withColumn("rank", F.col("rank").cast("int"))


# ------------------------------------------------- streaming gate, replayed

@query(
    "dedup_gate_replay",
    oracle=f"""
    WITH {_SQL_MINHASH_CTES},
    seed AS (SELECT doc_id FROM documents WHERE doc_id % 5 NOT IN (0, 1)),
    in_a AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    in_b AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 1),
    {_gate_round_sql("in_a", "seed", "a").strip().lstrip()}
    ,
    corpus2 AS (
      SELECT doc_id FROM seed
      UNION ALL
      SELECT doc_id FROM v_a WHERE verdict = 'new'
    ),
    {_gate_round_sql("in_b", "corpus2", "b").strip().lstrip()}
    SELECT 'A' AS ingest, doc_id, verdict, n_near FROM v_a
    UNION ALL
    SELECT 'B' AS ingest, doc_id, verdict, n_near FROM v_b
    """,
)
def dedup_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the STREAMING dedup gate's verdict pipeline replayed as a
    fixed two-ingest batch sequence — the oracle-visible sibling of
    streaming/dedup_gate.py (pass(T) for the exactly-once machinery;
    THIS row value-checks the classification semantics the gate feeds
    on). Ingest A (doc_id%5==0) is classified against the seed corpus
    (doc_id%5 not in {{0,1}}); A's 'new' survivors JOIN the index —
    the gate's admit step — and ingest B (doc_id%5==1) is classified
    against the grown corpus. Same `_verdicts` core as the live gate
    (operators/incremental.py — the inline/materialized equality is
    pinned by the index roundtrip test); fingerprints, signatures,
    banding, both candidate joins and both verdict CASEs replay in
    DuckDB value-for-value. Per-round shape:
    corpus scanned never shuffled, batch broadcast on both probes."""
    from ..operators.incremental import incremental_dedup_verdicts

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    seed = docs.filter(~(F.col("doc_id") % 5).isin(0, 1))
    ing_a = docs.filter(F.col("doc_id") % 5 == 0)
    ing_b = docs.filter(F.col("doc_id") % 5 == 1)
    va = incremental_dedup_verdicts(seed, ing_a, threshold=0.5)
    survivors_a = ing_a.join(
        F.broadcast(
            va.filter(F.col("verdict") == "new").select("doc_id")
        ),
        "doc_id",
    )
    vb = incremental_dedup_verdicts(
        seed.unionByName(survivors_a), ing_b, threshold=0.5
    )
    return va.select(
        F.lit("A").alias("ingest"), "doc_id", "verdict", "n_near"
    ).unionByName(
        vb.select(F.lit("B").alias("ingest"), "doc_id", "verdict", "n_near")
    )


# ---------------------------------------------------- streaming replays (r10)

_MG_K = 8  # counters per shard — small enough that the fixture prunes
_MG_SHARDS = 4


def _mg_replay_round_sql(prev: str, b: int, rnd: str) -> str:
    """One micro-batch MG fold round as DuckDB CTEs: sum the running
    state with the batch's exact per-shard counts, then apply the ONE
    prune of streaming/stateful._mg_update_fn (subtract the excess-th
    smallest combined count per shard). Lockstep with
    operators/sketches.mg_fold_sharded."""
    return f"""
    {rnd}_u AS (
      SELECT shard, tok, lower, dsum, nrows FROM {prev}
      UNION ALL
      SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS lower,
             CAST(0 AS BIGINT) AS dsum, CAST(0 AS BIGINT) AS nrows
      FROM mg_toks WHERE batch = {b} GROUP BY shard, tok
      UNION ALL
      SELECT shard, CAST(NULL AS VARCHAR) AS tok, CAST(0 AS BIGINT) AS lower,
             CAST(0 AS BIGINT) AS dsum, CAST(COUNT(*) AS BIGINT) AS nrows
      FROM mg_toks WHERE batch = {b} GROUP BY shard
    ),
    {rnd}_cand AS (
      SELECT shard, tok, CAST(SUM(lower) AS BIGINT) AS lower
      FROM {rnd}_u WHERE tok IS NOT NULL GROUP BY 1, 2
    ),
    {rnd}_rk AS (
      SELECT shard, tok, lower,
             row_number() OVER (PARTITION BY shard
                                ORDER BY lower ASC, tok ASC) AS rk,
             COUNT(*) OVER (PARTITION BY shard) AS cnt
      FROM {rnd}_cand
    ),
    {rnd}_d AS (
      SELECT shard,
             CAST(COALESCE(MAX(CASE WHEN cnt > {_MG_K} AND rk = cnt - {_MG_K}
                                    THEN lower END), 0) AS BIGINT) AS d
      FROM {rnd}_rk GROUP BY shard
    ),
    {rnd}_s AS (
      SELECT c.shard, c.tok,
             CAST(c.lower - COALESCE(d.d, 0) AS BIGINT) AS lower,
             CAST(0 AS BIGINT) AS dsum, CAST(0 AS BIGINT) AS nrows
      FROM {rnd}_cand c LEFT JOIN {rnd}_d d USING (shard)
      WHERE c.lower > COALESCE(d.d, 0)
      UNION ALL
      SELECT st.shard, CAST(NULL AS VARCHAR) AS tok, CAST(0 AS BIGINT) AS lower,
             CAST(st.dsum + COALESCE(d.d, 0) AS BIGINT) AS dsum,
             CAST(st.nrows AS BIGINT) AS nrows
      FROM (SELECT shard, SUM(dsum) AS dsum, SUM(nrows) AS nrows
            FROM {rnd}_u WHERE tok IS NULL GROUP BY shard) st
      LEFT JOIN {rnd}_d d USING (shard)
    )"""


@query(
    "streaming_mg_replay",
    oracle=f"""
    WITH mg_toks AS (
      SELECT CAST(doc_id % 3 AS INTEGER) AS batch,
             CAST({sql_hash_bucket("tok", _MG_SHARDS)} AS INTEGER) AS shard,
             tok
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
    ),
    mg_s0 AS (
      SELECT CAST(NULL AS INTEGER) AS shard, CAST(NULL AS VARCHAR) AS tok,
             CAST(NULL AS BIGINT) AS lower, CAST(NULL AS BIGINT) AS dsum,
             CAST(NULL AS BIGINT) AS nrows
      WHERE 1 = 0
    ),
    {_mg_replay_round_sql("mg_s0", 0, "mg_r1").strip()},
    {_mg_replay_round_sql("mg_r1_s", 1, "mg_r2").strip()},
    {_mg_replay_round_sql("mg_r2_s", 2, "mg_r3").strip()}
    SELECT s.shard, s.tok, s.lower, st.dsum AS shard_dsum,
           st.nrows AS shard_nrows, tr.true_count,
           CAST(CASE WHEN s.lower <= tr.true_count
                      AND tr.true_count <= s.lower + st.dsum
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bounds
    FROM mg_r3_s s
    JOIN (SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS true_count
          FROM mg_toks GROUP BY 1, 2) tr USING (shard, tok)
    JOIN (SELECT shard, dsum, nrows FROM mg_r3_s WHERE tok IS NULL) st
      USING (shard)
    WHERE s.tok IS NOT NULL
    """,
)
def streaming_mg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the STREAMING heavy-hitter state machine replayed as a
    fixed three-ingest batch sequence — the oracle-visible sibling of
    streaming/stateful.streaming_heavy_hitters (pass(T) covers the
    applyInPandasWithState machinery; THIS row value-checks the fold
    those emissions carry). Documents' tokens shard onto
    {_MG_SHARDS} Misra-Gries states by the live operator's own md5
    bucket (``portable_hash_bucket``), so DuckDB replays sharding
    exactly; each ingest folds via operators/sketches.mg_fold_sharded — the
    PRECISE per-micro-batch rule of _mg_update_fn (sum, then one
    excess-th-smallest prune). counters={_MG_K} forces real pruning on
    the fixture (dsum > 0). Output: each surviving counter with its
    certified interval vs the TRUE stream count, within_bounds
    asserting lower ≤ t ≤ lower + dsum everywhere — the mergeable-
    summaries contract (Agarwal et al., PODS'12) as checked rows.
    Fold cost is summary-width (shards × counters), never item data;
    the oracle unrolls all three rounds as chained CTEs."""
    from ..functions.text import dedup_tokens_expr
    from ..operators.pipeline import portable_hash_bucket
    from ..operators.sketches import mg_batch_fragments, mg_fold_sharded
    from ..session import eager_checkpoint, release

    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .select(
            (F.col("doc_id") % 3).cast("int").alias("batch"),
            F.explode(dedup_tokens_expr(F.col("text"))).alias("tok"),
        )
        .withColumn(
            "shard",
            portable_hash_bucket(F.col("tok"), _MG_SHARDS).cast("int"),
        )
    )
    state = None
    for b in range(3):
        frag = mg_batch_fragments(toks.where(F.col("batch") == b))
        parts = frag if state is None else state.unionByName(frag)
        # Materialize each round's summary (shards × counters rows):
        # exactly what the state store holds between micro-batches, and
        # it keeps the replay's plan depth O(1) per round instead of
        # re-deriving every earlier round's windows.
        prev = state
        state = eager_checkpoint(mg_fold_sharded(parts, counters=_MG_K))
        if prev is not None:
            release(prev)
        prev = None
    truth = toks.groupBy("shard", "tok").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    stats = state.where(F.col("tok").isNull()).select(
        "shard",
        F.col("dsum").alias("shard_dsum"),
        F.col("nrows").alias("shard_nrows"),
    )
    kept = state.where(F.col("tok").isNotNull()).select(
        "shard", "tok", "lower"
    )
    return (
        kept.join(truth, ["shard", "tok"])
        .join(F.broadcast(stats), "shard")
        .select(
            "shard",
            "tok",
            "lower",
            "shard_dsum",
            "shard_nrows",
            "true_count",
            (
                (F.col("lower") <= F.col("true_count"))
                & (
                    F.col("true_count")
                    <= F.col("lower") + F.col("shard_dsum")
                )
            )
            .cast("long")
            .alias("within_bounds"),
        )
    )


@query(
    "streaming_totals_replay",
    oracle="""
    WITH per_batch AS (
      SELECT user_id, CAST(event_id % 3 AS INTEGER) AS batch,
             CAST(COUNT(*) AS BIGINT) AS batch_events
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, batch, batch_events,
           CAST(SUM(batch_events) OVER (
             PARTITION BY user_id ORDER BY batch
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS total_events
    FROM per_batch
    """,
)
def streaming_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the running-totals stateful streaming operator
    (streaming/stateful.running_totals) replayed as a fixed
    three-ingest batch sequence — one row per (key, batch the key
    appears in) with that batch's count and the cumulative total, the
    EXACT emission contract of _running_totals_fn. The fold is a
    per-key sum (order-free), so the replay is one groupBy plus one
    keyed cumulative window — with this row, all three custom stateful
    operators (running totals, sharded MG, sharded bottom-k) have
    their fold semantics in the oracle ledger, not only in pytest."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir)
    per_batch = (
        t["events"]
        .groupBy(
            "user_id", (F.col("event_id") % 3).cast("int").alias("batch")
        )
        .agg(F.count(F.lit(1)).alias("batch_events"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("batch")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per_batch.select(
        "user_id",
        "batch",
        "batch_events",
        F.sum("batch_events").over(w).cast("long").alias("total_events"),
    )


_BK_K = 32
_BK_SHARDS = 4


@query(
    "streaming_bottomk_replay",
    oracle=f"""
    SELECT hkey, rid, value FROM (
      SELECT {sql_md5_long("CAST(o_orderkey AS VARCHAR)")} AS hkey,
             o_orderkey AS rid, o_totalprice AS value
      FROM orders
    ) ORDER BY hkey ASC, rid ASC LIMIT {_BK_K}
    """,
)
def streaming_bottomk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the STREAMING bottom-k quantile-sketch state machine
    replayed as a fixed three-ingest batch sequence and folded back —
    the oracle-visible sibling of
    streaming/stateful.streaming_bottomk_sample. Orders arrive in
    three micro-batches, each fold keeps the {_BK_K} hash-smallest
    rows PER SHARD ({_BK_SHARDS} shards; shard and rank come from the
    live operator's own md5 hashes, so the oracle replays the draw),
    and the emitted shard
    fragments merge by re-taking the global {_BK_K} smallest
    (operators/sketches.bottomk_merge). The PINNED property: that
    sequential per-shard fold recovers EXACTLY the whole-stream batch
    sample — the oracle computes the global bottom-k directly in one
    pass, so any drift in the fold (a dropped row, a tie broken
    differently, a shard under-kept) hash-mismatches. Per-round state
    is shards × k rows regardless of stream length."""
    from pyspark.sql import Window as W

    from ..operators.pipeline import portable_hash_bucket
    from ..operators.sketches import _sample_hash

    t = load_tables(spark, sf_dir)
    keyed = t["orders"].select(
        (F.col("o_orderkey") % 3).alias("batch"),
        portable_hash_bucket(F.col("o_orderkey"), _BK_SHARDS)
        .cast("int")
        .alias("shard"),
        _sample_hash("o_orderkey").alias("hkey"),
        F.col("o_orderkey").alias("rid"),
        F.col("o_totalprice").alias("value"),
    )
    w = W.partitionBy("shard").orderBy(F.col("hkey").asc(), F.col("rid").asc())
    state = None
    for b in range(3):
        batch_rows = keyed.where(F.col("batch") == b).select(
            "shard", "hkey", "rid", "value"
        )
        parts = (
            batch_rows if state is None else state.unionByName(batch_rows)
        )
        state = (
            parts.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= _BK_K)
            .drop("__rk")
        )
    return (
        state.orderBy(F.col("hkey").asc(), F.col("rid").asc())
        .limit(_BK_K)
        .select("hkey", "rid", "value")
    )


@query(
    "er_fuzzy_entities",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT a.s_suppkey AS src, b.s_suppkey AS dst
      FROM supplier a JOIN supplier b
        ON a.s_nationkey = b.s_nationkey
       AND a.s_suppkey < b.s_suppkey
       AND levenshtein(a.s_name, b.s_name) <= 2
    ),
    e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
    reach AS (
      SELECT s_suppkey AS node, s_suppkey AS r FROM supplier
      UNION
      SELECT e.dst AS node, reach.r FROM reach JOIN e ON e.src = reach.node
    ),
    lbl AS (SELECT node, CAST(min(r) AS BIGINT) AS entity_id
            FROM reach GROUP BY node),
    sz AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lbl GROUP BY entity_id)
    SELECT l.node AS s_suppkey, l.entity_id, s.cluster_size,
           (l.node = l.entity_id) AS is_canonical
    FROM lbl l JOIN sz s USING (entity_id)
    """,
)
def er_fuzzy_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: entity resolution END-TO-END — the c12 blocked fuzzy-match
    pairs (nation-blocked Levenshtein <= 2) fed through connected
    components into a canonical ENTITY table: every supplier gets its
    component-min entity_id, cluster size, and an is_canonical keeper
    flag (singletons are their own entity).  The same
    pairs -> components -> assignment shape as dedup_cluster_canonical,
    proven here on the record-linkage family; the oracle computes the
    transitive closure by recursive min-label propagation (set-semantics
    UNION terminates it) — exhaustive reachability vs the engine's
    O(log n) star algorithm.  Scale: blocking bounds the pair join;
    components AND their sizes are computed on the matched-node frame
    only (bounded by pairs, broadcast back with singleton sizes
    coalesced to 1), so the record table itself never shuffles."""
    from ..operators.graph import connected_components

    t = load_tables(spark, sf_dir)
    sup = t["supplier"]
    a = sup.select(
        F.col("s_suppkey").alias("key_a"),
        F.col("s_name").alias("name_a"),
        F.col("s_nationkey").alias("nk"),
    )
    b = sup.select(
        F.col("s_suppkey").alias("key_b"),
        F.col("s_name").alias("name_b"),
        F.col("s_nationkey").alias("nk"),
    )
    pairs = (
        a.join(b, "nk")
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.levenshtein("name_a", "name_b") <= 2)
        )
        .select("key_a", "key_b")
    )
    comp = connected_components(pairs, src="key_a", dst="key_b")
    # Sizes over the MATCHED-node frame (bounded by pairs) — sizing
    # over the full assignment would shuffle every record to count its
    # singleton as 1.
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    matched = comp.withColumnRenamed("node", "s_suppkey").join(
        sizes, "component"
    )
    entity = F.coalesce(F.col("component"), F.col("s_suppkey"))
    return (
        sup.select("s_suppkey")
        .join(F.broadcast(matched), "s_suppkey", "left")
        .select(
            "s_suppkey",
            entity.cast("long").alias("entity_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (entity == F.col("s_suppkey")).alias("is_canonical"),
        )
    )


@query(
    "surrogate_keys",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS sk
    FROM orders
    """,
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: contiguous surrogate-key assignment
    (operators/keys.assign_surrogate_keys) — ids 1..N in key order
    WITHOUT the one-task global window the naive row_number() plan
    collapses into: range-partitioned distributed sort (materialized
    once so both passes see identical boundaries), per-partition
    counts to prefix-sum offsets (one row per partition to the
    driver), then a map-only Arrow numbering pass.  The oracle IS the
    naive plan — per-value equality proves the distributed form
    computes exactly row_number() OVER (ORDER BY key)."""
    from ..operators.keys import assign_surrogate_keys

    t = load_tables(spark, sf_dir)
    return assign_surrogate_keys(
        t["orders"].select("o_orderkey"), "o_orderkey"
    )


@query(
    "j8_band_join_bucketed",
    oracle="""
    WITH c AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    -- the band spelled as TWO range conditions, not abs(): DuckDB's
    -- IEJoin needs inequality pairs (the abs() form degrades to a
    -- nested loop — measured 130s vs 0.2s at sf0.1, same rows)
    SELECT okey_a, okey_b, diff_cents FROM (
      SELECT a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
             abs(a.cents - b.cents) AS diff_cents
      FROM c a JOIN c b
        ON b.cents >= a.cents - 50 AND b.cents <= a.cents + 50
    ) WHERE okey_a < okey_b
    """,
)
def j8_band_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: KEYLESS band join — order pairs whose total prices are
    within 50 integer cents, with no equi key to ride.  Spark's only
    native plan for a bare band predicate is a broadcast-nested-loop /
    cartesian (O(n*m) compares, single-executor broadcast at scale);
    operators/asof.band_join quantizes to delta-wide buckets, explodes
    the left side to bucket+/-1, equi-joins on the bucket (a plain
    shuffled join) and re-applies the exact predicate — each pair
    found exactly once.  The oracle is the honest theta join (DuckDB
    plans it as an IEJoin), so value equality proves the bucketed
    rewrite loses and invents nothing.  All arithmetic in integer
    cents: an integer band has no float-boundary ambiguity."""
    from ..operators.asof import band_join

    t = load_tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    a = t["orders"].select(
        F.col("o_orderkey").alias("okey_a"), cents.alias("cents_a")
    )
    b = t["orders"].select(
        F.col("o_orderkey").alias("okey_b"), cents.alias("cents_b")
    )
    return (
        band_join(a, b, "cents_a", "cents_b", 50)
        .where(F.col("okey_a") < F.col("okey_b"))
        .select(
            "okey_a",
            "okey_b",
            F.abs(F.col("cents_a") - F.col("cents_b")).alias("diff_cents"),
        )
    )


# Sequence-pattern alphabet + pattern, ONE spec for both engines.
# 'v+cp': one-or-more views, then a click, then a purchase, ADJACENT
# in the user's event sequence — quantified adjacency is what the
# funnel operator (subsequence semantics) cannot express.
_SEQ_CHR_SQL = (
    "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' "
    "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END"
)
_SEQ_PATTERN = "v+cp"


@query(
    "event_pattern_match",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg({_SEQ_CHR_SQL}, '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT user_id, s,
             CAST(len(regexp_extract_all(s, '{_SEQ_PATTERN}')) AS BIGINT)
               AS n_matches,
             regexp_extract(s, '{_SEQ_PATTERN}') AS first_match
      FROM seq
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           n_matches,
           CAST(CASE WHEN n_matches = 0 THEN 0
                     ELSE instr(s, first_match) END AS BIGINT)
             AS first_match_pos
    FROM m
    """,
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: sequence pattern matching over per-user event streams (the
    MATCH_RECOGNIZE family): each user's events collapse to one ordered
    type string (deterministic (ts, event_id) order), and the pinned
    regex 'v+cp' — one-or-more views then a click then a purchase,
    ADJACENT — is counted per user with its first match position.
    Quantified adjacency is exactly what funnel_conversion's
    subsequence semantics cannot say. One keyed shuffle (the sequence
    build); the regex runs in-row at scan speed. Cross-engine: Java
    and RE2 agree on leftmost non-overlapping matching for this
    backreference-free pattern, and the oracle recovers the match
    position as instr(s, first_match) — sound because an EARLIER
    occurrence of the matched literal would itself have been the
    leftmost match."""
    t = load_tables(spark, sf_dir)
    chr_col = F.expr(_SEQ_CHR_SQL)
    seq = (
        t["events"]
        .select("user_id", "ts", "event_id", chr_col.alias("c"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "c"))
                    ),
                    lambda x: x["c"],
                ),
            ).alias("s")
        )
    )
    n = F.regexp_count(F.col("s"), F.lit(_SEQ_PATTERN))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("seq_len"),
        n.cast("long").alias("n_matches"),
        F.when(n == 0, F.lit(0))
        .otherwise(
            F.regexp_instr(F.col("s"), F.lit(_SEQ_PATTERN))
        )
        .cast("long")
        .alias("first_match_pos"),
    )


@query(
    "ts_ohlc_bars",
    oracle="""
    WITH v AS (
      SELECT date_trunc('hour', ts) AS bar_hour, event_type, ts,
             event_id, value
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY bar_hour, event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY bar_hour, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM v
    )
    SELECT bar_hour, event_type,
           (floor(max(CASE WHEN rn_a = 1 THEN value END) * 10000 + 0.5)
            / 10000) AS open,
           (floor(max(value) * 10000 + 0.5) / 10000) AS high,
           (floor(min(value) * 10000 + 0.5) / 10000) AS low,
           (floor(max(CASE WHEN rn_d = 1 THEN value END) * 10000 + 0.5)
            / 10000) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_value_micros
    FROM r GROUP BY bar_hour, event_type
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: OHLC bar resampling — hourly open/high/low/close per event
    type, the time-series downsampling every metrics/market pipeline
    runs.  Open/close are MIN/MAX of the (ts, event_id, value) struct
    inside the single groupBy: (ts, event_id) is a total order, so the
    value field never participates in the comparison and the result
    equals the oracle's rank-window selection exactly — while the
    struct aggregate partial-combines map-side, so the ONE exchange
    carries a row per bar, not per event (the rank-window form
    shuffled every event row and sorted each partition twice).  The
    value total is summed in EXACT integer micros, so the only floats
    are per-row and the shared rounding."""
    t = load_tables(spark, sf_dir)

    v = (
        t["events"]
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
            "event_type", "ts", "event_id", "value",
        )
    )
    stamp = F.struct("ts", "event_id", "value")
    micros = F.floor(F.col("value") * 1000000 + 0.5).cast("long")
    return v.groupBy("bar_hour", "event_type").agg(
        round_det(F.min(stamp)["value"], 4).alias("open"),
        round_det(F.max("value"), 4).alias("high"),
        round_det(F.min("value"), 4).alias("low"),
        round_det(F.max(stamp)["value"], 4).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(micros).cast("long").alias("sum_value_micros"),
    )


@query(
    "minhash_estimate_error",
    oracle=f"""
    WITH {_SQL_MINHASH_PAIR_CTES},
    est AS (
      SELECT id_a, id_b,
             (floor((len(list_filter(range(1, 33), i -> sa[i] = sb[i]))
                     / 32.0) * 10000 + 0.5) / 10000) AS est_jaccard
      FROM pairs
    ),
    inter AS (
      SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
      GROUP BY p.id_a, p.id_b
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh
              GROUP BY doc_id)
    SELECT e.id_a, e.id_b, e.est_jaccard,
           (floor((CAST(coalesce(i.c, 0) AS DOUBLE)
                   / (na.n + nb.n - coalesce(i.c, 0))) * 10000 + 0.5)
            / 10000) AS exact_jaccard,
           (floor(abs(e.est_jaccard
                      - (floor((CAST(coalesce(i.c, 0) AS DOUBLE)
                                / (na.n + nb.n - coalesce(i.c, 0)))
                               * 10000 + 0.5) / 10000)) * 10000 + 0.5)
            / 10000) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes na ON na.doc_id = e.id_a
    JOIN sizes nb ON nb.doc_id = e.id_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: MinHash estimation-error contract — for every LSH candidate
    pair, the 32-permutation signature-agreement Jaccard ESTIMATE next
    to the EXACT shingle-set Jaccard and their absolute error, as an
    oracle row: the sketch-accuracy number (how wrong can 32 hashes
    be?) becomes a verified measurement instead of a theorem citation,
    the same move sim_*_recall made for ANN.  Exact Jaccard is
    computed ONLY on candidate pairs (bounded by the LSH screen; every
    frame broadcast downstream — the pair list, the pair-doc shingle
    sizes — is pair-bounded too, never corpus-bounded) — never
    all-pairs."""
    from ..operators.dedup import _shingles_sql, minhash_lsh_candidates

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # Checkpointed: pairs feeds the intersection build AND the final
    # join — without it the whole signature pipeline runs twice. It is
    # LSH-screen-bounded, so materializing it is cheap at any scale.
    pairs = (
        minhash_lsh_candidates(docs)
        .select("id_a", "id_b", "est_jaccard")
        .localCheckpoint(eager=True)
    )
    pair_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.select("doc_id", F.explode(F.expr(_shingles_sql(3))).alias("s"))
    # Shingles of PAIR DOCS only: the corpus-wide shingle frame is
    # map-only to recompute, but anything grouped/broadcast from here
    # must be pair-bounded (a full-corpus per-doc size table broadcast
    # is the same unbounded-broadcast defect class er_fuzzy_entities
    # had).
    sh_p = sh.join(F.broadcast(pair_ids), "doc_id", "left_semi")
    sh_a = sh_p.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sh_b = sh_p.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    inter = (
        F.broadcast(pairs.select("id_a", "id_b"))
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .where(F.col("s_a") == F.col("s_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sizes = sh_p.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    c = F.coalesce(F.col("c"), F.lit(0))
    exact = round_det(
        c.cast("double") / (F.col("na") + F.col("nb") - c), 4
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            round_det(F.abs(F.col("est_jaccard") - exact), 4).alias(
                "abs_err"
            ),
        )
    )


# ------------------------------------------------- event-time fold replays

# Arrival-batch assignment for the event-time replays: three
# time-correlated micro-batches (days 1-10 / 11-20 / 21+) with every
# 37th event a STRAGGLER arriving one batch later than its event time
# says and every 11th arriving TWO batches late — genuine late data at
# both horizons: one-batch stragglers ride the eviction lag (kept /
# joined), two-batch ones land after their window or partner state is
# gone (dropped / pair evicted).
_EV_BATCH_SQL = (
    "LEAST(CAST(floor((date_part('day', ts) - 1) / 10) AS INTEGER) + "
    "CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END + "
    "CASE WHEN event_id % 11 = 0 THEN 2 ELSE 0 END, 2)"
)

# The replay micro-batch sequence, shared by every engine replay call
# (batch_ids=) and every oracle's batch-id spine: the lag-2 watermark
# is an ID-distance lag over the SUPPLIED batch ids — an empty batch
# still advances the lag, its NULL max-ts skipped by MAX. ONE
# definition so the batch count cannot drift between the four
# replay pairs (it is also the LEAST(..., 2) cap in _EV_BATCH_SQL).
_EV_BATCH_IDS = [0, 1, 2]
_SQL_EV_BATCH_SPINE = (
    "(SELECT * FROM (VALUES "
    + ", ".join(f"({b})" for b in _EV_BATCH_IDS)
    + ") AS t(b))"
)


def _ev_batch_col():
    return F.least(
        F.floor((F.dayofmonth("ts") - 1) / 10).cast("int")
        + F.when(F.col("event_id") % 37 == 0, 1).otherwise(0)
        + F.when(F.col("event_id") % 11 == 0, 2).otherwise(0),
        F.lit(2),
    ).cast("int")


@query(
    "streaming_watermark_replay",
    oracle=f"""
    WITH swr_ev AS (
      SELECT ts, event_type, {_EV_BATCH_SQL} AS b FROM events
    ),
    swr_bstats AS (SELECT b, MAX(ts) AS bmax FROM swr_ev GROUP BY b),
    -- Batch-id spine (_SQL_EV_BATCH_SPINE): id-distance lag over
    -- supplied batch ids, NULL bmax of an empty batch skipped by MAX.
    swr_ids AS (SELECT b FROM {_SQL_EV_BATCH_SPINE} sp),
    swr_wm AS (
      SELECT b, MAX(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND 2 PRECEDING) - INTERVAL 2 HOUR AS wm
      FROM swr_ids LEFT JOIN swr_bstats USING (b)
      UNION ALL
      SELECT MAX(b) + 1, MAX(bmax) - INTERVAL 2 HOUR
      FROM swr_ids LEFT JOIN swr_bstats USING (b)
    ),
    swr_kept AS (
      SELECT date_trunc('hour', e.ts) AS window_start,
             date_trunc('hour', e.ts) + INTERVAL 1 HOUR AS window_end,
             e.event_type
      FROM swr_ev e JOIN swr_wm w ON w.b = e.b
      WHERE w.wm IS NULL
         OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > w.wm
    ),
    swr_agg AS (
      SELECT window_start, window_end, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM swr_kept GROUP BY 1, 2, 3
    )
    SELECT a.window_start, a.window_end, a.event_type, a.n_events,
           CAST(MIN(w.b) AS INTEGER) AS emitted_batch
    FROM swr_agg a LEFT JOIN swr_wm w ON w.wm > a.window_end
    GROUP BY 1, 2, 3, 4
    """,
)
def streaming_watermark_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the EVENT-TIME watermark state machine of the streaming
    tumbling aggregation (streaming/events.tumbling_counts) replayed
    as a deterministic batch fold — the oracle-visible sibling of the
    pass(T) streaming path, same treatment the MG/bottom-k/totals
    folds got in round 10. Events arrive in three time-correlated
    micro-batches with every 37th a one-batch-late straggler; the
    replay applies Spark's probed rules — the aggregation operator's
    watermark LAGS the data by TWO batches (max event time over
    batches ≤ b−2, − 2 h; the value computed after batch b−1 reaches
    the operator one batch later — probed with a row whose window end
    sits between the two candidate watermarks), a row aggregates only
    while its window's state is live (window_end above that lagged
    watermark), append-mode emission in the first batch whose lagged
    watermark passes the window end, terminal flush at stream close —
    and emits every
    (window, key) with its count AND its emission batch (NULL = still
    open at stream end). Late-drop, eviction and emission schedule all
    hash-checked; tests/test_streaming.py pins the same fold to the
    LIVE readStream operator on a shared micro-batch sequence.
    Scale shape: one bounded per-batch watermark table (broadcast) +
    one keyed groupBy — identical to the live operator's partial-agg +
    keyed-state shuffle."""
    from ..streaming.events import tumbling_replay

    t = load_tables(spark, sf_dir)
    ev = t["events"].withColumn("__batch", _ev_batch_col())
    return tumbling_replay(
        ev, "__batch", delay="2 hours", batch_ids=_EV_BATCH_IDS
    )


@query(
    "streaming_interval_join_replay",
    oracle=f"""
    WITH sij_ev AS (
      SELECT event_id, user_id, ts, event_type, {_EV_BATCH_SQL} AS b
      FROM events
    ),
    sij_c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts, b AS cb
      FROM sij_ev WHERE event_type = 'click'
    ),
    sij_p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, b AS pb
      FROM sij_ev WHERE event_type = 'purchase'
    ),
    -- Batch-id spine (_SQL_EV_BATCH_SPINE), not observed batches —
    -- same empty-batch contract as the other three replay oracles.
    sij_bat AS (SELECT b FROM {_SQL_EV_BATCH_SPINE} sp),
    sij_cm AS (SELECT cb AS b, MAX(click_ts) AS m FROM sij_c GROUP BY 1),
    sij_pm AS (SELECT pb AS b, MAX(purchase_ts) AS m FROM sij_p GROUP BY 1),
    sij_wm AS (
      SELECT b, CASE WHEN crun IS NULL OR prun IS NULL THEN NULL
                     ELSE LEAST(crun, prun) - INTERVAL 2 HOUR END AS wm
      FROM (
        SELECT bat.b,
               MAX(cm.m) OVER (ORDER BY bat.b ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 2 PRECEDING) AS crun,
               MAX(pm.m) OVER (ORDER BY bat.b ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 2 PRECEDING) AS prun
        FROM sij_bat bat
        LEFT JOIN sij_cm cm ON cm.b = bat.b
        LEFT JOIN sij_pm pm ON pm.b = bat.b
      )
    ),
    sij_ck AS (
      SELECT c.* FROM sij_c c JOIN sij_wm w ON w.b = c.cb
      WHERE w.wm IS NULL OR c.click_ts >= w.wm
    ),
    sij_pk AS (
      SELECT p.* FROM sij_p p JOIN sij_wm w ON w.b = p.pb
      WHERE w.wm IS NULL OR p.purchase_ts >= w.wm
    )
    SELECT c.user_id, c.click_id, c.click_ts,
           p.purchase_id, p.purchase_ts
    FROM sij_ck c
    JOIN sij_pk p ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 6 HOUR
    """,
)
def streaming_interval_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXT: the watermarked STREAM-STREAM interval join
    (streaming/events.clicks_to_purchases_join) replayed as a
    deterministic batch fold. The rules replay what the live engine
    actually does — probed, not assumed (the pin test threads the same
    micro-batches through readStream): each side's input rows are
    pre-filtered against the TWO-BATCH-LAGGED min-across-sources
    watermark (a one-batch-late row still joins; the same row two
    batches late produces nothing), and given that filter the time
    bound makes state-eviction timing output-irrelevant, so the
    surviving semantics are exactly the time-band inner join of the
    kept rows. Same straggler batches as streaming_watermark_replay:
    one-batch-late clicks still pair, two-batch-late ones are gone.
    Scale shape: bounded watermark table broadcast into the probe; the
    pair join is an equi-join on user_id with band + survival as
    residual filters — no cartesian."""
    from ..streaming.events import interval_join_replay

    t = load_tables(spark, sf_dir)
    ev = t["events"].withColumn("__batch", _ev_batch_col())
    return interval_join_replay(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        "__batch",
        within="6 hours",
        delay="2 hours",
        batch_ids=_EV_BATCH_IDS,
    )


def _sess_round_sql(prev: str, b: int, out: str) -> str:
    """One session-replay round as DuckDB CTEs (the MG-replay unroll
    idiom): finalize open sessions the batch-``b`` lagged watermark
    passed, drop late rows (initial end at/below it), then
    gaps-and-islands-merge surviving state with the kept fragments
    (overlap-or-touch, matching _merge_session_fragments)."""
    wm = f"(SELECT wm FROM ssn_wm WHERE b = {b})"
    return f"""
    {out}_fin AS (
      SELECT key, s_start, s_end, n FROM {prev}
      WHERE {wm} IS NOT NULL AND s_end < {wm}
    ),
    {out}_in AS (
      SELECT key, s_start, s_end, n FROM {prev}
      WHERE {wm} IS NULL OR s_end >= {wm}
      UNION ALL
      SELECT user_id, ts, ts + INTERVAL 6 HOUR, CAST(1 AS BIGINT)
      FROM ssn_ev
      WHERE b = {b}
        AND ({wm} IS NULL OR ts + INTERVAL 6 HOUR > {wm})
    ),
    {out} AS (
      SELECT key, MIN(s_start) AS s_start, MAX(s_end) AS s_end,
             CAST(SUM(n) AS BIGINT) AS n
      FROM (
        SELECT *, SUM(CASE WHEN pe IS NULL OR s_start > pe
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY key ORDER BY s_start, s_end
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM (SELECT *, MAX(s_end)
                     OVER (PARTITION BY key ORDER BY s_start, s_end
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pe
              FROM {out}_in)
      ) GROUP BY key, g
    )"""


@query(
    "streaming_session_replay",
    oracle=f"""
    WITH ssn_ev AS (
      SELECT user_id, ts, {_EV_BATCH_SQL} AS b FROM events
    ),
    ssn_bstats AS (SELECT b, MAX(ts) AS bmax FROM ssn_ev GROUP BY b),
    -- Batch-id spine (_SQL_EV_BATCH_SPINE): id-distance lag over
    -- supplied batch ids, NULL bmax of an empty batch skipped by MAX.
    ssn_ids AS (SELECT b FROM {_SQL_EV_BATCH_SPINE} sp),
    ssn_wm AS (
      SELECT b, MAX(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND 2 PRECEDING) - INTERVAL 2 HOUR AS wm
      FROM ssn_ids LEFT JOIN ssn_bstats USING (b)
      UNION ALL
      SELECT MAX(b) + 1, MAX(bmax) - INTERVAL 2 HOUR
      FROM ssn_ids LEFT JOIN ssn_bstats USING (b)
    ),
    ssn_s0 AS (
      SELECT CAST(NULL AS BIGINT) AS key,
             CAST(NULL AS TIMESTAMP) AS s_start,
             CAST(NULL AS TIMESTAMP) AS s_end,
             CAST(NULL AS BIGINT) AS n
      WHERE 1 = 0
    ),
    {_sess_round_sql("ssn_s0", 0, "ssn_r0").strip()},
    {_sess_round_sql("ssn_r0", 1, "ssn_r1").strip()},
    {_sess_round_sql("ssn_r1", 2, "ssn_r2").strip()},
    ssn_fin3 AS (
      SELECT key, s_start, s_end, n FROM ssn_r2
      WHERE s_end < (SELECT wm FROM ssn_wm WHERE b = 3)
    ),
    ssn_open AS (
      SELECT key, s_start, s_end, n FROM ssn_r2
      WHERE s_end >= (SELECT wm FROM ssn_wm WHERE b = 3)
    )
    SELECT key AS user_id, s_start AS session_start,
           s_end AS session_end, n AS n_events,
           CAST(eb AS INTEGER) AS emitted_batch
    FROM (
      SELECT *, 0 AS eb FROM ssn_r0_fin
      UNION ALL SELECT *, 1 AS eb FROM ssn_r1_fin
      UNION ALL SELECT *, 2 AS eb FROM ssn_r2_fin
      UNION ALL SELECT *, 3 AS eb FROM ssn_fin3
      UNION ALL SELECT *, NULL AS eb FROM ssn_open
    )
    """,
)
def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the watermarked SESSION-WINDOW state machine
    (streaming/events.session_counts) replayed as a deterministic
    arrival-batch fold — the hard member of the event-time family
    (sessions MERGE across batches, so each round is a genuine
    stateful fold, unrolled MG-replay-style in both engines). Probed
    live rules (pinned in tests/test_streaming.py): two-batch-lagged
    watermark; a row drops iff its initial session end is at/below it;
    finalization runs BEFORE the batch's merge (an emitted session is
    never resurrected — a late-but-kept neighbor starts fresh);
    fragments merge on overlap-or-touch; termination drains with the
    final watermark, still-open sessions emit NULL. Same straggler
    batches as the other replays. Scale shape: bounded watermark
    table; one keyed window + groupBy per round — the same per-batch
    keyed-state shuffle the live operator pays."""
    from ..streaming.events import session_replay

    t = load_tables(spark, sf_dir)
    ev = t["events"].withColumn("__batch", _ev_batch_col())
    return session_replay(
        ev, "__batch", _EV_BATCH_IDS, gap="6 hours", delay="2 hours"
    )


def _dedup_replay_oracle(delay_sql: str = "INTERVAL 2 HOUR") -> str:
    """The dropDuplicatesWithinWatermark state machine unrolled as
    DuckDB CTEs — one (evict, late-split, anti/semi probe, min-keeper)
    block per arrival batch (the MG-replay unroll idiom). Rules match
    streaming/events.dedup_replay's probed contract verbatim: lag-2
    watermark for BOTH the late drop (ts <= wm) and eviction
    (ts0 + delay <= wm, applied before the batch's rows), emit resets
    state with the row's own event time, suppressed duplicates do not
    extend expiry, deterministic min-ts keeper within a batch."""
    parts = [
        f"""
    sdr_ev AS MATERIALIZED (
      SELECT event_id % 101 AS dk, ts, {_EV_BATCH_SQL} AS b FROM events
    ),
    sdr_bstats AS (SELECT b, MAX(ts) AS bmax FROM sdr_ev GROUP BY b),
    -- Batch-id spine (_SQL_EV_BATCH_SPINE): the lag-2 watermark is an
    -- ID-distance lag over the SUPPLIED batch ids (an empty batch
    -- still advances the lag, its NULL bmax skipped by MAX) —
    -- mirroring the engine's ids.join(bstats, 'left'), not a
    -- row-distance window over observed batches only.
    sdr_ids AS (SELECT b FROM {_SQL_EV_BATCH_SPINE} sp),
    sdr_wm AS MATERIALIZED (
      SELECT b, MAX(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND 2 PRECEDING) - {delay_sql} AS wm
      FROM sdr_ids LEFT JOIN sdr_bstats USING (b)
    ),
    st0 AS (SELECT CAST(NULL AS BIGINT) AS dk,
                   CAST(NULL AS TIMESTAMP) AS ts0 WHERE 1 = 0)"""
    ]
    for b in (0, 1, 2):
        wm = f"(SELECT wm FROM sdr_wm WHERE b = {b})"
        parts.append(
            f"""
    alive{b} AS MATERIALIZED (
      SELECT dk, ts0 FROM st{b}
      WHERE {wm} IS NULL OR ts0 + {delay_sql} > {wm}
    ),
    late{b} AS (
      SELECT dk, ts, 'late_dropped' AS verdict FROM sdr_ev
      WHERE b = {b} AND {wm} IS NOT NULL AND ts <= {wm}
    ),
    live{b} AS MATERIALIZED (
      SELECT dk, ts FROM sdr_ev
      WHERE b = {b} AND ({wm} IS NULL OR ts > {wm})
    ),
    suppst{b} AS (
      SELECT l.dk, l.ts, 'dup_suppressed' AS verdict
      FROM live{b} l JOIN alive{b} a USING (dk)
    ),
    cand{b} AS (
      SELECT l.dk, l.ts FROM live{b} l
      LEFT JOIN alive{b} a USING (dk) WHERE a.dk IS NULL
    ),
    keep{b} AS MATERIALIZED (
      SELECT dk, MIN(ts) AS ts FROM cand{b} GROUP BY dk
    ),
    suppb{b} AS (
      SELECT c.dk, c.ts, 'dup_suppressed' AS verdict
      FROM cand{b} c JOIN keep{b} k USING (dk) WHERE c.ts <> k.ts
    ),
    st{b + 1} AS MATERIALIZED (
      SELECT dk, ts0 FROM alive{b}
      UNION ALL SELECT dk, ts AS ts0 FROM keep{b}
    )"""
        )
    unions = " UNION ALL ".join(
        f"""SELECT dk, ts, {b} AS batch, verdict FROM (
          SELECT dk, ts, verdict FROM late{b}
          UNION ALL SELECT dk, ts, verdict FROM suppst{b}
          UNION ALL SELECT dk, ts, 'emitted' AS verdict FROM keep{b}
          UNION ALL SELECT dk, ts, verdict FROM suppb{b})"""
        for b in (0, 1, 2)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT dk, ts, CAST(batch AS INTEGER) AS batch, verdict
    FROM ({unions})"""
    )


@query("streaming_dedup_replay", oracle=_dedup_replay_oracle())
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the event-time state machine of streaming dedup
    (streaming/events.dedup_within_watermark —
    ``dropDuplicatesWithinWatermark``) replayed as a deterministic
    batch fold, completing the replay family (tumbling / session /
    interval join / dedup). Rules PROBED live, not assumed (pinned in
    tests/test_streaming.py): the lag-2 watermark drives BOTH the
    late drop (ts <= wm, equality probed) and state eviction
    (ts0 + delay <= wm, applied before the batch's rows — an expiring
    key's same-batch re-arrival EMITS), emission resets state with
    the row's own event time, and a suppressed duplicate does NOT
    extend expiry. The dedup key is event_id % 101, so keys recur
    across the three arrival batches and every verdict path — emit,
    state-suppress, batch-suppress, late-drop, evict-then-re-emit —
    carries real rows. Output is one verdict row per arrival
    (exact (key, ts, batch) duplicate arrivals collapse into the
    single emitted row in both engines), so keeps, drops AND
    suppressions are hash-checked.
    Scale shape: one bounded broadcast watermark row per batch; each
    round one keyed anti/semi probe + one keyed min — the live
    operator's keyed-state shuffle, with per-round eager checkpoints
    holding plan depth O(1)."""
    from ..streaming.events import dedup_replay

    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        (F.col("event_id") % 101).alias("dk"),
        "ts",
        _ev_batch_col().alias("__batch"),
    )
    return dedup_replay(
        ev, "__batch", _EV_BATCH_IDS, ts_col="ts", key="dk", delay="2 hours"
    )


def _rp_distortion_oracle(n_planes: int = 16, table: int = 7) -> str:
    """JL distortion contract oracle: same md5-derived integer planes
    (inlined as list literals), same quantization, every product in
    HUGEINT — the whole contract is integer division, no float sums."""
    from ..operators.similarity import md5_int_planes

    planes = md5_int_planes(dim=64, n_planes=n_planes, table=table)
    s_total = sum(c * c for p in planes for c in p)
    dim = len(planes[0])
    drs = []
    for j, p in enumerate(planes):
        lit = "[" + ",".join(str(c) for c in p) + "]"
        drs.append(
            f"CAST((SELECT SUM(x.a * x.b) FROM (SELECT UNNEST(dq) AS a, "
            f"UNNEST({lit}) AS b) x) AS HUGEINT)"
        )
    proj = " + ".join(f"({d} * {d})" for d in drs)
    return f"""
    WITH rp_q AS (
      SELECT vec_id,
             {sql_quantize("embedding")} AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    rp_pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[CAST(i AS INT)] - b.qv[CAST(i AS INT)]) AS dq
      FROM rp_q a JOIN rp_q b ON b.vec_id = a.vec_id + 1
    ),
    rp_m AS (
      SELECT vec_id_a, vec_id_b,
             CAST((SELECT SUM(x.a * x.a)
                   FROM (SELECT UNNEST(dq) AS a) x) AS BIGINT) AS true_d2,
             ({proj}) AS proj
      FROM rp_pairs
    )
    SELECT vec_id_a, vec_id_b, true_d2,
           CASE WHEN true_d2 > 0
                THEN CAST((proj * {dim * 10000})
                          // (CAST({s_total} AS HUGEINT) * true_d2) AS BIGINT)
                END AS ratio_scaled,
           CASE WHEN true_d2 > 0
                 AND (proj * {dim * 10000})
                     // (CAST({s_total} AS HUGEINT) * true_d2)
                     BETWEEN 5000 AND 20000
                THEN 1 ELSE 0 END AS within_band
    FROM rp_m
    """


@query("embedding_rp_distortion", oracle=_rp_distortion_oracle())
def embedding_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: Johnson-Lindenstrauss random-projection distortion
    contract (operators/similarity.rp_distortion) — per consecutive
    vector pair, true squared L2 distance vs its k=16 md5-portable
    projection estimate as ONE scaled-integer ratio, with the
    [0.5, 2.0] concentration band flagged. Completes the
    accuracy-contract family (minhash / quantile / distinct-count /
    ANN recall) for the dimensionality-reduction step a 100 TB
    pipeline runs before ANN. Integer-exact end-to-end: quantized
    BIGINT vectors, integer planes, DECIMAL(38)/HUGEINT squares,
    integer division — no float summation order anywhere. Map-only
    after one sorted equi-self-join on (id, id+1)."""
    from ..operators.similarity import rp_distortion

    t = load_tables(spark, sf_dir)
    return rp_distortion(t["embeddings"])


# ------------------------------------------- documents -> embeddings

def _embed_vec_ctes(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix: str = "",
) -> str:
    """The frozen-linear-encoder derivation (multimodal/media.
    embed_weight — weight literals inlined from the SAME Python
    function the Spark expression uses, so the two matrices cannot
    drift) as shared CTE text ending in ``{prefix}ev({id_col}, v)`` —
    composed by the mm_embed_text / mm_embed_ann_topk oracles
    (defaults) and, parameterized, by pipeline_rag_retrieval's chunk
    and query encoders (``prefix`` keeps the two instantiations'
    CTE names disjoint in one statement)."""
    from ..multimodal.media import EMBED_DIM, EMBED_FEATURES, embed_weight

    b = sql_hash_bucket("w", EMBED_FEATURES)
    words = _SQL_WORDS.replace("lower(text)", f"lower({text_col})")
    p = prefix
    feats = ", ".join(
        f"CAST(len(list_filter(bs, b -> b = {j})) AS BIGINT) AS f{j}"
        for j in range(EMBED_FEATURES)
    )
    dims = ", ".join(
        "CAST("
        + " + ".join(
            f"({embed_weight(i, j)})*f{j}" for j in range(EMBED_FEATURES)
        )
        + f" AS BIGINT) AS e{i}"
        for i in range(EMBED_DIM)
    )
    vec = "[" + ", ".join(f"e{i}" for i in range(EMBED_DIM)) + "]"
    return f"""
    {p}w AS (SELECT {id_col}, {words} AS ws FROM {src}),
    {p}bk AS (SELECT {id_col}, list_transform(ws, w -> {b}) AS bs
              FROM {p}w),
    {p}f AS (SELECT {id_col}, {feats} FROM {p}bk),
    {p}e AS (SELECT {id_col}, {dims} FROM {p}f),
    {p}ev AS MATERIALIZED (SELECT {id_col}, {vec} AS v FROM {p}e)"""


def _embed_text_oracle() -> str:
    """Oracle for mm_embed_text: string + checksum projection of the
    shared frozen-encoder CTEs."""
    return f"""
    WITH {_embed_vec_ctes()}
    SELECT doc_id,
           array_to_string(v, ' ') AS embedding,
           CAST(list_sum(v) AS BIGINT) AS sum_e,
           CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)
             AS l2_sq
    FROM ev
    """


@query("mm_embed_text", headline=True, oracle=_embed_text_oracle())
def mm_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: documents → embedding vectors as an oracle-CHECKED
    derivation (multimodal/media.embed_text_linear) — the frozen
    integer-quantized linear encoder standing in for the real model
    at the `extract_features` TorchScript seam (VERDICT r12 missing
    #1: the `embeddings` fixture table was only ever an INPUT; this
    row derives vectors from text with exact integer math). One
    map-only projection — tokenize, md5-bucket, count, frozen matrix
    multiply are all JVM expressions; zero shuffle, zero UDF, the
    plan shape a 100 TB corpus-wide encode must have. Vector emitted
    as a space-joined string (catalog complex-cell ban) with integer
    checksums pinning every component."""
    from ..multimodal.media import embed_text_linear

    t = load_tables(spark, sf_dir)
    return embed_text_linear(t["documents"])


def _append_recall_oracle() -> str:
    """Oracle for sim_ivf_append_recall: the IVF pipeline
    twice — once with centroids drawn ONLY from the pre-append corpus
    (vec_id % 5 <> 0: the stale-centroid regime an `ivf_index_append`ed
    index runs in) and once trained fresh on everything — each scored
    for recall@5 against the exact brute-force top-5."""
    stale = _sim_ivf_oracle("WHERE vec_id % 5 <> 0")

    def hits(cte: str, out: str) -> str:
        return f"""
      SELECT b.query_id,
             CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS {out}
      FROM bf b LEFT JOIN {cte} a
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY b.query_id"""

    return f"""
    WITH bf AS ({_SIM_ORACLE}),
    st AS ({stale}),
    fr AS ({_SIM_IVF_ORACLE}),
    hs AS ({hits("st", "n_hits_stale")}),
    hf AS ({hits("fr", "n_hits_fresh")})
    SELECT hs.query_id, hs.n_hits_stale,
           (floor((CAST(hs.n_hits_stale AS DOUBLE) / 5.0) * 10000 + 0.5)
              / 10000) AS recall_stale,
           hf.n_hits_fresh,
           (floor((CAST(hf.n_hits_fresh AS DOUBLE) / 5.0) * 10000 + 0.5)
              / 10000) AS recall_fresh,
           (floor((CAST(hf.n_hits_fresh - hs.n_hits_stale AS DOUBLE) / 5.0)
              * 10000 + 0.5) / 10000) AS recall_drift
    FROM hs JOIN hf ON hf.query_id = hs.query_id
    """


@query("sim_ivf_append_recall", oracle=_append_recall_oracle())
def sim_ivf_append_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the STALENESS contract for incremental IVF maintenance
    (operators/similarity.ivf_index_append — VERDICT r12 item #4).
    An appended index keeps serving the centroids it was BUILT with;
    as the corpus grows past them, recall drifts. This row makes that
    drift a per-query verified number instead of folklore: recall@5
    of the stale-centroid retrieval (centroids eligible from the
    pre-append 4/5 of the corpus only, assignment/scoring over
    everything — exactly the appended index's regime, pinned
    row-identical to the materialized path in
    tests/test_similarity.py) vs the fresh rebuild, both against
    exact brute force. The tuning signal a 100 TB operator watches to
    schedule re-trains."""
    from ..operators.similarity import brute_force_topk, ivf_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(corpus=emb, queries=q, k=5).select(
        "query_id", "neighbor_id"
    )

    def hits(ap: DataFrame, out: str) -> DataFrame:
        ap = ap.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        return (
            exact.join(ap, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias(out)
            )
        )

    stale = ivf_topk(
        emb, q, k=5, n_centroids=16, nprobe=4,
        train_on=emb.filter(F.col("vec_id") % 5 != 0),
    )
    fresh = ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4)
    hs = hits(stale, "n_hits_stale")
    hf = hits(fresh, "n_hits_fresh")
    return hs.join(hf, "query_id").select(
        "query_id",
        "n_hits_stale",
        round_det(F.col("n_hits_stale") / 5.0, 4).alias("recall_stale"),
        "n_hits_fresh",
        round_det(F.col("n_hits_fresh") / 5.0, 4).alias("recall_fresh"),
        round_det(
            (F.col("n_hits_fresh") - F.col("n_hits_stale")) / 5.0, 4
        ).alias("recall_drift"),
    )


def _embed_ann_oracle() -> str:
    """Oracle for mm_embed_ann_topk: exact top-5 cosine over the
    frozen-encoder vectors. Integer dot products and squared norms
    stay far inside double's 2^53 exact-integer range (|e_i| ≤ 6·16·
    word_count), so the float cosine is bit-identical regardless of
    summation order — no ulp drift anywhere."""
    return f"""
    WITH {_embed_vec_ctes()},
    nz AS (
      SELECT doc_id, v,
             CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS l2
      FROM ev
      WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    q AS (SELECT doc_id, v, l2 FROM nz WHERE doc_id < 10),
    scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(q.v) AS a, UNNEST(c.v) AS b) x)
             / (sqrt(CAST(q.l2 AS DOUBLE)) * sqrt(CAST(c.l2 AS DOUBLE)))
               AS cr
      FROM q JOIN nz c ON c.doc_id <> q.doc_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cr,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cr DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           (floor((cr) * 10000 + 0.5) / 10000) AS cosine
    FROM ranked WHERE rank <= 5
    """


@query("mm_embed_ann_topk", oracle=_embed_ann_oracle())
def mm_embed_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: text → DERIVED embeddings → exact top-5 cosine retrieval
    as one oracle-checked composite — the similarity pipeline running
    on vectors the engine itself derived (multimodal/media.
    embed_text_vec), not on the embeddings fixture; with
    mm_embed_text this closes the derivation loop the r12 verdict
    flagged (encode feeds retrieval, both verified). Zero-norm
    vectors are excluded on both sides (cosine undefined). Shape: the
    derivation is map-only; the vector frame is eager-checkpointed
    once (corpus AND query consumer); the bounded query side (10
    rows) broadcasts into a JVM zip_with dot product and one
    per-query top-k window — the brute-force ANN baseline's plan over
    a derived table."""
    from pyspark.sql import Window as W

    from ..multimodal.media import embed_text_vec
    from ..session import eager_checkpoint

    t = load_tables(spark, sf_dir)
    v = eager_checkpoint(embed_text_vec(t["documents"]))
    l2 = F.aggregate(
        F.col("v"), F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    nz = v.select(
        "doc_id", F.col("vec").alias("v")
    ).withColumn("l2", l2).where(F.col("l2") > 0)
    q = nz.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("l2").alias("ql2"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    ).cast("double")
    scored = (
        nz.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            (
                dot
                / (
                    F.sqrt(F.col("ql2").cast("double"))
                    * F.sqrt(F.col("l2").cast("double"))
                )
            ).alias("cr"),
        )
    )
    win = W.partitionBy("query_id").orderBy(
        F.col("cr").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            round_det(F.col("cr"), 4).alias("cosine"),
        )
    )


# --------------------------------------- distributed Lloyd's k-means

def _kmeans_ctes(k: int = 8, iters: int = 3, dim: int = 64,
                 prefix: str = "", include_q: bool = True) -> list[str]:
    """The trained-quantizer CTE chain, shared by the kmeans_lloyd_
    stats oracle, the sim_ivf_lloyd_topk retrieval oracle, and (with
    per-k prefixes over ONE shared ``q``) the kmeans_elbow_curve
    sweep: the WHOLE fixed point unrolled — md5-ordered seeds,
    `iters` assignment/update rounds — ending in ``{prefix}c{iters}``
    (the trained centroids) and ``{prefix}af(vec_id, cell, d)`` (the
    final corpus assignment). Every step is exact integer arithmetic
    (quantized BIGINT vectors, integer squared-L2, the
    integer-lattice floor mean as (s - floormod(s, n)) // n — the
    numerator is an exact multiple of n, so truncating `//` equals
    the engine's Python floor `//`), so DuckDB replays the trained
    model bit-for-bit. Empty cells COALESCE to the previous centroid,
    same deterministic repair as operators/kmeans.lloyd_centroids."""
    p = prefix
    sums = ", ".join(f"SUM(qv[{j + 1}]) AS s{j}" for j in range(dim))
    mean = ", ".join(
        f"CAST((s{j} - (((s{j}) % n) + n) % n) // n AS BIGINT)"
        for j in range(dim)
    )
    dist = (
        "(SELECT SUM((x.a - x.b) * (x.a - x.b)) "
        "FROM (SELECT UNNEST(v.qv) AS a, UNNEST(c.m) AS b) x)"
    )
    ctes = []
    if include_q:
        ctes.append(f"""q AS MATERIALIZED (
      SELECT vec_id, {sql_quantize("embedding")} AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0)""")
    ctes.append(f"""{p}c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS INTEGER) AS cell,
             qv AS m
      FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {k})""")
    for i in range(1, iters + 1):
        pp = i - 1
        ctes += [
            f"""{p}d{i} AS (
      SELECT v.vec_id, v.qv, c.cell, {dist} AS d
      FROM q v CROSS JOIN {p}c{pp} c)""",
            f"""{p}a{i} AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell) AS rn
        FROM {p}d{i}) WHERE rn = 1)""",
            f"""{p}g{i} AS (
      SELECT cell, COUNT(*) AS n, {sums} FROM {p}a{i} GROUP BY cell)""",
            f"""{p}c{i} AS MATERIALIZED (
      SELECT p.cell,
             CASE WHEN g.cell IS NULL THEN p.m ELSE [{mean}] END AS m
      FROM {p}c{pp} p LEFT JOIN {p}g{i} g ON g.cell = p.cell)""",
        ]
    ctes += [
        f"""{p}df AS (
      SELECT v.vec_id, c.cell, {dist} AS d
      FROM q v CROSS JOIN {p}c{iters} c)""",
        f"""{p}af AS (
      SELECT vec_id, cell, d FROM (
        SELECT vec_id, cell, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell) AS rn
        FROM {p}df) WHERE rn = 1)""",
    ]
    return ctes


def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Oracle for kmeans_lloyd_stats: the shared trained-quantizer
    chain (`_kmeans_ctes`) plus the final-centroid cell stats."""
    ctes = _kmeans_ctes(k, iters, dim) + [
        """st AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(d) AS BIGINT) AS inertia
      FROM af GROUP BY cell)""",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT st.cell, st.n_members, st.inertia,
           CAST(list_sum(c.m) AS BIGINT) AS m_sum,
           CAST(list_sum(list_transform(c.m, x -> x * x)) AS BIGINT)
             AS m_l2
    FROM st JOIN c{iters} c ON c.cell = st.cell
    GROUP BY st.cell, st.n_members, st.inertia, c.m
    """


def _ivf_lloyd_oracle(k: int = 8, iters: int = 3, dim: int = 64,
                      nprobe: int = 3) -> str:
    """Oracle for sim_ivf_lloyd_topk: the SAME trained-quantizer CTE
    chain as kmeans_lloyd_stats (train → final corpus assignment
    `af`), then the IVF probe/score/rank tail — queries probe their
    `nprobe` nearest trained cells by integer squared-L2, candidates
    score by exact integer cosine over the quantized vectors (dots ≪
    2^53, so the float division replays bit-for-bit), rank on the raw
    cosine with neighbor-id ties, top-5, 4 dp output rounding — the
    sim_ivf_topk contract with a TRAINED quantizer."""
    dist = (
        "(SELECT SUM((x.a - x.b) * (x.a - x.b)) "
        "FROM (SELECT UNNEST(v.qv) AS a, UNNEST(c.m) AS b) x)"
    )
    ctes = _kmeans_ctes(k, iters, dim) + [
        f"""qp AS (
      SELECT query_id, cell FROM (
        SELECT v.vec_id AS query_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist}, c.cell) AS rn
        FROM q v CROSS JOIN c{iters} c WHERE v.vec_id < 10)
      WHERE rn <= {nprobe})""",
        """nrm AS MATERIALIZED (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
               AS l2
      FROM q)""",
        """cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM qp p JOIN af a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id)""",
        """scored AS (
      SELECT c.query_id, c.neighbor_id,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(qn.qv) AS a, UNNEST(nn.qv) AS b) x)
             / (sqrt(CAST(qn.l2 AS DOUBLE)) * sqrt(CAST(nn.l2 AS DOUBLE)))
               AS cr
      FROM cand c
      JOIN nrm qn ON qn.vec_id = c.query_id
      JOIN nrm nn ON nn.vec_id = c.neighbor_id
      WHERE qn.l2 > 0 AND nn.l2 > 0)""",
        """ranked AS (
      SELECT query_id, neighbor_id, cr,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cr DESC, neighbor_id ASC)
               AS rank
      FROM scored)""",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           (floor((cr) * 10000 + 0.5) / 10000) AS cosine
    FROM ranked WHERE rank <= 5
    """


@query("kmeans_lloyd_stats", headline=True, oracle=_kmeans_oracle())
def kmeans_lloyd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: DISTRIBUTED Lloyd's k-means over the full embeddings
    corpus (operators/kmeans.py) — the engine's second oracle-checked
    fixed-point iterative algorithm (after PageRank) and the training
    step the IVF coarse quantizer would add to its raw md5 seeds; at
    100 TB you run exactly this:
    k=8 / 3 Lloyd rounds, each ONE map-only argmin scan into a k-cell
    groupBy of per-dim partial sums (shuffle payload k·(dim+1) longs
    per partition, driver crossing exactly k rows per round, model
    inlined as literals — no join, no broadcast frame). Everything is
    exact integer math from the shared portable quantizer/seed idioms
    (quantize_expr, md5-ordered seeds), ties to the lowest cell, the
    integer-lattice floor mean as the update, deterministic empty-cell
    repair — so the oracle replays the ENTIRE training trajectory and
    the emitted model checksums (m_sum, m_l2), member counts and exact
    inertia are bit-for-bit, not approximately, right."""
    from ..operators.kmeans import kmeans_cell_stats

    t = load_tables(spark, sf_dir)
    return kmeans_cell_stats(t["embeddings"], k=8, iters=3)


@query("sim_ivf_lloyd_topk", oracle=_ivf_lloyd_oracle())
def sim_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: IVF retrieval over the LLOYD-TRAINED quantizer — the full
    train → assign → probe → score → rank loop in one oracle-checked
    row, sharing the training CTE chain with kmeans_lloyd_stats
    verbatim (`_kmeans_ctes`) so the trainer row and the retrieval
    row cannot drift. sim_ivf_topk verifies the retrieval tail with RAW
    md5 seeds; this row closes the loop with centroids the engine
    actually TRAINED (3 full-corpus Lloyd rounds), the quantizer a
    100 TB deployment would serve. Queries probe their nprobe=3
    nearest trained cells by integer squared-L2; candidates score by
    exact integer cosine over the quantized vectors (dots ≪ 2^53 —
    the float division replays bit-for-bit); top-5 per query. Shape:
    corpus assignment is the same map-only argmin scan the trainer
    uses over the ONE checkpointed quantized frame; the 30 probe rows
    broadcast into the cell join; ranking is one per-query window."""
    t = load_tables(spark, sf_dir)
    return _lloyd_topk_frame(t["embeddings"], iters=3)


def _lloyd_topk_frame(emb: DataFrame, iters: int) -> DataFrame:
    """The Lloyd-quantizer IVF retrieval tail, parameterized by
    training depth: iters=3 is the trained row (sim_ivf_lloyd_topk),
    iters=0 retrieves with the RAW md5 seeds through the identical
    machinery — the matched-configuration baseline
    sim_ivf_trained_recall prices training against."""
    from pyspark.sql import Window as W

    from ..operators.kmeans import (
        _assignment,
        _sq_dist_rank_expr,
        lloyd_centroids,
    )

    cents, q = lloyd_centroids(emb, k=8, iters=iters)
    l2_of = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    corpus = q.select(
        F.col("i").alias("neighbor_id"),
        F.col("qv").alias("nv"),
        _assignment(F.col("qv"), cents)["cell"].alias("cell"),
    ).withColumn("nl2", l2_of(F.col("nv")))
    probe_cells = F.slice(
        _sq_dist_rank_expr(F.col("qv"), cents), 1, 3
    )
    qp = (
        q.where(F.col("i") < 10)
        .select(
            F.col("i").alias("query_id"),
            F.col("qv").alias("qvq"),
            F.explode(
                F.transform(probe_cells, lambda s: s["cell"])
            ).alias("cell"),
        )
        .withColumn("ql2", l2_of(F.col("qvq")))
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvq"), F.col("nv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    ).cast("double")
    scored = (
        corpus.join(F.broadcast(qp), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .where((F.col("nl2") > 0) & (F.col("ql2") > 0))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot
                / (
                    F.sqrt(F.col("ql2").cast("double"))
                    * F.sqrt(F.col("nl2").cast("double"))
                )
            ).alias("cr"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cr").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            round_det(F.col("cr"), 4).alias("cosine"),
        )
    )


# ------------------------------------------------ RAG retrieval e2e

def _rag_oracle() -> str:
    """Oracle for pipeline_rag_retrieval — the full chunk → encode →
    hybrid-retrieve pipeline composed from the standalone stages' SQL
    fragments so they cannot drift: the udtf_doc_chunking window
    arithmetic, TWO instantiations of the shared frozen-encoder CTEs
    (`_embed_vec_ctes`, chunk + query prefixes), the search_bm25_topk
    scoring text generalized per-query, and the search_hybrid_rrf
    fusion rules (c=60, 6 dp rounding, rank-then-fuse)."""
    c_toks = _SQL_TOKS.replace("lower(text)", "lower(chunk_text)")
    q_toks = _SQL_TOKS.replace("lower(text)", "lower(qtext)")
    return f"""
    WITH dtoks AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    ch0 AS (
      SELECT doc_id, len(w) AS n_tok,
             unnest(range(0,
               CASE WHEN len(w) <= 0 THEN 0
                    WHEN len(w) <= 32 THEN 1
                    ELSE 1 + CAST(ceil((len(w) - 32) / 24.0) AS INT)
               END)) AS chunk_id,
             w
      FROM dtoks
    ),
    ch AS MATERIALIZED (
      SELECT doc_id,
             CAST(doc_id * 100000 + chunk_id AS BIGINT) AS ckey,
             array_to_string(
               w[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tok)],
               ' ') AS chunk_text
      FROM ch0
      WHERE len(w[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tok)])
              > 0
    ),
    qs AS MATERIALIZED (
      SELECT doc_id AS query_id, array_to_string(w[1:12], ' ') AS qtext
      FROM dtoks WHERE doc_id < 5
    ),
    {_embed_vec_ctes(src="ch", id_col="ckey",
                     text_col="chunk_text", prefix="c")},
    {_embed_vec_ctes(src="qs", id_col="query_id",
                     text_col="qtext", prefix="q")},
    cnz AS (
      SELECT ckey, v,
             CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)
               AS l2
      FROM cev WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    qnz AS (
      SELECT query_id, v,
             CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)
               AS l2
      FROM qev WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    sem0 AS (
      SELECT q.query_id, c.ckey,
             (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
                FROM (SELECT UNNEST(q.v) AS a, UNNEST(c.v) AS b) x)
             / (sqrt(CAST(q.l2 AS DOUBLE)) * sqrt(CAST(c.l2 AS DOUBLE)))
               AS cr
      FROM qnz q CROSS JOIN cnz c
    ),
    sem AS (
      SELECT query_id, ckey, rank_sem FROM (
        SELECT query_id, ckey,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cr DESC, ckey ASC)
                    AS INTEGER) AS rank_sem
        FROM sem0) WHERE rank_sem <= 20
    ),
    ctoks AS (SELECT ckey, {c_toks} AS w FROM ch),
    stats AS (
      SELECT count(*) AS n_docs, avg(COALESCE(len(w), 0)) AS avgdl
      FROM ctoks
    ),
    cex AS (
      SELECT ckey, COALESCE(len(w), 0) AS dl, unnest(w) AS term
      FROM ctoks
    ),
    qterm AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT query_id, unnest({q_toks}) AS term FROM qs)
    ),
    tf AS (
      SELECT ckey, dl, term, count(*) AS tf
      FROM cex WHERE term IN (SELECT term FROM qterm)
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    lex0 AS (
      SELECT qt.query_id, tf.ckey,
             SUM( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                  * (tf.tf * (1.2 + 1.0))
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
             ) AS score_raw
      FROM qterm qt
      JOIN tf ON tf.term = qt.term
      JOIN dfreq d ON d.term = qt.term
      CROSS JOIN stats s
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT query_id, ckey, rank_lex FROM (
        SELECT query_id, ckey,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY (floor(score_raw * 10000 + 0.5) / 10000) DESC,
                          ckey ASC) AS INTEGER) AS rank_lex
        FROM lex0) WHERE rank_lex <= 20
    ),
    fused AS (
      SELECT query_id, ckey, rank_lex, rank_sem,
             (floor((COALESCE(1.0 / (60 + rank_lex), 0.0)
                     + COALESCE(1.0 / (60 + rank_sem), 0.0)) * 1000000
                    + 0.5) / 1000000) AS rrf_score
      FROM lex FULL OUTER JOIN sem USING (query_id, ckey)
    ),
    ranked AS (
      SELECT query_id, ckey, rank_lex, rank_sem, rrf_score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, ckey ASC)
                  AS INTEGER) AS rank
      FROM fused
    )
    SELECT query_id,
           CAST((ckey - ckey % 100000) // 100000 AS BIGINT) AS doc_id,
           CAST(ckey % 100000 AS BIGINT) AS chunk_id,
           rank, rrf_score, rank_lex, rank_sem
    FROM ranked WHERE rank <= 5
    """


@query("pipeline_rag_retrieval", headline=True, oracle=_rag_oracle())
def pipeline_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT COMPOSITE: the RAG indexing+serving pipeline END-TO-END on
    engine-derived artifacts — documents are context-window chunked
    (operators/pipeline.chunk_tokens, 32/24), every chunk AND query is
    encoded by the frozen integer linear encoder
    (multimodal/media.embed_text_vec — the verified documents→
    embeddings derivation), then 5 pinned queries (each the first 12
    words of a document — self-retrieval sanity built in) are answered
    by BOTH retrievers and fused: exact integer-cosine top-20 over the
    derived chunk vectors, multi-query BM25 top-20 over the chunk
    corpus (operators/search.bm25_multi_topk — ONE postings pass for
    all queries), reciprocal-rank fusion (c=60) → top-5 chunks per
    query. The oracle reuses the standalone stages' SQL fragments
    (chunking window arithmetic, two instantiations of the shared
    encoder CTEs, the BM25 scoring text, the RRF rounding rules), so
    composite and stages cannot drift.

    Scale shape (r13): ONE map-only corpus pass tokenizes, encodes
    AND reduces each chunk to (vec, l2, dl, query-matching tokens) —
    the single eager-checkpointed frame serves the cosine retriever
    and both BM25 consumers (corpus stats agg, postings explode), so
    the corpus is materialized once where the r12 shape paid three
    passes and three corpus-sized checkpoints; the cosine side
    broadcasts the BOUNDED query vectors (5 rows) into a JVM zip_with
    dot — the corpus-sized chunk-vector frame is never shuffled OR
    broadcast; the BM25 side reduces each chunk in-row to its
    query-term matches (a literal InSet over the bounded collected
    term union) so only matching postings reach its one tf shuffle;
    fusion sees ≤ 2·k_each rows per query.
    Chunk keys pack as doc_id·100000 + chunk_id (documents beyond
    2.4M whitespace tokens would overflow the packing — both engines
    share the formula, and the corpus front door rejects pages that
    large long before this)."""
    from pyspark.sql import Window as W

    from ..functions.text import dedup_tokens_expr, words_expr
    from ..multimodal.media import embed_text_vec
    from ..operators.partitioning import ensure_parallelism
    from ..operators.pipeline import chunk_tokens
    from ..operators.search import _query_hits, bm25_multi_topk
    from ..session import eager_checkpoint

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    chunks = chunk_tokens(docs, window=32, stride=24)
    # Explicit width before the encoder pass: the chunk explode
    # inherits the parquet scan's split count (ONE partition at
    # catalog SFs), which would serialize the encoder pass on a
    # single core — the span_dedup ensure_parallelism lesson,
    # measured 11.9 s → 1.6 s on the sf0.1 chunk encode. No
    # checkpoint here (r13): the encoder pass below is now the
    # chunk frame's ONLY consumer, so materializing the corpus
    # of chunk texts bought nothing.
    chunks = ensure_parallelism(
        chunks.select(
            (F.col("doc_id") * 100000 + F.col("chunk_id")).alias(
                "ckey"
            ),
            "chunk_text",
        )
    )
    q = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(words_expr(F.col("text")), 1, 12), " "
        ).alias("qtext"),
    )
    l2_of = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    # Bounded driver collect of the distinct query terms (5 pinned
    # 12-word queries — the SAME derivation bm25_multi_topk performs
    # internally), so the BM25 corpus proxy (dl, qtoks) can be
    # computed inside the encoder's corpus pass below and handed to
    # bm25_multi_topk as doc_base: ONE corpus pass tokenizes, encodes
    # and reduces each chunk, where the r12 shape paid three (chunk
    # checkpoint, encode pass, bm25's own tokenization) plus two extra
    # corpus-sized checkpoint materializations (guide §1.2 step 1:
    # remove passes, don't compute what you throw away).
    terms = sorted(
        r.term
        for r in q.select(
            F.explode(
                F.array_distinct(dedup_tokens_expr(F.col("qtext")))
            ).alias("term")
        )
        .distinct()
        .collect()
    )
    # Stage the tokenization in its own projection (CollapseProject
    # will not duplicate a non-cheap expression referenced twice),
    # then reduce to dl + query-matching tokens.
    based = chunks.select(
        "ckey",
        "chunk_text",
        dedup_tokens_expr(F.col("chunk_text")).alias("__toks"),
    ).select(
        "ckey",
        "chunk_text",
        F.coalesce(F.size("__toks"), F.lit(0)).alias("dl"),
        _query_hits(F.col("__toks"), terms).alias("qtoks"),
    )
    # Checkpoint the encoder output (with the BM25 proxy threaded
    # through via keep=) before the cross-join scorer: the encoder is
    # a deep expression tree (16 features × 8 dims over the
    # tokenization), and letting it inline through the join + window
    # lineage multiplies it into an optimizer/codegen blowup (the
    # mm_embed_ann_topk lesson). After materialization v/qv are plain
    # array columns. The SAME checkpoint serves the cosine retriever
    # (v, l2) and both BM25 consumers (dl, qtoks: stats agg + postings
    # explode).
    enc = eager_checkpoint(
        embed_text_vec(based, "chunk_text", "ckey", keep=("dl", "qtoks"))
        .select("ckey", "dl", "qtoks", F.col("vec").alias("v"))
        .withColumn("l2", l2_of(F.col("v")))
    )
    cnz = enc.select("ckey", "v", "l2").where(F.col("l2") > 0)
    qnz = eager_checkpoint(
        embed_text_vec(q, "qtext", "query_id")
        .select("query_id", F.col("vec").alias("qv"))
        .withColumn("ql2", l2_of(F.col("qv")))
        .where(F.col("ql2") > 0)
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    ).cast("double")
    sem_w = W.partitionBy("query_id").orderBy(
        F.col("cr").desc(), F.col("ckey").asc()
    )
    sem = (
        cnz.crossJoin(F.broadcast(qnz))
        .select(
            "query_id",
            "ckey",
            (
                dot
                / (
                    F.sqrt(F.col("ql2").cast("double"))
                    * F.sqrt(F.col("l2").cast("double"))
                )
            ).alias("cr"),
        )
        .withColumn("rank_sem", F.row_number().over(sem_w).cast("int"))
        .where(F.col("rank_sem") <= 20)
        .select("query_id", "ckey", "rank_sem")
    )
    lex = bm25_multi_topk(
        chunks,
        q,
        text_col="chunk_text",
        id_col="ckey",
        k=20,
        doc_base=enc.select("ckey", "dl", "qtoks"),
    ).select("query_id", "ckey", F.col("rank").alias("rank_lex"))
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(60.0) + r), F.lit(0.0)
    )
    fused = lex.join(sem, ["query_id", "ckey"], "full_outer").select(
        "query_id",
        "ckey",
        "rank_lex",
        "rank_sem",
        round_det(
            contrib(F.col("rank_lex")) + contrib(F.col("rank_sem")), 6
        ).alias("rrf_score"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("ckey").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            F.floor(F.col("ckey") / 100000).cast("long").alias("doc_id"),
            F.pmod(F.col("ckey"), F.lit(100000)).cast("long").alias(
                "chunk_id"
            ),
            "rank",
            "rrf_score",
            "rank_lex",
            "rank_sem",
        )
    )


def _ivf_trained_recall_oracle() -> str:
    """Oracle for sim_ivf_trained_recall: the trained (iters=3) and
    seed-only (iters=0) Lloyd-quantizer retrievals — each the FULL
    `_ivf_lloyd_oracle` statement nested as a CTE, so both replay the
    identical machinery at the identical k/nprobe — scored for
    recall@5 against the exact brute-force top-5 (`_SIM_ORACLE`)."""
    trained = _ivf_lloyd_oracle(iters=3)
    seeded = _ivf_lloyd_oracle(iters=0)

    def hits(cte: str, out: str) -> str:
        return f"""
      SELECT b.query_id,
             CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS {out}
      FROM bf b LEFT JOIN {cte} a
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY b.query_id"""

    return f"""
    WITH bf AS ({_SIM_ORACLE}),
    tr AS ({trained}),
    sd AS ({seeded}),
    ht AS ({hits("tr", "n_hits_trained")}),
    hs AS ({hits("sd", "n_hits_seed")})
    SELECT ht.query_id, ht.n_hits_trained,
           (floor((CAST(ht.n_hits_trained AS DOUBLE) / 5.0) * 10000
                  + 0.5) / 10000) AS recall_trained,
           hs.n_hits_seed,
           (floor((CAST(hs.n_hits_seed AS DOUBLE) / 5.0) * 10000 + 0.5)
              / 10000) AS recall_seed,
           (floor((CAST(ht.n_hits_trained - hs.n_hits_seed AS DOUBLE)
                   / 5.0) * 10000 + 0.5) / 10000) AS recall_gain
    FROM ht JOIN hs ON hs.query_id = ht.query_id
    """


@query("sim_ivf_trained_recall", oracle=_ivf_trained_recall_oracle())
def sim_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: does TRAINING the quantizer measurably beat its raw seeds?
    The matched-configuration recall contract for kmeans_lloyd_stats:
    recall@5 of the trained (3 Lloyd rounds) retrieval vs the
    iters=0 seed-only retrieval — SAME k=8/nprobe=3, same quantized
    scoring, same probe machinery (`_lloyd_topk_frame`), so the only
    variable is the training — both against the exact float
    brute-force top-5. Completes the IVF accuracy-contract ladder
    (recall vs sampled-kmeans quantizer; staleness drift of an
    appended index; and now the training gain itself) — the number
    that justifies spending 3 corpus scans on Lloyd rounds at 100 TB
    before anyone spends them."""
    from ..operators.similarity import brute_force_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    exact = brute_force_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id")

    def hits(ap: DataFrame, out: str) -> DataFrame:
        ap = ap.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        return (
            exact.join(ap, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias(out)
            )
        )

    ht = hits(_lloyd_topk_frame(emb, iters=3), "n_hits_trained")
    hs = hits(_lloyd_topk_frame(emb, iters=0), "n_hits_seed")
    return ht.join(hs, "query_id").select(
        "query_id",
        "n_hits_trained",
        round_det(F.col("n_hits_trained") / 5.0, 4).alias(
            "recall_trained"
        ),
        "n_hits_seed",
        round_det(F.col("n_hits_seed") / 5.0, 4).alias("recall_seed"),
        round_det(
            (F.col("n_hits_trained") - F.col("n_hits_seed")) / 5.0, 4
        ).alias("recall_gain"),
    )


def _kmeans_elbow_oracle(ks: tuple = (2, 4, 8), iters: int = 3) -> str:
    """Oracle for kmeans_elbow_curve: one shared quantized frame, one
    full Lloyd chain per k (prefixed instantiations of
    `_kmeans_ctes`), one (k, cells_used, inertia) row each."""
    chains: list[str] = []
    rows: list[str] = []
    for idx, k in enumerate(ks):
        p = f"k{k}_"
        chains += _kmeans_ctes(
            k=k, iters=iters, prefix=p, include_q=(idx == 0)
        )
        rows.append(
            f"""SELECT CAST({k} AS INTEGER) AS k,
             CAST(COUNT(DISTINCT cell) AS BIGINT) AS cells_used,
             CAST(SUM(d) AS BIGINT) AS inertia
      FROM {p}af"""
        )
    joined = ",\n    ".join(chains)
    union = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH {joined}
    SELECT * FROM (
      {union}
    )
    """


@query("kmeans_elbow_curve", oracle=_kmeans_elbow_oracle())
def kmeans_elbow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the model-selection companion to kmeans_lloyd_stats — the
    elbow curve as an oracle-checked row: total exact-integer inertia
    and non-empty cell count after 3 Lloyd rounds at k = 2, 4, 8 over
    one shared quantized corpus. Inertia is EXACT, so the curve (and
    the marginal gain of doubling k — what an operator reads before
    provisioning IVF cells at 100 TB) replays bit-for-bit; the oracle
    runs one full unrolled training chain per k over a single shared
    quantized CTE. Engine cost is the kmeans_lloyd_stats shape × |ks|
    — each k is its own bounded fixed point; nothing cross-k ever
    shuffles (the union is three 1-row frames)."""
    from ..operators.kmeans import kmeans_cell_stats

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    out = None
    for k in (2, 4, 8):
        s = (
            kmeans_cell_stats(emb, k=k, iters=3)
            .groupBy()
            .agg(
                F.count(F.lit(1)).cast("long").alias("cells_used"),
                F.sum("inertia").cast("long").alias("inertia"),
            )
            .select(
                F.lit(k).cast("int").alias("k"), "cells_used", "inertia"
            )
            # An empty corpus trains no cells; drop the vacuous global-
            # agg row (cells_used = 0) so empty input yields an empty
            # curve, matching every other aggregate row in the catalog.
            # A non-empty corpus always uses >= 1 cell, so this filters
            # nothing at any real scale factor.
            .where(F.col("cells_used") > 0)
        )
        out = s if out is None else out.unionByName(s)
    return out


def _kmeans_merge_oracle(k: int = 8, dim: int = 64,
                         n_batches: int = 3) -> str:
    """Oracle for kmeans_minibatch_merge: the iters=1 chain gives the
    shared seeds (f_c0), the full assignment under them (f_a1) and
    the full-round centroids (f_c1); the batch path re-derives the
    SAME update from per-(batch, cell) partial sums merged across
    batches — matches_full compares the two centroid lists
    component-for-component in SQL."""
    sums = ", ".join(f"SUM(qv[{j + 1}]) AS s{j}" for j in range(dim))
    resums = ", ".join(f"SUM(s{j}) AS s{j}" for j in range(dim))
    mean = ", ".join(
        f"CAST((s{j} - (((s{j}) % n) + n) % n) // n AS BIGINT)"
        for j in range(dim)
    )
    chain = ",\n    ".join(_kmeans_ctes(k=k, iters=1, dim=dim,
                                        prefix="f_"))
    return f"""
    WITH {chain},
    pb AS (
      SELECT vec_id % {n_batches} AS b, cell, COUNT(*) AS n, {sums}
      FROM f_a1 GROUP BY 1, 2),
    mg AS (
      SELECT cell, SUM(n) AS n, {resums} FROM pb GROUP BY cell),
    mm AS (
      SELECT cell, n, [{mean}] AS m FROM mg)
    SELECT mm.cell,
           CAST(mm.n AS BIGINT) AS n_members,
           CAST(list_sum(mm.m) AS BIGINT) AS m_sum,
           CAST(list_sum(list_transform(mm.m, x -> x * x)) AS BIGINT)
             AS m_l2,
           CAST(CASE WHEN mm.m = c.m THEN 1 ELSE 0 END AS INTEGER)
             AS matches_full
    FROM mm JOIN f_c1 c ON c.cell = mm.cell
    """


@query("kmeans_minibatch_merge", oracle=_kmeans_merge_oracle())
def kmeans_minibatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the MERGEABILITY contract behind incremental centroid
    maintenance (operators/kmeans.kmeans_minibatch_merge) — per-ingest
    per-cell partial state (count + per-dim integer sums) merged
    across 3 batches must reproduce the full-corpus Lloyd round
    BIT-IDENTICALLY (integer sums are associative — the same argument
    the mergeable-sketch family makes for MG/HLL/bottom-k, applied to
    the model-training state). ``matches_full`` is the contract
    column, compared in SQL on the oracle side and in Python on the
    engine side — the row fails the hash check the moment the merge
    path and the full-round path diverge. At 100 TB this is the
    license to refresh centroids from stored per-ingest summaries
    instead of full-corpus rescans."""
    from ..operators.kmeans import kmeans_minibatch_merge as kmm

    t = load_tables(spark, sf_dir)
    return kmm(t["embeddings"], k=8, n_batches=3)
