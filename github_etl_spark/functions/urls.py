"""URL canonicalization for web-corpus dedup (EXT — north-star op).

Web-scale training pipelines (CCNet, RefinedWeb) dedup by CANONICAL
URL before any content pass: the same page arrives under scheme/case
variants, `www.` prefixes, tracking parameters and fragments, and a
naive string-equality dedup misses all of them. `canonicalize_url`
collapses those variants with a fixed, documented rule chain built
ENTIRELY from builtin JVM expressions (regexp_replace / regexp_extract
/ lower — no UDFs, whole-stage-codegen'd), and every rule has an
exactly equivalent DuckDB form used by the `dedup_url_canonical`
oracle; keep the two in lockstep.

Canonical rule chain (ordered; applied to a full URL string):
  1. trim surrounding whitespace
  2. drop the fragment (`#...`)
  3. drop the scheme (`http://`, `HTTPS://`, any `scheme://`)
  4. lowercase the authority (host[:port]) and strip one leading `www.`
     — path/query case is PRESERVED (paths are case-sensitive)
  5. remove every `utm_*` tracking parameter, wherever it sits in the
     query string, then repair the separators (`?&`→`?`, trailing
     `?`/`&` dropped)
  6. normalize a trailing PATH slash: `/` just before `?` is dropped,
     and `/` at end-of-string is dropped only when no query is present
     — a slash ending the final query VALUE (`?ref=/`) is preserved
     (it is part of the value, not the path)

At 100 TB this is a map-only column expression: the dedup it feeds is
one hash shuffle on the canonical key. Regex features used (anchors,
char classes, greedy `[^&#]*`) behave identically in Java regex
(Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scheme prefix per RFC 3986: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"
# A utm_* query parameter (key plus value up to the next separator).
_UTM_MID = r"&utm_[A-Za-z0-9_]*=[^&#]*"
_UTM_FIRST_MORE = r"\?utm_[A-Za-z0-9_]*=[^&#]*&"
_UTM_FIRST_ONLY = r"\?utm_[A-Za-z0-9_]*=[^&#]*$"


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of a URL per the module rule chain. NULL in →
    NULL out; a string with no URL structure passes through rules 1-6
    unchanged except case-folding of its leading authority segment."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    u = F.regexp_replace(u, r"#.*$", "")  # 2: fragment
    u = F.regexp_replace(u, _SCHEME_RE, "")  # 3: scheme
    # 4: authority = everything before the first '/' or '?'
    auth = F.regexp_extract(u, r"^[^/?]*", 0)
    rest = u.substr(F.length(auth) + F.lit(1), F.lit(2_000_000_000))
    auth = F.regexp_replace(F.lower(auth), r"^www\.", "")
    # 5: utm_* params in any position
    rest = F.regexp_replace(rest, _UTM_MID, "")
    rest = F.regexp_replace(rest, _UTM_FIRST_MORE, "?")
    rest = F.regexp_replace(rest, _UTM_FIRST_ONLY, "")
    # 6: trailing PATH slash only — end-of-string `/$` applies just
    # when no query is present (anchored `^([^?]*)/$`): a bare `/$`
    # would also strip a slash ending the final query VALUE
    # (`a.com/p?ref=/` is a different URL than `a.com/p?ref=`).
    rest = F.regexp_replace(rest, r"^([^?]*)/$", "$1")
    rest = F.regexp_replace(rest, r"/\?", "?")
    return F.concat(auth, rest)


# The same chain as DuckDB CTE steps over a relation carrying a `url`
# column ({urls} = the relation). DuckDB regexp_replace is
# single-occurrence unless the 'g' flag is given — Spark's replaces
# ALL occurrences, so every rule that is not anchored to ^ or $ (and
# could therefore match more than once on adversarial input — e.g. a
# second '?' inside a query VALUE) passes 'g'. The lockstep is pinned
# by tests/test_dedup.py::test_canonicalize_url_spark_duckdb_lockstep
# on adversarial literals, not just the fixture corpus.
CANONICALIZE_URL_SQL_CTES = """
    noscheme AS (
      SELECT *, regexp_replace(regexp_replace(trim(url), '#.*$', ''),
                               '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS nos
      FROM {urls}
    ),
    authsplit AS (
      SELECT *, regexp_extract(nos, '^[^/?]*') AS auth,
             substr(nos, length(regexp_extract(nos, '^[^/?]*')) + 1) AS rest
      FROM noscheme
    ),
    canon AS (
      SELECT *, concat(
               regexp_replace(lower(auth), '^www\\.', ''),
               regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(rest,
                   '&utm_[A-Za-z0-9_]*=[^&#]*', '', 'g'),
                   '\\?utm_[A-Za-z0-9_]*=[^&#]*&', '?', 'g'),
                   '\\?utm_[A-Za-z0-9_]*=[^&#]*$', ''),
                 '^([^?]*)/$', '\\1'), '/\\?', '?', 'g')) AS canonical_url
      FROM authsplit
    )
"""


def synthesize_urls(docs) -> "F.DataFrame":  # type: ignore[name-defined]
    """Deterministic URL fixtures over `documents`: each doc gets a URL
    whose NOISE varies by id residue (scheme casing / schemeless,
    `WWW.`/`www.`/bare, mixed-case host, utm params in first and last
    query positions, fragments, trailing slashes) while the CANONICAL
    identity is (source, doc_id % 40, ref-param presence, lang) — so
    canonicalization provably collapses variant groups. Pure column
    expressions, replayed verbatim by the DuckDB oracle
    (see SYNTHESIZE_URLS_SQL / dedup_url_canonical)."""
    i = F.col("doc_id")
    scheme = (
        F.when(i % 3 == 0, F.lit("https://"))
        .when(i % 3 == 1, F.lit("HTTP://"))
        .otherwise(F.lit(""))
    )
    www = (
        F.when(i % 4 == 0, F.lit("WWW."))
        .when(i % 4 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    host = F.concat(F.col("source"), F.lit(".Example.com"))
    path = F.concat(F.lit("/docs/"), (i % 40).cast("string"))
    slash = F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    q = (
        F.when(i % 4 == 0, F.concat(F.lit("?utm_source=news&ref="), F.col("lang")))
        .when(
            i % 4 == 1,
            F.concat(F.lit("?ref="), F.col("lang"), F.lit("&utm_campaign=Summer")),
        )
        .when(i % 4 == 2, F.concat(F.lit("?ref="), F.col("lang")))
        .otherwise(F.lit(""))
    )
    frag = F.when(i % 7 == 0, F.concat(F.lit("#sec-"), (i % 3).cast("string"))).otherwise(
        F.lit("")
    )
    return docs.select(
        i.alias("doc_id"),
        F.concat(scheme, www, host, path, slash, q, frag).alias("url"),
    )


SYNTHESIZE_URLS_SQL = """
    SELECT doc_id,
           concat(
             CASE WHEN doc_id % 3 = 0 THEN 'https://'
                  WHEN doc_id % 3 = 1 THEN 'HTTP://' ELSE '' END,
             CASE WHEN doc_id % 4 = 0 THEN 'WWW.'
                  WHEN doc_id % 4 = 1 THEN 'www.' ELSE '' END,
             source, '.Example.com',
             '/docs/', CAST(doc_id % 40 AS VARCHAR),
             CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
             CASE WHEN doc_id % 4 = 0 THEN concat('?utm_source=news&ref=', lang)
                  WHEN doc_id % 4 = 1 THEN concat('?ref=', lang, '&utm_campaign=Summer')
                  WHEN doc_id % 4 = 2 THEN concat('?ref=', lang)
                  ELSE '' END,
             CASE WHEN doc_id % 7 = 0 THEN concat('#sec-', CAST(doc_id % 3 AS VARCHAR))
                  ELSE '' END
           ) AS url
    FROM documents
"""
