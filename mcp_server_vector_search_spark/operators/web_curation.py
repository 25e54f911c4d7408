"""URL/domain-level corpus curation (RefinedWeb §3.1 / CCNet shape).

Web-scale pretraining pipelines curate at the URL level BEFORE any
text-level processing: canonicalize URLs (scheme/host case, tracking
params, fragments), cap how many documents any single domain may
contribute (a handful of boilerplate-heavy domains otherwise dominate
the corpus), and drop blocklisted domains/paths outright.  The
reference engine (omarguzmanm/mcp-server-vector-search, server.py) has
no ingest-side curation at all — this family is beyond-reference
pipeline breadth, same as the dedup/quality modules.

The synthetic corpus has no URL column, so one is SYNTHESIZED
deterministically from (doc_id, source) with the messiness the
canonicalizer must handle: upper/lower-cased schemes and hosts, a
``www.`` prefix on half the hosts, ``utm_*`` tracking parameters in
leading, trailing, AND repeated (two-per-URL, straddling a kept param)
positions, and fragments.  The derivation and every downstream step
share ONE SQL text (the Welch device, operators/analytics.py) up to a
single per-engine hole: DuckDB's ``regexp_replace`` replaces only the
FIRST match unless passed the ``'g'`` option, while Spark's always
replaces ALL matches and has no options argument (its 4th arg is a
position) — so the utm-strip call takes ``{g}`` = ``''`` on Spark and
``, 'g'`` on the oracle side, and the synthesized URLs carry repeated
utm params so the gate actually exercises the global semantics
(r13 advisor finding).

Cross-engine notes: regex character classes (``[.]``, ``[?]``) instead
of backslash escapes (Spark SQL string-literal escaping differs from
DuckDB's), ``CAST(... AS STRING)`` (valid in both; Spark rejects bare
VARCHAR), and RE2-compatible patterns only (no lookaround).

Scale shape (stated per row below): canonicalization is a pure
projection — full-corpus map-side work, zero shuffles; domain caps are
ONE hash-partitioned window by domain; the blocklist filter is a
literal predicate folded into the scan.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

DOMAIN_CAP = 20  # max docs any one domain contributes (drops at every SF)
BLOCKED_DOMAINS = ("src1.example.com", "src7.example.com", "src13.example.com")

# --- the synthesized URL column (shared SQL text, both engines) -------------
_URL_SQL = """u AS (
  SELECT doc_id, source, lang, n_chars,
         CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END
         || '://'
         || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
         || CASE WHEN doc_id % 5 < 2 THEN UPPER(source) ELSE source END
         || '.Example.COM/docs/' || CAST(doc_id AS STRING)
         || CASE WHEN doc_id % 4 = 0
                 THEN '?utm_source=feed&page=' || CAST(doc_id % 7 AS STRING)
                 WHEN doc_id % 4 = 1
                 THEN '?page=' || CAST(doc_id % 7 AS STRING) || '&utm_campaign=x'
                 WHEN doc_id % 4 = 2
                 THEN '?utm_source=feed&page=' || CAST(doc_id % 7 AS STRING)
                      || '&utm_campaign=x'
                 ELSE '' END
         || CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS url
  FROM {documents}
)"""

# --- canonicalization: parse → normalize → reassemble ------------------------
# scheme/host lowercased, www. stripped, utm_* params dropped (leading,
# trailing, repeated), fragment dropped; path and surviving params
# preserved.  {g} is the ONLY per-engine hole in the shared text: ''
# on Spark (regexp_replace is always global), ", 'g'" on DuckDB
# (first-match-only by default — r13 advisor finding).  The other two
# regexp_replace calls ('^www[.]', '^&') are ^-anchored, so at most
# one match exists and first-only vs global agree.
_CANON_SQL = """c AS (
  SELECT doc_id, source, lang, n_chars, url,
         LOWER(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(
           LOWER(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
           '^www[.]', '') AS host,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
         regexp_replace(
           regexp_extract(url, '[?]([^#]*)', 1),
           '(^|&)utm_[a-z]+=[^&]*', ''{g}) AS q0
  FROM u
),
canon AS (
  SELECT doc_id, source, lang, n_chars, url, scheme, host, path,
         regexp_replace(q0, '^&', '') AS query,
         scheme || '://' || host || path
           || CASE WHEN regexp_replace(q0, '^&', '') <> ''
                   THEN '?' || regexp_replace(q0, '^&', '') ELSE '' END
           AS canonical_url
  FROM c
)"""


def _with_views(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__url_docs"
    )
    return spark.sql(
        sql.replace("{documents}", "__url_docs").replace("{g}", "")
    )


def _oracle_text(sql: str) -> str:
    """The DuckDB instantiation of the shared text: same tables, plus
    the 'g' option in the utm-strip hole (see _CANON_SQL)."""
    return sql.replace("{documents}", "documents").replace("{g}", ", 'g'")


_CANONICALIZE_SQL = f"""
WITH {_URL_SQL},
{_CANON_SQL}
SELECT doc_id, url, canonical_url, scheme, host, path, query
FROM canon
ORDER BY doc_id
"""


@register(
    "curation_url_canonicalize",
    oracle=functools.partial(_oracle_text, _CANONICALIZE_SQL),
)
def q_curation_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization as a pure projection: parse the raw URL
    into (scheme, host, path, query) with three RE2 extracts, normalize
    (lowercase scheme/host, strip ``www.``, drop ``utm_*`` params and
    the fragment), and reassemble the canonical form — the key every
    URL-level dedup and blocklist join downstream uses.

    Scale shape: zero shuffles — one codegen projection over the scan
    (the ORDER BY is presentation only; the driver canonicalizes row
    order itself).  At 100 TB this runs at scan speed; the regexes are
    anchored single-pass extracts, not backtracking scans."""
    return _with_views(spark, sf_dir, _CANONICALIZE_SQL)


_DOMAIN_CAPS_SQL = f"""
WITH {_URL_SQL},
{_CANON_SQL},
ranked AS (
  SELECT host, doc_id,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rn
  FROM canon
)
SELECT host AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rn > {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(MAX(CASE WHEN rn <= {DOMAIN_CAP} THEN doc_id END) AS BIGINT)
         AS last_kept_doc_id
FROM ranked
GROUP BY host
ORDER BY domain
"""


@register(
    "curation_domain_caps",
    oracle=functools.partial(_oracle_text, _DOMAIN_CAPS_SQL),
)
def q_curation_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (RefinedWeb §3.1: a few giant domains
    otherwise dominate the corpus): keep the first DOMAIN_CAP docs per
    canonical domain by doc_id (deterministic — retries and partition
    layout cannot change which docs survive, unlike sampled caps), and
    report kept/dropped counts plus the last surviving doc_id per
    domain (the cut point a downstream filter replays).

    Scale shape: ONE shuffle — the window's hash partitioning by
    domain sorts each domain's (doc_id) ONCE, and the per-domain
    rollup that follows is map-side combined on the already-partitioned
    key (no second exchange; plan-asserted).  The WindowGroupLimit
    heap rewrite does NOT apply here because the dropped tail is part
    of the report — a pipeline that only needs survivors filters
    ``rn <= k`` directly and gets the k-row-heap plan (the
    build_preference_pairs shape).  A domain 1000× the median pays its
    own sort; if that ever dominates, the cut point degrades to a
    count-min over doc_id ranges without touching the contract."""
    return _with_views(spark, sf_dir, _DOMAIN_CAPS_SQL)


_BLOCKLIST_SQL = f"""
WITH {_URL_SQL},
{_CANON_SQL},
verdicts AS (
  SELECT host, doc_id,
         CASE WHEN host IN ({", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)})
              THEN 'domain'
              WHEN path LIKE '%3' THEN 'path'
         END AS blocked_by
  FROM canon
)
SELECT host AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN blocked_by = 'domain' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked_domain,
       CAST(SUM(CASE WHEN blocked_by = 'path' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked_path,
       CAST(SUM(CASE WHEN blocked_by IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM verdicts
GROUP BY host
ORDER BY domain
"""


@register(
    "curation_url_blocklist",
    oracle=functools.partial(_oracle_text, _BLOCKLIST_SQL),
)
def q_curation_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filter over canonical URLs: drop documents whose
    domain is on a literal blocklist or whose path matches a blocked
    pattern (here a LIKE suffix — engine-exact, no regex semantics in
    the verdict), reporting per-domain block/keep counts with the
    domain rule taking precedence.

    Scale shape: the verdict is a literal predicate in the projection
    (an IN over a 3-element list and one LIKE — both codegen'd into
    the scan stage); the only exchange is the ≤|domains|-key rollup
    with map-side partials.  A production blocklist of millions of
    domains becomes a broadcast semi-join against the same canonical
    host key this row derives."""
    return _with_views(spark, sf_dir, _BLOCKLIST_SQL)


# ---------------------------------------------------------------------------
# curation_url_dedup_snapshots — document-level fuzzy-URL dedup across
# crawl SNAPSHOTS, the row that joins the curation family (canonical-
# URL key) to the dedup family (keep-newest survivor selection).  A
# re-crawl fetches the same page under a cosmetically different URL
# (scheme case, dropped www, different tracking params, fragment);
# canonicalization collapses the variants onto one key and the newer
# snapshot's copy supersedes the stored one — CCNet/RefinedWeb's
# cross-dump URL dedup shape.  The second snapshot is SYNTHESIZED:
# every doc_id % 3 = 0 page is re-crawled under variant-B messiness
# (mixed-case scheme, no www, upper-cased host, utm_medium tracking)
# that canonicalizes to the SAME canonical_url as its variant-A form.
# Snapshots ride a composite id (uid = doc_id·2 + snapshot) so the
# shared canon text needs no extra column; ORDER BY uid DESC inside
# the canonical-url window makes the re-crawl the survivor.
# ---------------------------------------------------------------------------

_URL2_SQL = """u2 AS (
  SELECT doc_id * 2 AS doc_id, source, lang, n_chars, url FROM u0
  UNION ALL
  SELECT doc_id * 2 + 1, source, lang, n_chars,
         'HttpS'
         || '://'
         || UPPER(CASE WHEN doc_id % 5 < 2 THEN UPPER(source) ELSE source END)
         || '.EXAMPLE.COM/docs/' || CAST(doc_id AS STRING)
         || CASE WHEN doc_id % 4 < 3
                 THEN '?utm_medium=email&page=' || CAST(doc_id % 7 AS STRING)
                 ELSE '?utm_medium=email' END
         || '#top' AS url
  FROM {documents}
  WHERE doc_id % 3 = 0
)"""

_SNAPSHOT_DEDUP_SQL = f"""
WITH {_URL_SQL.replace("u AS (", "u0 AS (")},
{_URL2_SQL},
u AS (SELECT doc_id, source, lang, n_chars, url FROM u2),
{_CANON_SQL},
ranked AS (
  SELECT host, doc_id, canonical_url,
         ROW_NUMBER() OVER (PARTITION BY canonical_url ORDER BY doc_id DESC)
           AS rn
  FROM canon
)
SELECT host AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_recrawled,
       CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_superseded,
       CAST(SUM(CASE WHEN rn = 1 AND doc_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept_from_recrawl
FROM ranked
GROUP BY host
ORDER BY domain
"""


@register(
    "curation_url_dedup_snapshots",
    oracle=functools.partial(_oracle_text, _SNAPSHOT_DEDUP_SQL),
)
def q_curation_url_dedup_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot URL dedup: canonicalize BOTH snapshots' URLs with
    the family's shared canon text, window by canonical_url with the
    newer snapshot ranked first, and report per domain how many stored
    copies a re-crawl superseded.  The invariants the gate certifies:
    every re-crawled page collapses onto its stored variant's
    canonical key (n_canonical = n_urls − n_superseded) and the
    survivor is always the snapshot-1 copy (n_kept_from_recrawl =
    n_recrawled = n_superseded per domain).

    Scale shape: the union and canonicalization are scan-side
    projections; ONE window exchange on canonical_url (each group ≤ 2
    rows — the skew-free best case for a dedup key) and the ≤|domains|
    rollup.  At a real crawl cadence the stored side is the persisted
    canonical table, so only the new snapshot pays the projection."""
    return _with_views(spark, sf_dir, _SNAPSHOT_DEDUP_SQL)
