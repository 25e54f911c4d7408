"""Corpus-curation operators: curriculum binning, deterministic global
shuffle, and pattern redaction (PII scrub plumbing).

Three operations every 100 TB pretraining pipeline runs between "raw
corpus" and "training shards", none of which the reference engine has
(its surface is retrieval only — reference ``server.py`` delegates all
data-shaping to whatever loaded Neo4j):

- **Curriculum binning**: rank documents by a quality signal and cut
  the corpus into k ordered tiers (curriculum learning feeds cleaner
  tiers earlier/longer).  `ntile` over a global sort — at scale a
  range-partitioned sort (sampled boundaries, AQE-balanced), ONE
  shuffle, then per-tier aggregates are map-side combined.
- **Deterministic global shuffle**: training wants data order
  decorrelated from ingest order, reproducibly.  Ordering by
  ``md5(key)`` is a seedless, engine-portable permutation: retries,
  cluster size, and partition layout cannot change it (unlike
  ``ORDER BY rand()``).  At 100 TB this is `repartitionByRange` on the
  hash key + `sortWithinPartitions` — the sort IS the shuffle; shard
  files then stream out in hash order.
- **Pattern redaction**: scrub PII-shaped spans (emails, phone
  numbers) plus a configurable blocklist before anything reaches a
  trainer.  One compiled regex alternation per row, JVM-side
  (`regexp_replace`/`regexp_count` stay in whole-stage codegen) — a
  full-corpus pass with zero shuffles; the per-language report
  aggregate is the only exchange, on a handful of keys.

All three are exact-oracled: the quality signal uses integer token
counts (no float ambiguity in the ordering), the shuffle key is a hex
digest compared as a string, and redaction counts come from the same
RE2-compatible pattern evaluated by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

N_BINS = 4
SHUFFLE_HEAD = 50

# PII-shaped patterns + demo blocklist, RE2-compatible (no lookaround)
# so Spark's Java regex and DuckDB's RE2 agree on every match.  The
# email/phone alternates are the real redaction payload (this synthetic
# corpus contains none — the blocklist terms exercise the path).
REDACT_PATTERN = (
    r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}"
    r"|\b\d{3}[- .]\d{3,4}[- .]\d{4}\b"
    r"|\b(?:key|token)\b"
)
REDACT_TOKEN = "[REDACTED]"


@register(
    "sample_curriculum_bins",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS quality
  FROM documents
),
binned AS (
  SELECT *, ntile({N_BINS}) OVER (ORDER BY quality DESC, doc_id) AS bin
  FROM scored
)
SELECT CAST(bin AS INTEGER) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM binned GROUP BY bin
""",
)
def sample_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered curriculum tiers via ``ntile`` over a global sort.

    The quality signal (distinct-token ratio, the repetition-penalizing
    half of ``text_quality_scores``) orders the corpus; ``ntile(k)``
    cuts it into k equal tiers.  Ordering compares the IEEE double
    ``n_distinct/n_tokens`` (a single exact-rounded division — both
    engines produce the identical bit pattern, so no rounding fudge is
    needed) with ``doc_id`` as the total-order tie-break.

    Scale: one range-partitioned sort shuffle; the per-bin aggregate
    that follows is map-side combined into ≤k rows.  The ntile window
    runs unpartitioned here (the whole point is a GLOBAL ranking) —
    at 100 TB the same result comes from a two-pass quantile cut:
    compute k-1 exact quality quantiles, then bin by comparison,
    turning the global sort into a full-scan + broadcast compare."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(toks).alias("n_tokens"),
    ).withColumn(
        "quality", F.col("n_distinct").cast("double") / F.col("n_tokens")
    )
    binned = scored.withColumn(
        "bin",
        F.ntile(N_BINS).over(
            W.orderBy(F.col("quality").desc(), F.col("doc_id"))
        ),
    )
    return binned.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_distinct").cast("long").alias("sum_distinct_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


@register(
    "sample_global_shuffle",
    oracle=f"""
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
         AS shuffle_pos,
       doc_id, lang, source
FROM documents
ORDER BY shuffle_pos
LIMIT {SHUFFLE_HEAD}
""",
)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: permute by
    ``md5(doc_id)`` and emit the head of the new order.

    Seedless and engine-portable: the permutation depends only on the
    keys, so any retry, any cluster size, any partition layout
    reproduces it exactly — the property ``ORDER BY rand()`` lacks.
    The head-of-order result keeps the driver check bounded; a real
    shard-writer materializes the full order with
    ``repartitionByRange(md5_key).sortWithinPartitions(md5_key)`` and
    writes one shard per range partition (no global merge needed —
    range boundaries make shard order == global order).

    Plan: ``orderBy(key).limit(k)`` collapses to
    ``TakeOrderedAndProject`` (per-partition top-k, driver merge) — no
    full sort, no single-partition window over the corpus; positions
    are then ranked over the BOUNDED k-row head only."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    head = (
        d.select(key.alias("k"), "doc_id", "lang", "source")
        .orderBy("k", "doc_id")
        .limit(SHUFFLE_HEAD)
    )
    return head.select(
        F.row_number()
        .over(W.orderBy("k", "doc_id"))
        .cast("long")
        .alias("shuffle_pos"),
        "doc_id",
        "lang",
        "source",
    )


def redact_rows(d: DataFrame) -> DataFrame:
    """Row-level redaction projection (stateless, append-mode-safe):
    per doc, the scrubbed text plus hit count and scrubbed length.
    Shared verbatim by the batch audit query and the streaming scrub
    (streaming/ingest.redact_document_stream) so batch≡stream
    equivalence holds by construction."""
    return d.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("text"), F.lit(REDACT_PATTERN)).alias("n_hits"),
        F.regexp_replace(F.col("text"), REDACT_PATTERN, REDACT_TOKEN).alias(
            "redacted_text"
        ),
    ).withColumn("redacted_len", F.length("redacted_text"))


@register(
    "text_redact_patterns",
    oracle=f"""
WITH hits AS (
  SELECT lang,
         len(regexp_extract_all(text, '{REDACT_PATTERN}')) AS n_hits,
         LENGTH(regexp_replace(text, '{REDACT_PATTERN}',
                               '{REDACT_TOKEN}', 'g')) AS redacted_len
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_redacted,
       CAST(SUM(n_hits) AS BIGINT) AS total_redactions,
       CAST(SUM(redacted_len) AS BIGINT) AS redacted_chars
FROM hits GROUP BY lang
""",
)
def text_redact_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped pattern redaction sweep with a per-language report.

    One regex alternation (emails | phone shapes | blocklist terms)
    drives both the count (``regexp_count``) and the scrub
    (``regexp_replace``) — evaluated JVM-side inside whole-stage
    codegen, so the full-corpus pass costs one scan and zero
    shuffles; only the ≤n_langs report rows shuffle.  The pattern is
    RE2-compatible (no lookaround) so the oracle's DuckDB engine
    evaluates the identical matches.  A production scrub writes the
    redacted ``text`` column back to shards; the report aggregate here
    is the audit trail a compliance pass needs."""
    d = load_table(spark, sf_dir, "documents")
    return (
        redact_rows(d)
        .select("lang", "n_hits", F.col("redacted_len").alias("rl"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_hits") > 0).cast("long")).alias("docs_redacted"),
            F.sum("n_hits").cast("long").alias("total_redactions"),
            F.sum("rl").cast("long").alias("redacted_chars"),
        )
    )


QC_STATUSES = ("F", "O", "P")


@register(
    "quality_constraint_certificate",
    oracle=f"""
WITH m AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(DISTINCT o_orderkey) AS n_keys,
         CAST(SUM(CASE WHEN o_totalprice >= 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS neg_price,
         CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END)
              AS BIGINT) AS bad_status,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_cust
  FROM orders
)
SELECT 'row_count' AS constraint, CAST(n_rows AS DOUBLE) AS metric,
       n_rows > 0 AS passed FROM m
UNION ALL
SELECT 'orderkey_unique', CAST(n_keys AS DOUBLE), n_keys = n_rows FROM m
UNION ALL
SELECT 'totalprice_nonnegative', CAST(neg_price AS DOUBLE), neg_price = 0 FROM m
UNION ALL
SELECT 'status_in_domain', CAST(bad_status AS DOUBLE), bad_status = 0 FROM m
UNION ALL
SELECT 'custkey_complete', CAST(null_cust AS DOUBLE), null_cust = 0 FROM m
""",
)
def quality_constraint_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ/Great-
    Expectations pattern, public AWS Labs / GE designs): uniqueness,
    completeness, domain, and range checks over ``orders``, emitted as
    one (constraint, metric, passed) row each.

    The engine-idiomatic part: ALL constraint metrics come out of ONE
    aggregate over ONE scan (count, count-distinct, and three
    conditional sums fused into a single partial-aggregated pass), then
    fan out to rows map-side — at 100 TB the validation suite costs one
    corpus read regardless of how many constraints it carries.  The
    certificate shape (metric + boolean) is the same device as the
    compaction/sketch certificates: the oracle recomputes every metric
    independently, so a broken check cannot silently pass."""
    o = load_table(spark, sf_dir, "orders")
    # violation counters via when/otherwise so a NULL value falls into
    # the violation branch (matching the oracle's CASE ... ELSE 1 and
    # the data-quality semantics: an unknown price is NOT a pass) —
    # sum(bool.cast) would silently skip NULL rows instead
    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(
            F.when(F.col("o_totalprice") >= 0, F.lit(0)).otherwise(F.lit(1))
        ).cast("long").alias("neg_price"),
        F.sum(
            F.when(F.col("o_orderstatus").isin(*QC_STATUSES), F.lit(0)).otherwise(
                F.lit(1)
            )
        ).cast("long").alias("bad_status"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_cust"),
    )
    suite = [
        ("row_count", F.col("n_rows"), F.col("n_rows") > 0),
        ("orderkey_unique", F.col("n_keys"), F.col("n_keys") == F.col("n_rows")),
        ("totalprice_nonnegative", F.col("neg_price"), F.col("neg_price") == 0),
        ("status_in_domain", F.col("bad_status"), F.col("bad_status") == 0),
        ("custkey_complete", F.col("null_cust"), F.col("null_cust") == 0),
    ]
    checks = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                metric.cast("double").alias("metric"),
                passed.alias("passed"),
            )
            for name, metric, passed in suite
        ]
    )
    return m.select(F.explode(checks).alias("c")).select(
        "c.constraint", "c.metric", "c.passed"
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules: the published repetition/length/stopword
# document filters (Rae et al. 2021, appendix A1.1), as one codegen pass
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 40  # canonical 50, scaled to the fixture's 20-80 word docs
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 2  # canonical 3; fixture vocabulary skews short
GOPHER_MAX_MEAN_LEN = 10
GOPHER_MIN_STOP_HITS = 2  # docs must contain >= 2 stopword occurrences
GOPHER_STOPS = ("the", "a", "of", "and", "to", "in")
QR = 6


def gopher_features(t) -> tuple:
    """(n_words, mean_word_len, stop_hits) Column expressions — shared
    by the audit query below and the export pipeline's keep gate."""
    toks = F.split(t, " ")
    n_words = F.size(toks)
    mean_len = F.round(
        F.length(F.regexp_replace(t, " ", "")).cast("double") / n_words, QR
    )
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*GOPHER_STOPS))
    ).cast("bigint")
    return n_words, mean_len, stop_hits


def gopher_keep(t) -> F.Column:
    """The conjunctive Gopher keep predicate over a raw text column."""
    n_words, mean_len, stop_hits = gopher_features(t)
    return (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )


@register(
    "quality_gopher_rules",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')), {QR}) AS mean_word_len,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN {GOPHER_STOPS})) AS BIGINT) AS stop_hits
  FROM documents
)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len, stop_hits,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS ok_words,
       mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
         AS ok_mean_len,
       stop_hits >= {GOPHER_MIN_STOP_HITS} AS ok_stopwords,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
         AND stop_hits >= {GOPHER_MIN_STOP_HITS} AS keep
FROM feats
""",
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-filter rules (Rae et al. 2021 §A1.1, public):
    word-count bounds, mean-word-length bounds, and a minimum stopword
    presence, each surfaced as its own flag plus the conjunctive
    ``keep`` bit — the per-rule flags are what a pipeline audits when
    a filter version changes.  All features evaluate in ONE whole-stage
    codegen projection (no explode — token counts and character sums
    come from split/filter higher-order functions), so a 100 TB
    filtering pass is a single scan with no shuffle at all.
    Mean word length is rounded HALF_UP at {QR} so the derived double
    hashes identically on both engines."""
    d = load_table(spark, sf_dir, "documents")
    n_words, mean_len, stop_hits = gopher_features(F.col("text"))
    ok_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_mean = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_LEN) & (
        F.col("mean_word_len") <= GOPHER_MAX_MEAN_LEN
    )
    ok_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    return (
        d.select(
            "doc_id",
            n_words.alias("n_words"),
            mean_len.alias("mean_word_len"),
            stop_hits.alias("stop_hits"),
        )
        .withColumn("ok_words", ok_words)
        .withColumn("ok_mean_len", ok_mean)
        .withColumn("ok_stopwords", ok_stop)
        .withColumn("keep", ok_words & ok_mean & ok_stop)
    )


# ---------------------------------------------------------------------------
# Preference-pair construction (DPO/RLHF data prep)
# ---------------------------------------------------------------------------

PREF_PAIRS_PER_LANG = 10
_PREF_R = 6


@register(
    "build_preference_pairs",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang,
         ROUND(0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
               + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
                                  t -> list_contains(['the', 'a'], t)))::DOUBLE
                              / len(string_split(text, ' ')))
               + 0.3 * len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')), {_PREF_R}) AS q
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, q,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS r_best,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q ASC, doc_id DESC) AS r_worst,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM m
)
SELECT b.lang,
       CAST(b.r_best AS BIGINT) AS pair_rank,
       b.doc_id AS chosen_doc_id,
       w.doc_id AS rejected_doc_id,
       b.q AS chosen_q,
       w.q AS rejected_q,
       ROUND(b.q - w.q, {_PREF_R}) AS margin
FROM ranked b
JOIN ranked w
  ON w.lang = b.lang AND w.r_worst = b.r_best
WHERE b.r_best <= {PREF_PAIRS_PER_LANG}
  AND b.r_best <= b.n // 2
ORDER BY b.lang, pair_rank
""",
)
def build_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive preference-pair construction (the DPO/RLHF data-prep
    shape): within each language, pair the i-th highest-quality
    document ("chosen") with the i-th lowest ("rejected"), up to
    PAIRS_PER_LANG pairs and never past the group midpoint (so a
    document can appear on only one side).

    Scale shape: the top-P and bottom-P sides are SEPARATE single-
    row_number windows each followed by a ``rank <= P`` filter, which
    is exactly the shape Catalyst rewrites to `WindowGroupLimit` —
    per-partition P-row heaps prune each group before any sort
    materializes (a fused two-rank window defeats the rewrite and
    sorts every group in full; plan-asserted in tests).  The group
    sizes needed for the midpoint guard come from a 5-row groupBy that
    broadcasts.  The quality score is the same engine-portable
    expression text_quality_scores certifies
    (functions/text.py::quality_score), so the oracle replays ranking
    and pairing exactly.
    """
    from ..functions import text as T

    m = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.round(T.quality_score(F.col("text")), _PREF_R).alias("q"),
    )
    by_lang = W.partitionBy("lang")
    sizes = m.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    best = (
        m.withColumn(
            "r_best",
            F.row_number().over(by_lang.orderBy(F.desc("q"), F.asc("doc_id"))),
        )
        .where(F.col("r_best") <= PREF_PAIRS_PER_LANG)
        .join(F.broadcast(sizes), "lang")
        .where(F.col("r_best") <= F.expr("n DIV 2"))
        .select(
            "lang",
            F.col("r_best").cast("long").alias("pair_rank"),
            F.col("doc_id").alias("chosen_doc_id"),
            F.col("q").alias("chosen_q"),
        )
    )
    worst = (
        m.withColumn(
            "r_worst",
            F.row_number().over(by_lang.orderBy(F.asc("q"), F.desc("doc_id"))),
        )
        .where(F.col("r_worst") <= PREF_PAIRS_PER_LANG)
        .select(
            "lang",
            F.col("r_worst").cast("long").alias("pair_rank"),
            F.col("doc_id").alias("rejected_doc_id"),
            F.col("q").alias("rejected_q"),
        )
    )
    return (
        best.join(worst, ["lang", "pair_rank"])
        .select(
            "lang",
            "pair_rank",
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_q",
            "rejected_q",
            F.round(F.col("chosen_q") - F.col("rejected_q"), _PREF_R).alias(
                "margin"
            ),
        )
        .orderBy("lang", "pair_rank")
    )


# ---------------------------------------------------------------------------
# text_blocklist_multiscan — Aho-Corasick multi-pattern blocklist scan
# (Aho & Corasick 1975; the RefinedWeb/Falcon NSFW-wordlist stage,
# Penedo et al. 2023 §3.1): N patterns matched in ONE pass over each
# document, O(text + matches) regardless of pattern count — the
# contrast with `text_redact_patterns`, whose single compiled regex
# alternation re-scans per alternate inside the regex engine and
# degrades as the list grows to production blocklist sizes (thousands
# of terms).  Patterns carry severity classes; the report is per-doc
# per-class occurrence counts for every doc that matched anything.
#
# Match semantics: ALL occurrences, including nested dictionary
# suffixes ("ast" fires inside every "fast sort" hit — the case a
# per-pattern loop needs N passes for).  Every pattern is verified
# BORDER-FREE at import (no proper prefix equals a suffix), which
# makes self-overlapping matches impossible — so the AC total equals
# the oracle's per-pattern non-overlapping REPLACE count, and the
# DuckDB gate is exact, not approximate.
# ---------------------------------------------------------------------------

# (pattern, severity class): phrases block, words flag, sub-word
# fragments probe (fragments cross token boundaries — the case a
# tokenize-and-join wordlist scan cannot express)
BLOCKLIST_PATTERNS: tuple[tuple[str, str], ...] = (
    ("slow scan", "block"),
    ("merge batch", "block"),
    ("fast sort", "block"),
    ("key agg", "block"),
    ("dup", "flag"),
    ("slow", "flag"),
    ("big", "flag"),
    ("can", "probe"),
    ("ust", "probe"),
    ("ast", "probe"),
    ("ream", "probe"),
)


def _border_free(p: str) -> bool:
    """True when no proper prefix of p is also a suffix — the condition
    under which matches of p cannot overlap each other, making
    AC's all-occurrences count equal REPLACE's non-overlapping count."""
    return not any(p[:b] == p[len(p) - b :] for b in range(1, len(p)))


assert all(_border_free(p) for p, _ in BLOCKLIST_PATTERNS), (
    "blocklist patterns must be border-free for oracle equality"
)


def build_aho_corasick(
    patterns: tuple[tuple[str, str], ...],
) -> tuple[list[dict], list[int], list[tuple[int, ...]]]:
    """(goto, fail, out): the classic automaton.  ``out[s]`` is the
    PRE-MERGED tuple of pattern indexes ending at state s INCLUDING
    dictionary suffixes (merged along failure links at build time), so
    the scan emits matches in O(1) amortized per hit."""
    from collections import deque

    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    for idx, (p, _cls) in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                nxt = len(goto)
                goto.append({})
                out.append([])
                goto[s][ch] = nxt
            s = nxt
        out[s].append(idx)
    fail = [0] * len(goto)
    dq = deque()
    for s in goto[0].values():
        dq.append(s)
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[s] = cand if cand != s else 0
            out[s] = out[s] + out[fail[s]]  # dictionary-suffix merge
    return goto, fail, [tuple(o) for o in out]


def ac_scan_counts(
    text: str, goto: list[dict], fail: list[int], out: list[tuple[int, ...]], n: int
) -> list[int]:
    """Per-pattern occurrence counts for one document — one pass."""
    counts = [0] * n
    s = 0
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s]:
            for idx in out[s]:
                counts[idx] += 1
    return counts


def _blocklist_oracle() -> str:
    vals = ",\n    ".join(
        f"('{p}', '{c}')" for p, c in BLOCKLIST_PATTERNS
    )
    return f"""
WITH pats(p, cls) AS (VALUES
    {vals}),
hits AS (
  SELECT d.doc_id, p.cls,
         CAST((LENGTH(d.text) - LENGTH(REPLACE(d.text, p.p, ''))) // LENGTH(p.p) AS BIGINT) AS cnt
  FROM documents d CROSS JOIN pats p
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_matches,
       CAST(SUM(CASE WHEN cls = 'block' THEN cnt ELSE 0 END) AS BIGINT) AS n_block,
       CAST(SUM(CASE WHEN cls = 'flag' THEN cnt ELSE 0 END) AS BIGINT) AS n_flag,
       CAST(SUM(CASE WHEN cls = 'probe' THEN cnt ELSE 0 END) AS BIGINT) AS n_probe,
       CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_patterns_hit
FROM hits
GROUP BY doc_id
HAVING SUM(cnt) > 0
ORDER BY doc_id
"""


@register("text_blocklist_multiscan", oracle=_blocklist_oracle)
def q_text_blocklist_multiscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document scanned against the full blocklist in ONE pass
    (Aho-Corasick over mapInPandas): per matched doc, total
    occurrences, per-class occurrence counts, and the count of
    distinct patterns hit.  The oracle recomputes each pattern's count
    INDEPENDENTLY via REPLACE arithmetic — N separate passes — so a
    missed nested hit, a failure-link bug, or an off-by-one at a
    pattern boundary shifts a count and breaks the value hash.

    Scale shape: the automaton builds ONCE driver-side (a few hundred
    states for this list; production blocklists of 10k terms build in
    ~ms and ship via closure broadcast like the trained constants in
    data_selection.py) and the scan is pure map-side CPU over the text
    column — no shuffle until the tiny matched-docs projection sorts.
    Growing the pattern list leaves the scan cost FLAT (one automaton
    step per char), which is the whole argument vs the regex
    alternation in `text_redact_patterns`."""
    return blocklist_scan(
        load_table(spark, sf_dir, "documents"), BLOCKLIST_PATTERNS
    )


def blocklist_scan(
    docs: DataFrame, patterns: tuple[tuple[str, str], ...]
) -> DataFrame:
    """The distributed one-pass scan for any (pattern, class) list —
    the registered row binds ``BLOCKLIST_PATTERNS``; the 100x tier
    binds a tier-vocabulary list (the subject is the automaton and the
    map-side pass, not a specific wordlist)."""
    from ..sources.tables import spread

    assert all(_border_free(p) for p, _ in patterns)
    goto, fail, out = build_aho_corasick(patterns)
    classes = [c for _, c in patterns]
    n_pat = len(patterns)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = ac_scan_counts(text or "", goto, fail, out, n_pat)
                total = sum(counts)
                if not total:
                    continue
                by_cls = {"block": 0, "flag": 0, "probe": 0}
                for c, cls in zip(counts, classes):
                    by_cls[cls] += c
                rows.append(
                    (
                        int(doc_id),
                        total,
                        by_cls["block"],
                        by_cls["flag"],
                        by_cls["probe"],
                        sum(1 for c in counts if c),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id",
                        "n_matches",
                        "n_block",
                        "n_flag",
                        "n_probe",
                        "n_patterns_hit",
                    ],
                )

    spread_docs = spread(docs.select("doc_id", "text"))
    return spread_docs.mapInPandas(
        gen,
        "doc_id long, n_matches long, n_block long, n_flag long, "
        "n_probe long, n_patterns_hit long",
    ).orderBy("doc_id")
