"""Training-data mixing: stratified rates and weighted source up/down-
sampling, all hash-deterministic.

A 100 TB pretraining pipeline's last mile is MIXING: per-language /
per-source keep rates and real-valued source weights (2.5 copies of a
high-quality source, half of a noisy one).  Everything here extends the
``sample_hash_deterministic`` discipline (operators/analytics.py):
selection is an md5-prefix predicate on the ROW KEY — reproducible
across retries, cluster sizes, and engines (which is also what makes
these operators exactly oracle-checkable), embarrassingly parallel, no
RNG state anywhere.  Up-sampling materializes copies with an explode
over ``sequence(1, copies)`` — a map-side fan-out, no shuffle; the
fractional copy is decided by the same hash prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

# per-language keep rates as 2-hex-digit md5-prefix bounds (k/256):
#   en 25% (high-resource → downsample hard), de/es 50%, fr 75%, zh 90%
LANG_RATES = {"en": "40", "de": "80", "es": "80", "fr": "c0", "zh": "e6"}
DEFAULT_RATE = "80"

# per-source real-valued mix weights: floor copies + hash-decided
# fractional copy.  src0-4 upsample 2.5×, src5-9 keep 1×, rest 0.5×.
UP_SOURCES = tuple(f"src{i}" for i in range(5))
KEEP_SOURCES = tuple(f"src{i}" for i in range(5, 10))


def _hash2(col: F.Column) -> F.Column:
    """First two hex chars of md5(key) — uniform in 00..ff, identical
    in DuckDB (`substr(md5(...), 1, 2)`)."""
    return F.substring(F.md5(col.cast("string")), 1, 2)


def _lang_rate_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN '{bound}'" for lang, bound in LANG_RATES.items()
    )
    return f"CASE lang {cases} ELSE '{DEFAULT_RATE}' END"


@register(
    "sample_stratified_lang",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {_lang_rate_sql()}
GROUP BY lang
""",
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic keep rates (language rebalancing).

    The keep predicate is row-local (hash prefix vs a per-stratum
    bound), so the stratified sample needs NO per-stratum counting
    pass, no shuffle, and reproduces exactly under retry — unlike
    ``sampleBy``, whose per-partition RNG resamples on every
    repartition.  Rates tune by widening the hex bound (k/256
    granularity; two more hex digits give k/2^16)."""
    d = load_table(spark, sf_dir, "documents")
    bound = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(b)).otherwise(F.lit(None))
            for lang, b in LANG_RATES.items()
        ],
        F.lit(DEFAULT_RATE),
    )
    return (
        d.where(_hash2(F.col("doc_id")) < bound)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
        )
    )


@register(
    "mix_upsample_sources",
    oracle=f"""
WITH weighted AS (
  SELECT doc_id, source,
         (CASE WHEN source IN {UP_SOURCES} THEN 2
               WHEN source IN {KEEP_SOURCES} THEN 1 ELSE 0 END)
         + (CASE WHEN (CASE WHEN source IN {KEEP_SOURCES} THEN '00' ELSE '80' END)
                      > substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                 THEN 1 ELSE 0 END) AS copies
  FROM documents
),
replicated AS (
  SELECT w.doc_id, w.source, CAST(r.c AS INTEGER) AS copy_id
  FROM weighted w, UNNEST(range(1, w.copies + 1)) AS r(c)
  WHERE w.copies > 0
)
SELECT source,
       COUNT(*) AS n_rows_out,
       COUNT(DISTINCT doc_id) AS n_docs_kept
FROM replicated GROUP BY source
""",
)
def mix_upsample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing with REAL-VALUED multipliers: src0-4 at
    2.5× (each doc yields 2 copies plus a hash-decided third), src5-9
    at 1×, everything else at 0.5× (hash-decided keep).

    The replication is ``explode(sequence(1, copies))`` — map-side
    fan-out with a ``copy_id`` so downstream shuffles (e.g. the global
    shuffle-before-training) treat copies as distinct rows; no RNG, so
    the mixed corpus is bit-reproducible.  The summary aggregates the
    replicated relation per source (the materialized explode IS what is
    being tested against the oracle's arithmetic mirror)."""
    d = load_table(spark, sf_dir, "documents")
    floor_copies = (
        F.when(F.col("source").isin(*UP_SOURCES), F.lit(2))
        .when(F.col("source").isin(*KEEP_SOURCES), F.lit(1))
        .otherwise(F.lit(0))
    )
    frac_bound = F.when(
        F.col("source").isin(*KEEP_SOURCES), F.lit("00")
    ).otherwise(F.lit("80"))
    copies = floor_copies + (_hash2(F.col("doc_id")) < frac_bound).cast("int")
    replicated = (
        d.select("doc_id", "source", copies.alias("copies"))
        .where(F.col("copies") > 0)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1), F.col("copies"))))
    )
    return replicated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows_out"),
        F.countDistinct("doc_id").alias("n_docs_kept"),
    )


PACK_CAP = 256  # tokens per training sequence


@register(
    "pack_sequences_cumsum",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
offs AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY h
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
  FROM toks
)
SELECT source,
       CAST(start_off // {PACK_CAP} AS INTEGER) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
FROM offs
GROUP BY source, CAST(start_off // {PACK_CAP} AS INTEGER)
""",
)
def pack_sequences_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: assign documents to fixed-capacity
    training packs by running token offset, per source shard.

    The assignment is ``pack_id = floor(start_offset / CAP)`` over a
    deterministic (hash-ordered) running token sum — the one-pass
    approximation of bin packing every large-scale pretraining pipeline
    uses (documents are concatenated in shard order and split every CAP
    tokens; a doc straddling a boundary belongs to the pack where it
    starts).  One window per SOURCE shard — packing never needs a
    global sort, so the shuffle is per-shard and parallel; the
    deterministic hash order doubles as the corpus shuffle.  Exact
    bin-packing (FFD) is inherently sequential and buys ~2% fill at
    pretraining scale — the cumsum form is the scale-honest choice."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    h = F.md5(F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(h).rowsBetween(W.unboundedPreceding, 0)
    offs = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        (F.sum(n_tok).over(w) - n_tok).alias("start_off"),
    )
    return (
        offs.withColumn(
            "pack_id", F.floor(F.col("start_off") / PACK_CAP).cast("int")
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
    )


SAMPLE_K_PER_GROUP = 20


@register(
    "sample_topk_per_group",
    oracle=f"""
SELECT lang, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= {SAMPLE_K_PER_GROUP}
""",
)
def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (balanced eval slices,
    per-class inspection sets): rank rows within each language by the
    row-key hash and keep the first k.

    Unlike rate-based sampling this guarantees the count per stratum;
    the hash order makes it a uniform draw that is identical on every
    engine, cluster size, and retry.  One window per stratum — the
    shuffle is the per-group partition, never a global sort; at scale
    this is the standard distributed reservoir replacement (exact k,
    no reservoir state)."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SAMPLE_K_PER_GROUP)
        .select("lang", "doc_id", "n_chars")
    )


# Deterministic corpus split: md5 of the row key buckets into 256 cells;
# cells [0,204) → train (~80%), [204,230) → val (~10%), rest → test.
SPLIT_TRAIN_CELLS = 204
SPLIT_VAL_CELLS = 230


@register(
    "split_train_val_test",
    oracle=f"""
WITH cells AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) AS cell
  FROM documents
)
SELECT CASE WHEN cell < {SPLIT_TRAIN_CELLS} THEN 'train'
            WHEN cell < {SPLIT_VAL_CELLS} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM cells GROUP BY 1
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, exclusive train/val/test assignment — every
    training pipeline's first partitioning decision.  The md5-cell
    device is the same engine-stable hash the deterministic sampler
    uses (``sample_hash_deterministic``): identical on every engine,
    cluster size, and retry, and a document can never change split when
    the corpus grows (assignment depends only on its own key).
    Row-local expression → scan-stage decision, no shuffle beyond the
    reporting aggregate; writing the three splits is the same plan with
    a partitioned sink on ``split``."""
    d = load_table(spark, sf_dir, "documents")
    cell = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    split = (
        F.when(cell < SPLIT_TRAIN_CELLS, "train")
        .when(cell < SPLIT_VAL_CELLS, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# Weighted sampling without replacement (Efraimidis–Spirakis 2006):
# top-k rows by key u^(1/w) with u uniform per row.  Integer weights
# let the key be re-expressed with an INTEGER exponent — x → x^L is
# monotone on (0,1), so ranking by u^(L/w) (L = lcm of the weights) is
# the identical sample while using ONLY +, * and division by 2^52:
# every step is exactly-rounded IEEE arithmetic, bit-identical across
# engines, where pow()/ln() would be at the mercy of each libm.
ES_WEIGHTS = {"en": 4, "es": 2}  # other langs weight 1; lcm L = 4
ES_SAMPLE_K = 50
_U_DENOM = float(1 << 52)  # 13 hex digits = 52 bits, exact in double


_ES_LCM = 4


def _es_exponents() -> dict[str, int]:
    """lang → integer exponent L/w (others → L).  SINGLE source of the
    power chains: both engines' key expressions are generated from
    this map as left-associated multiplication chains, so editing
    ES_WEIGHTS cannot desynchronize them.  Every weight must divide
    _ES_LCM exactly — a non-divisor would silently FLOOR its exponent
    in both engines (the cross-engine check can't catch a shared
    error), so it is rejected here instead."""
    for lang, w in ES_WEIGHTS.items():
        if _ES_LCM % w != 0:
            raise ValueError(
                f"ES weight {w} for {lang!r} does not divide _ES_LCM={_ES_LCM}; "
                "raise _ES_LCM to the true lcm of all weights"
            )
    return {lang: _ES_LCM // w for lang, w in ES_WEIGHTS.items()}


def _es_chain_sql(e: int) -> str:
    """u^e as a left-associated explicit product, e.g. ((u * u) * u) * u."""
    expr = "u"
    for _ in range(e - 1):
        expr = f"({expr} * u)" if expr != "u" else "u * u"
    return expr


def _es_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {_es_chain_sql(e)}"
        for lang, e in sorted(_es_exponents().items())
    )
    return f"CASE lang {whens} ELSE {_es_chain_sql(_ES_LCM)} END"


@register(
    "sample_weighted_es",
    oracle=f"""
WITH u AS (
  SELECT doc_id, lang,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
          + 0.5) / {_U_DENOM!r} AS u
  FROM documents
),
keys AS (
  SELECT doc_id, lang,
         {_es_case_sql()} AS k
  FROM u
)
SELECT doc_id, lang, ROUND(k, 9) AS es_key
FROM keys ORDER BY k DESC, doc_id LIMIT {ES_SAMPLE_K}
""",
)
def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement — the data
    mixer's "sample 50 docs, English 4×, Spanish 2×" primitive, via
    Efraimidis–Spirakis exp-sort keys on engine-stable md5 uniforms.

    ``u = (md5_52bits + 0.5) / 2^52`` is the same never-rand() device
    as ``sample_hash_deterministic``; the ES key ``u^(1/w)`` is ranked
    through the monotone integer-exponent form ``u^(L/w)`` (explicit
    multiplication chains, no libm pow), so the sample is reproducible
    bit-for-bit on any engine, cluster size, or retry.  Plan: a
    map-side key expression + one TakeOrderedAndProject — no shuffle
    beyond the top-k, and the k rows are the only thing collected.  At
    100 TB this is how you draw a weighted eval set from the corpus in
    one pass."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(_U_DENOM)
    base = d.select("doc_id", "lang", u.alias("u"))
    uu = F.col("u")

    def chain(e: int):  # left-associated u^e, mirroring _es_chain_sql
        expr = uu
        for _ in range(e - 1):
            expr = expr * uu
        return expr

    key = F.lit(None).cast("double")
    for lang, e in sorted(_es_exponents().items(), reverse=True):
        key = F.when(F.col("lang") == lang, chain(e)).otherwise(key)
    key = F.coalesce(key, chain(_ES_LCM))
    return (
        base.select("doc_id", "lang", key.alias("k"))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(ES_SAMPLE_K)
        .select("doc_id", "lang", F.round("k", 9).alias("es_key"))
    )


# --- temperature-scaled source mixing ---------------------------------------

TEMP_ALPHA = 0.5  # mixing temperature: w_s ∝ count_s^alpha


def temperature_mix_plan(counts: dict[str, int]) -> dict[str, tuple[int, int]]:
    """Per-source (floor_copies, frac_threshold/65536) for a
    temperature-alpha rebalance that PRESERVES total corpus size.

    Pure driver-side arithmetic shared verbatim between the Spark query
    (runtime counts) and the oracle generator (oracle-time
    counts), so both engines apply bit-identical literals — the
    functions/train.py discipline applied to mixing weights.  The
    deterministic sequential sum over name-sorted sources removes the
    one order-sensitive float reduction from the cross-engine path."""
    total = sum(counts.values())
    keys = sorted(counts)
    denom = 0.0
    for k in keys:
        denom += counts[k] ** TEMP_ALPHA
    plan = {}
    for k in keys:
        w = counts[k] ** TEMP_ALPHA / denom
        copies = total * w / counts[k]
        fl = int(copies)
        plan[k] = (fl, int((copies - fl) * 65536))
    return plan


def _temp_mix_oracle() -> str:
    import duckdb

    from ..functions.train import ORACLE_SF_DIR

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT source, COUNT(*) FROM read_parquet("
            f"'{ORACLE_SF_DIR}/documents.parquet') GROUP BY source"
        ).fetchall()
    finally:
        con.close()
    plan = temperature_mix_plan({s: int(c) for s, c in rows})
    fl_case = " ".join(
        f"WHEN '{s}' THEN {fl}" for s, (fl, _) in sorted(plan.items())
    )
    th_case = " ".join(
        f"WHEN '{s}' THEN {th}" for s, (_, th) in sorted(plan.items())
    )
    return f"""
WITH weighted AS (
  SELECT doc_id, source,
         (CASE source {fl_case} END)
         + (CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS INTEGER) < (CASE source {th_case} END)
                 THEN 1 ELSE 0 END) AS copies
  FROM documents
),
replicated AS (
  SELECT w.doc_id, w.source, CAST(r.c AS INTEGER) AS copy_id
  FROM weighted w, UNNEST(range(1, w.copies + 1)) AS r(c)
  WHERE w.copies > 0
)
SELECT source,
       COUNT(*) AS n_rows_out,
       COUNT(DISTINCT doc_id) AS n_docs_kept
FROM replicated GROUP BY source
"""


@register("mix_temperature_sources", oracle=_temp_mix_oracle)
def mix_temperature_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-pretraining
    standard, e.g. mT5/XLM-R's alpha-sampling, public papers): source s
    is sampled with weight ∝ count_s^alpha, flattening the source
    distribution while preserving total corpus size — big sources
    downsample, small sources upsample, alpha interpolates between
    proportional (1.0) and uniform (0.0).

    Shape: ONE tiny counting aggregate (≤ n_sources rows collected —
    the same bounded-collect budget as the quantizer samples), weights
    folded into literals, then the replication/keep decision is the
    same hash-fractional explode as ``mix_upsample_sources`` — map-side,
    RNG-free, bit-reproducible under retries.  The per-source plan
    arithmetic is shared verbatim with the oracle generator, giving the
    data-dependent weights an exact cross-engine check."""
    d = load_table(spark, sf_dir, "documents")
    plan = temperature_mix_plan(corpus_source_counts(d))
    replicated = temperature_replicate(d, plan)
    return replicated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows_out"),
        F.countDistinct("doc_id").alias("n_docs_kept"),
    )


def corpus_source_counts(d: DataFrame) -> dict[str, int]:
    """Per-source row counts (bounded ≤ n_sources collect)."""
    return {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def temperature_replicate(d: DataFrame, plan: dict[str, tuple[int, int]]) -> DataFrame:
    """The frozen-plan replication projection shared by the batch query
    and the streaming mixer (streaming/ingest.temperature_mix_stream):
    per-source floor copies + hash-fractional extra copy, exploded to
    (doc_id, source, copy_id) rows.  Stateless and row-local once the
    plan is literals."""
    fl = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(f)).otherwise(F.lit(None))
            for s, (f, _) in sorted(plan.items())
        ]
    )
    th = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(t)).otherwise(F.lit(None))
            for s, (_, t) in sorted(plan.items())
        ]
    )
    hash4 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    copies = fl + (hash4 < th).cast("int")
    return (
        d.select("doc_id", "source", copies.alias("copies"))
        .where(F.col("copies") > 0)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1), F.col("copies"))))
    )


# ---------------------------------------------------------------------------
# Token-budget mixture allocation: production mixing briefs are stated
# in TOKENS ("train on 1T tokens: 60% web, 20% code, ..."), not in
# document counts — the quota solver is the step between corpus
# accounting and the replication/keep pass the mix_* rows implement.
# Largest-remainder (Hamilton) apportionment on exact integers: quotas
# sum EXACTLY to the target, deterministically.
# ---------------------------------------------------------------------------


@register(
    "mix_token_budget",
    oracle="""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT source, n_docs, avail_tokens,
         CAST(SUM(avail_tokens) OVER () AS BIGINT) AS t_total,
         CAST(SUM(avail_tokens) OVER () // 2 AS BIGINT) AS target
  FROM per_src
),
alloc AS (
  SELECT source, n_docs, avail_tokens, target,
         CAST((target * avail_tokens) // t_total AS BIGINT) AS quota_floor,
         CAST((target * avail_tokens) % t_total AS BIGINT) AS remainder
  FROM tot
),
ranked AS (
  SELECT *,
         CAST(target - SUM(quota_floor) OVER () AS BIGINT) AS leftover,
         ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rn
  FROM alloc
)
SELECT source, n_docs, avail_tokens,
       CAST(quota_floor + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS quota_tokens,
       ROUND(CAST(quota_floor + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                  AS DOUBLE) / target, 6) AS budget_share
FROM ranked
ORDER BY source
""",
)
def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate a 50%-of-corpus token budget across sources by
    largest-remainder apportionment: floor quotas proportional to each
    source's available tokens, then the leftover units go to the
    largest fractional remainders (remainder DESC, source ASC
    tie-break) so quotas sum EXACTLY to the target.

    Scale shape: the only corpus-scale work is one map-side-combined
    hash agg (per-source doc/token totals, token_count in codegen); the
    apportionment algebra runs over the n_sources-row frame via
    unpartitioned windows — bounded by the number of sources, never by
    the corpus.  All quota math is exact BIGINT (products bounded by
    target x avail ~ 1e12 here; a 1e13-token corpus widens the product
    column to DECIMAL(38,0) with the plan unchanged), so the driver
    value-hash is bit-stable.  The tokens-per-source accounting a real
    brief would use BPE counts for is certified separately by
    tokenizer_bpe_encode; this row's subject is the allocator."""
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("avail_tokens"),
    )
    whole = W.partitionBy()  # n_sources rows: bounded frame by design
    tot = per_src.select(
        "source",
        "n_docs",
        "avail_tokens",
        F.sum("avail_tokens").over(whole).alias("t_total"),
        F.expr("sum(avail_tokens) over () div 2").alias("target"),
    )
    alloc = tot.select(
        "source",
        "n_docs",
        "avail_tokens",
        "target",
        F.expr("(target * avail_tokens) div t_total").alias("quota_floor"),
        ((F.col("target") * F.col("avail_tokens")) % F.col("t_total")).alias(
            "remainder"
        ),
    )
    ranked = alloc.select(
        "*",
        (F.col("target") - F.sum("quota_floor").over(whole)).alias("leftover"),
        F.row_number()
        .over(whole.orderBy(F.desc("remainder"), F.asc("source")))
        .alias("rn"),
    )
    quota = F.col("quota_floor") + F.when(
        F.col("rn") <= F.col("leftover"), F.lit(1)
    ).otherwise(F.lit(0))
    return ranked.select(
        "source",
        "n_docs",
        "avail_tokens",
        quota.cast("long").alias("quota_tokens"),
        F.round(quota.cast("double") / F.col("target"), 6).alias("budget_share"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# mix_interleave_roundrobin — deterministic TRAINING-ORDER construction.
# A shuffled-but-balanced epoch order matters as much as the mixture
# itself: consecutive batches from one source make gradients locally
# biased (the reason T5/GPT pipelines globally shuffle shards and
# interleave sources).  RNG shuffles are retry-unstable; this row
# builds the order DETERMINISTICALLY: rank docs within their source by
# a seeded hash (the in-source shuffle), then take one doc per source
# per round (rank-major, source-minor) — a perfect round-robin until a
# source exhausts, after which the survivors keep alternating.
# ---------------------------------------------------------------------------

_INTERLEAVE_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS STRING)), doc_id
         ) AS rnk
  FROM {documents}
),
ordered AS (
  SELECT doc_id, source, rnk,
         ROW_NUMBER() OVER (ORDER BY rnk, source, doc_id) AS pos
  FROM ranked
),
adj AS (
  SELECT source,
         LAG(source) OVER (ORDER BY pos) AS prev_source
  FROM ordered
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END) AS BIGINT)
         AS n_adjacent_same_source
FROM adj
"""


@register(
    "mix_interleave_roundrobin",
    oracle=_INTERLEAVE_SQL.replace("{documents}", "documents"),
)
def q_mix_interleave_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin source interleave with its balance certificate: the
    output row proves the constructed training order never places two
    same-source docs adjacently while every source still has docs
    remaining (``n_adjacent_same_source`` counts ONLY the tail where
    exhausted sources force repeats — near zero on a balanced corpus).
    The in-source order is an md5-of-doc_id rank: a deterministic
    shuffle, bit-stable under retries and engine-shared (both engines'
    md5 hex sorts identically).

    Scale shape, stated honestly: a training order is a TOTAL order,
    so the position assignment is a global sort — at 100 TB that is
    the range-partitioned sort-before-write every shard-shuffling
    exporter pays once per epoch (pipeline_export_packed's shape), not
    a per-query cost; the within-source rank is one source-keyed
    window before it.  The certificate aggregation itself is one pass
    over the ordered stream."""
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__il_docs")
    return spark.sql(_INTERLEAVE_SQL.replace("{documents}", "__il_docs"))


# ---------------------------------------------------------------------------
# batch_padding_audit — the PADDING ledger for length-bucketed dynamic
# batching, pack_sequences_cumsum's inference-side sibling: packing
# concatenates documents (no padding, for pretraining); serving and
# eval batch SEPARATE sequences and pad each batch to its longest
# member.  The standard mitigation is length bucketing — route each doc
# to a 64-token-wide length bucket, batch within the bucket in
# deterministic hash order — and the number a pipeline operator owes
# its operator is the WASTE: padded minus actual tokens per bucket, the
# quantity bucketing exists to shrink.
#
# Cross-engine care: the bucket cap is pure integer arithmetic
# (((n + 63) div 64) * 64) — NOT power-of-two via log2, whose
# libm-vs-libm last-ulp drift at exact powers of two would flip a
# ceil() between engines.
# ---------------------------------------------------------------------------

PAD_BUCKET_W = 64  # bucket width in tokens
PAD_BATCH = 16  # sequences per batch


@register(
    "batch_padding_audit",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tok,
         ((len(string_split(text, ' ')) + {PAD_BUCKET_W - 1}) // {PAD_BUCKET_W})
           * {PAD_BUCKET_W} AS bucket_cap,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
batched AS (
  SELECT source, bucket_cap, n_tok,
         (ROW_NUMBER() OVER (PARTITION BY source, bucket_cap ORDER BY h, doc_id)
          - 1) // {PAD_BATCH} AS batch_id
  FROM toks
),
per_batch AS (
  SELECT source, bucket_cap, batch_id,
         COUNT(*) AS n_docs, MAX(n_tok) AS max_tok,
         CAST(SUM(n_tok) AS BIGINT) AS actual_tok
  FROM batched GROUP BY source, bucket_cap, batch_id
)
SELECT source,
       CAST(bucket_cap AS BIGINT) AS bucket_cap,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(actual_tok) AS BIGINT) AS actual_tokens,
       CAST(SUM(n_docs * max_tok) AS BIGINT) AS padded_tokens,
       ROUND(1.0 - SUM(actual_tok) / CAST(SUM(n_docs * max_tok) AS DOUBLE), 6)
         AS waste_frac
FROM per_batch
GROUP BY source, bucket_cap
ORDER BY source, bucket_cap
""",
)
def q_batch_padding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, bucket) padding ledger: batches of {PAD_BATCH} in
    hash order within each 64-token length bucket, each batch padded to
    its own max — report batch count, actual vs padded tokens, and the
    waste fraction bucketing leaves on the table.

    Scale shape: ONE window exchange keyed (source, bucket_cap) — the
    salt the per-source packing window already relies on, so no bucket
    concentrates a corpus — then two hash aggregates that reuse the
    window's partitioning (no further exchange)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    bucket = (
        F.expr(
            f"((size(split(text, ' ')) + {PAD_BUCKET_W - 1}) div {PAD_BUCKET_W})"
            f" * {PAD_BUCKET_W}"
        )
    ).cast("long")
    h = F.md5(F.col("doc_id").cast("string"))
    toks = d.select(
        "doc_id", "source", n_tok.alias("n_tok"), bucket.alias("bucket_cap"), h.alias("h")
    )
    batched = toks.select(
        "source",
        "bucket_cap",
        "n_tok",
        F.expr(f"(row_number() over (partition by source, bucket_cap "
               f"order by h, doc_id) - 1) div {PAD_BATCH}").alias("batch_id"),
    )
    per_batch = batched.groupBy("source", "bucket_cap", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tok").alias("max_tok"),
        F.sum("n_tok").cast("long").alias("actual_tok"),
    )
    return (
        per_batch.groupBy("source", "bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("actual_tok").cast("long").alias("actual_tokens"),
            F.sum(F.col("n_docs") * F.col("max_tok")).cast("long").alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.sum("actual_tok")
                / F.sum(F.col("n_docs") * F.col("max_tok")).cast("double"),
                6,
            ).alias("waste_frac"),
        )
        .orderBy("source", "bucket_cap")
    )
