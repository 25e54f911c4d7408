"""Composed training-data pipeline: the operators of this engine wired
into the end-to-end corpus-cleaning job a pretraining pipeline runs —
language gate → quality gate → near-dedup → canonical-document keep.

The reference has no pipeline surface at all (its only computation is
one vector search, reference `servers/mcp_neo4j_vector_search/
server.py:85-91`); this is the BASELINE.json north-star composition
showing the pieces (`functions/text.py` scoring, bag-signature dedup
from `operators/dedup.py`'s family) compose into one lazy plan.

Scale shape: the gates are pure map-side expressions evaluated in the
scan stage (no Python, no shuffle — rows die before ever moving); the
only shuffle is the dedup groupBy on the bag fingerprint; the keep
decision is a min-aggregate, not a window, so it is partial-aggregated
map-side.  At 100 TB this plan reads the corpus once and shuffles only
gate-surviving fingerprint groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..registry import register
from ..sources.tables import load_table, spread

QUALITY_CUT = 0.70
KEEP_LANGS = ("en", "es")
R = 6


@register(
    "pipeline_clean_corpus",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars, text,
         0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
         + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
                     t -> list_contains(['the', 'a'], t)))::DOUBLE
                      / len(string_split(text, ' ')))
         + 0.3 * len(list_distinct(string_split(text, ' ')))::DOUBLE
                      / len(string_split(text, ' ')) AS quality
  FROM documents
  WHERE lang IN ('en', 'es')
), gated AS (
  SELECT *,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS bag_fp
  FROM scored WHERE quality >= {QUALITY_CUT}
)
SELECT bag_fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_members,
       CAST(MIN(lang) AS VARCHAR) AS lang,
       ROUND(MAX(quality), {R}) AS best_quality
FROM gated
GROUP BY bag_fp
""",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus clean: language gate → quality gate →
    bag-of-words near-dedup → one canonical doc per duplicate group.

    One lazy plan: both gates run inside the scan stage (map-side,
    codegen), the bag fingerprint is the single shuffle key, and the
    canonical choice (min doc_id) plus group stats come out of one
    partial+final aggregate.  No windows, no second pass, no Python.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    gated = (
        d.where(F.col("lang").isin(*KEEP_LANGS))
        .withColumn("quality", T.quality_score(t))
        .where(F.col("quality") >= QUALITY_CUT)
        .withColumn("bag_fp", F.md5(T.bag_signature(t)))
    )
    return gated.groupBy("bag_fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.min("lang").cast("string").alias("lang"),
        F.round(F.max("quality"), R).alias("best_quality"),
    )


# ---------------------------------------------------------------------------
# Composed end-to-end "build the corpus" pipeline (VERDICT r4 #8):
# chunk → repetition gate → quality gate → deterministic split →
# exact chunk dedup — one lazy plan, ONE shuffle (the dedup groupBy).
# ---------------------------------------------------------------------------

REP_CAP = 0.5          # duplicate-3-gram ratio gate (Gopher-style)
CHUNK_KEY_BASE = 100000  # doc_id · base + chunk_id → single sortable key


def _chunk_gate_split_sql() -> str:
    """The shared oracle fragment: chunked, gated, split-assigned chunk
    rows — each sub-fragment mirrors an already-proven single-operator
    oracle (chunk_documents_overlap, text_repetition_scores,
    pipeline_clean_corpus's quality term, split_train_val_test's
    md5-cell device)."""
    from ..operators.sampling import SPLIT_TRAIN_CELLS, SPLIT_VAL_CELLS
    from ..operators.text_analysis import CHUNK_STRIDE, CHUNK_TOKENS

    return f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens,
         len(string_split(text, ' ')) AS n
  FROM documents
),
chunks AS (
  SELECT doc_id,
         CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
         array_to_string(tokens[s + 1 : s + {CHUNK_TOKENS}], ' ') AS chunk_text
  FROM (
    SELECT doc_id, tokens, n,
           unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS s
    FROM toks
  )
),
ct AS (
  SELECT doc_id, chunk_id, chunk_text,
         string_split(chunk_text, ' ') AS ctok,
         len(string_split(chunk_text, ' ')) AS cn
  FROM chunks
),
rep AS (
  SELECT *, CASE WHEN cn >= 3 THEN
       ROUND(1.0 - len(list_distinct(list_transform(range(1, cn - 1),
                 i -> array_to_string(ctok[i : i + 2], ' '))))
             / CAST(cn - 2 AS DOUBLE), {R})
       ELSE 0.0 END AS rep_3gram
  FROM ct
),
scored AS (
  SELECT *,
         0.4 * least(1.0, cn / 50.0)
         + 0.3 * (1.0 - len(list_filter(ctok, t -> list_contains(['the', 'a'], t)))::DOUBLE / cn)
         + 0.3 * len(list_distinct(ctok))::DOUBLE / cn AS quality
  FROM rep
),
gated AS (
  SELECT * FROM scored
  WHERE rep_3gram <= {REP_CAP} AND quality >= {QUALITY_CUT}
),
assigned AS (
  SELECT doc_id, chunk_id, chunk_text,
         CASE WHEN cell < {SPLIT_TRAIN_CELLS} THEN 'train'
              WHEN cell < {SPLIT_VAL_CELLS} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT *, CAST(('0x' || substr(md5(CAST(doc_id * {CHUNK_KEY_BASE} + chunk_id
                                            AS VARCHAR)), 1, 2)) AS INTEGER) AS cell
    FROM gated
  )
)"""


@register(
    "pipeline_build_corpus",
    oracle=f"""
WITH {{fragment}}
SELECT split,
       md5(array_to_string(list_sort(list_distinct(string_split(chunk_text, ' '))), ' '))
         AS fp,
       MIN(doc_id * {CHUNK_KEY_BASE} + chunk_id) // {CHUNK_KEY_BASE} AS keep_doc,
       MIN(doc_id * {CHUNK_KEY_BASE} + chunk_id) % {CHUNK_KEY_BASE} AS keep_chunk,
       COUNT(*) AS n_members
FROM assigned
GROUP BY split, fp
""".replace("{fragment}", _chunk_gate_split_sql()),
)
def pipeline_build_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-BUILD pipeline (VERDICT r4 #8): RAG chunking
    → repetition gate → quality gate → deterministic train/val/test
    assignment → exact per-split chunk dedup, wired as ONE lazy plan.

    Every stage reuses the single-operator expressions already proven
    green on their own (operators/text_analysis.chunk_with_overlap,
    the repetition/quality scores, sampling's md5-cell splits,
    dedup's bag fingerprints), so the oracle is those fragments
    chained.  Plan shape: chunking is a bounded per-row explode in the
    scan stage, every gate and the split decision are map-side
    expressions, and the ONLY exchange in the whole plan is the final
    dedup groupBy on (split, fp) — at 100 TB this reads the corpus
    once and shuffles only gate-surviving fingerprint groups (the
    composition does not blow up the plan; asserted by the plan lint
    and tests/test_plans.py).
    """
    from ..functions.text import STOPWORDS
    from ..operators.sampling import SPLIT_TRAIN_CELLS, SPLIT_VAL_CELLS
    from ..operators.text_analysis import CHUNK_STRIDE, CHUNK_TOKENS

    # Chunks as TOKEN ARRAYS, not re-joined strings: every gate below
    # consumes the sliced array directly.  Deriving gates from a joined
    # chunk_text string makes Catalyst's projection collapse re-inline
    # the join+re-split into EVERY use site (the 3-gram transform alone
    # re-splits the chunk per element — O(chunk²) string work per row,
    # measured ~4× slower end-to-end); slicing the already-materialized
    # token array is a bounded element copy.  Values are identical —
    # join/split round-trips exactly on single-space tokens, which is
    # why the oracle's string formulation still matches.
    # spread BEFORE the explode: chunking amplifies per-row compute
    # ~(n/stride)×, so a single-split scan would run the whole gate
    # stage on one core (gated no-op on wide scans — tables.spread)
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.split("text", " ").alias("tokens"),
        F.size(F.split("text", " ")).alias("n"),
    )
    starts = toks.select(
        "doc_id",
        "tokens",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    )
    chunks = starts.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.slice("tokens", F.col("s") + 1, CHUNK_TOKENS).alias("ctok"),
    )
    ctok = F.col("ctok")
    cn = F.size(ctok)
    grams = F.when(
        cn >= 3,
        F.transform(
            F.sequence(F.lit(1), cn - 2),
            lambda i: F.array_join(F.slice(ctok, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rep = F.when(
        F.size(grams) > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
            R,
        ),
    ).otherwise(F.lit(0.0))
    # the quality trio over the array — same arithmetic as
    # functions.text.quality_score over the string form
    stop_ratio = (
        F.size(F.filter(ctok, lambda t: t.isin(STOPWORDS))).cast("double") / cn
    )
    distinct_ratio = F.size(F.array_distinct(ctok)).cast("double") / cn
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), cn.cast("double") / F.lit(50.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * distinct_ratio
    )
    gated = (
        chunks.withColumn("rep_3gram", rep)
        .withColumn("quality", quality)
        .where((F.col("rep_3gram") <= REP_CAP) & (F.col("quality") >= QUALITY_CUT))
    )
    pos = F.col("doc_id") * CHUNK_KEY_BASE + F.col("chunk_id")
    cell = F.conv(F.substring(F.md5(pos.cast("string")), 1, 2), 16, 10).cast("int")
    split = (
        F.when(cell < SPLIT_TRAIN_CELLS, "train")
        .when(cell < SPLIT_VAL_CELLS, "val")
        .otherwise("test")
    )
    assigned = gated.select(
        split.alias("split"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(ctok)), " ")).alias("fp"),
        pos.alias("pos"),
    )
    return assigned.groupBy("split", "fp").agg(
        F.floor(F.min("pos") / CHUNK_KEY_BASE).cast("long").alias("keep_doc"),
        F.pmod(F.min("pos"), F.lit(CHUNK_KEY_BASE)).cast("long").alias("keep_chunk"),
        F.count(F.lit(1)).alias("n_members"),
    )


def _index_cells_oracle() -> str:
    """Centroid-assignment fragment (proven by the IVF family oracles)
    applied to the pipeline's kept TRAIN documents."""
    # ann's quantizer — must mirror the IVF index's own training sample
    # (load_or_build_ivf_index), not PQ's codebook sample
    from ..operators.ann import ivf_assign_sql, oracle_centroids

    return f"""
WITH {_chunk_gate_split_sql()},
kept AS (
  SELECT DISTINCT MIN(doc_id * {CHUNK_KEY_BASE} + chunk_id) // {CHUNK_KEY_BASE} AS doc_id
  FROM assigned
  WHERE split = 'train'
  GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(chunk_text, ' '))), ' '))
),
kept_emb AS (
  SELECT e.vec_id, e.embedding FROM embeddings e JOIN kept k ON k.doc_id = e.vec_id
),
{ivf_assign_sql(oracle_centroids(), "kept_emb")}
SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
       COUNT(*) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec
FROM assign
GROUP BY centroid_id
"""


@register("pipeline_index_cells", oracle=_index_cells_oracle)
def pipeline_index_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's INDEX stage: the deduped TRAIN split's canonical
    documents join their embeddings and are assigned to IVF cells with
    the SAME quantizer expression the ANN indexes use
    (operators/ann.assignment_col, trained on the same bounded sorted
    sample) — per-cell occupancy out.  Composes gates→splits→dedup→
    embed-index end to end with an exact oracle (the trained-constant
    device of the ANN family chained onto the pipeline fragment).

    Scale shape: the kept-doc id set is the small side (post-gate,
    post-dedup) — AQE broadcasts it into the embeddings join; the
    assignment is a map-side literal-matrix expression; one aggregate
    shuffle on centroid_id (n_centroids groups).  This is exactly the
    "build the index from today's cleaned crawl" join a rolling 100 TB
    pipeline runs.
    """
    from ..operators.ann import assignment_col, load_or_build_ivf_index

    kept = (
        pipeline_build_corpus(spark, sf_dir)
        .where(F.col("split") == "train")
        .select(F.col("keep_doc").alias("vec_id"))
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # same (sample, k, seed, iters) as the IVF index — the cached
    # centroids ARE the retrain result, minus the per-call collect+fit
    _, cents = load_or_build_ivf_index(spark, sf_dir)
    assigned = emb.join(kept, "vec_id").withColumn(
        "centroid_id", assignment_col(cents)
    )
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec"),
    )


@register(
    "split_leakage_check",
    oracle=f"""
WITH {{fragment}},
fps AS (
  SELECT split,
         md5(array_to_string(list_sort(list_distinct(string_split(chunk_text, ' '))), ' '))
           AS fp
  FROM assigned
),
train AS (SELECT DISTINCT fp FROM fps WHERE split = 'train'),
held AS (SELECT split, fp FROM fps WHERE split <> 'train' GROUP BY split, fp)
SELECT held.split,
       COUNT(*) AS n_fps,
       CAST(COALESCE(SUM(CASE WHEN train.fp IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_leaked
FROM held LEFT JOIN train ON train.fp = held.fp
GROUP BY held.split
""".replace("{fragment}", _chunk_gate_split_sql()),
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval LEAKAGE audit — the check every split pipeline must
    run before training: how many distinct val/test chunk fingerprints
    also occur in the train split?  (``decontaminate_ngram_overlap``
    guards against an EXTERNAL benchmark; this guards the pipeline's
    own held-out splits.)

    Composes the same chunk→gate→split fragment as
    ``pipeline_build_corpus``; the train side reduces to a distinct
    fingerprint set (the same persisted-aggregate artifact the
    incremental dedup probes), the held-out sides probe it with a LEFT
    join counted per split — at 100 TB both sides are id-width
    fingerprint streams, never documents."""
    from ..functions.text import STOPWORDS  # noqa: F401 (shared gates)

    corpus = pipeline_build_corpus(spark, sf_dir)
    fps = corpus.select("split", "fp")
    train = fps.where(F.col("split") == "train").select("fp").distinct()
    held = fps.where(F.col("split") != "train").select("split", "fp").distinct()
    return (
        held.join(train.withColumn("__hit", F.lit(1)), "fp", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_leaked"),
        )
    )


# ---------------------------------------------------------------------------
# Export last mile: keep-filter → exact dedup → shard-packed manifest,
# one lazy plan — the job that turns a curated corpus into training files
# ---------------------------------------------------------------------------

EXPORT_PACK_CAP = 256  # tokens per training sequence (== sampling.PACK_CAP)


def _export_oracle() -> str:
    from .curation import (
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
        QR,
    )

    return f"""
WITH feats AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS n_words,
         ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')), {QR}) AS mean_word_len,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN {GOPHER_STOPS})) AS BIGINT) AS stop_hits
  FROM documents
),
kept AS (
  SELECT * FROM feats
  WHERE n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
    AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
    AND stop_hits >= {GOPHER_MIN_STOP_HITS}
),
dedup AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
offs AS (
  SELECT source, n_words,
         SUM(n_words) OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))
                            ROWS UNBOUNDED PRECEDING) - n_words AS start_off
  FROM dedup
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(MAX(start_off // {EXPORT_PACK_CAP}) + 1 AS INTEGER) AS n_packs,
       CAST(SUM(n_words) AS BIGINT) AS total_tokens
FROM offs
GROUP BY source
"""


@register("pipeline_export_packed", oracle=_export_oracle)
def q_pipeline_export_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data EXPORT job as one lazy plan: Gopher keep gate
    (shared predicate with ``quality_gopher_rules`` — the filter runs
    inside the scan stage, codegen, no shuffle), exact-text dedup
    (keep the lowest doc_id per text — one window on the text key),
    then the deterministic hash-ordered sequence packing per source
    shard (``pack_sequences_cumsum``'s running-offset device), emitting
    the per-shard export manifest (docs, packs, tokens) a downstream
    trainer consumes.  Three pipeline stages, two shuffles total (text
    key, source window) — the composition a 100 TB export runs nightly,
    with the packed parquet write being the same plan plus a
    partitioned sink on (source, pack_id)."""
    from pyspark.sql import Window as W

    from .curation import gopher_keep

    d = load_table(spark, sf_dir, "documents")
    kept = d.where(gopher_keep(F.col("text")))
    w_text = W.partitionBy("text").orderBy("doc_id")
    dedup = (
        kept.withColumn("rn", F.row_number().over(w_text))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    n_tok = F.size(F.split(F.col("text"), " "))
    h = F.md5(F.col("doc_id").cast("string"))
    w_pack = W.partitionBy("source").orderBy(h).rowsBetween(W.unboundedPreceding, 0)
    offs = dedup.select(
        "source",
        n_tok.alias("n_tok"),
        (F.sum(n_tok).over(w_pack) - n_tok).alias("start_off"),
    )
    return offs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max(F.floor(F.col("start_off") / EXPORT_PACK_CAP)) + 1)
        .cast("int")
        .alias("n_packs"),
        F.sum("n_tok").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Fingerprint-atomic split: the constructive sibling of
# split_leakage_check.  The id-keyed split (sampling.py) can strand
# identical chunk content on both sides of the train/eval fence — the
# audit row COUNTS those leaks; this operator makes them impossible:
# the split cell is keyed on the content FINGERPRINT, so every copy of
# a chunk text lands in one split by construction (the dedup-aware
# split every LLM data pipeline should use for held-out sets).
# ---------------------------------------------------------------------------


def _fp_atomic_oracle() -> str:
    from ..operators.sampling import SPLIT_TRAIN_CELLS, SPLIT_VAL_CELLS

    return f"""
WITH {_chunk_gate_split_sql()},
fps AS (
  SELECT md5(array_to_string(list_sort(list_distinct(string_split(chunk_text, ' '))), ' '))
           AS fp,
         COUNT(*) AS n_chunks
  FROM assigned
  GROUP BY fp
),
resplit AS (
  SELECT fp, n_chunks,
         CASE WHEN cell < {SPLIT_TRAIN_CELLS} THEN 'train'
              WHEN cell < {SPLIT_VAL_CELLS} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT *, CAST(('0x' || substr(md5(fp), 1, 2)) AS INTEGER) AS cell
    FROM fps
  )
),
train AS (SELECT DISTINCT fp FROM resplit WHERE split = 'train')
SELECT r.split,
       COUNT(*) AS n_fps,
       CAST(SUM(r.n_chunks) AS BIGINT) AS n_chunks,
       CAST(COALESCE(SUM(CASE WHEN r.split <> 'train' AND t.fp IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaked
FROM resplit r LEFT JOIN train t ON t.fp = r.fp
GROUP BY r.split
"""


@register("split_fp_atomic", oracle=_fp_atomic_oracle)
def split_fp_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-key the gated chunk stream's split on the content
    fingerprint: every chunk with the same fingerprint — across
    documents, across duplicates — gets the same md5(fp) cell, so
    train/eval leakage is structurally zero.  The result still PROBES
    for leaks the honest way (the same left-join the audit row runs)
    and returns the count, which the oracle pins at 0 alongside the
    per-split fingerprint and chunk totals.

    Scale shape: reuses pipeline_build_corpus's one-shuffle fingerprint
    aggregate, adds one groupBy(fp) rollup (already-collapsed groups)
    and a fingerprint-width self-join — no document bytes move."""
    from ..operators.sampling import SPLIT_TRAIN_CELLS, SPLIT_VAL_CELLS

    corpus = pipeline_build_corpus(spark, sf_dir)
    fps = corpus.groupBy("fp").agg(F.sum("n_members").alias("n_chunks"))
    cell = F.conv(F.substring(F.md5(F.col("fp")), 1, 2), 16, 10).cast("int")
    resplit = fps.select(
        "fp",
        "n_chunks",
        F.when(cell < SPLIT_TRAIN_CELLS, "train")
        .when(cell < SPLIT_VAL_CELLS, "val")
        .otherwise("test")
        .alias("split"),
    )
    train = (
        resplit.where(F.col("split") == "train")
        .select("fp")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        resplit.join(train, "fp", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("split") != "train") & F.col("__hit").isNotNull(),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_leaked"),
        )
    )
