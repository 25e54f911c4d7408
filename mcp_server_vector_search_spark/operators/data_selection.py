"""Training-data selection operators from the public literature:
SemDeDup cluster-bounded semantic dedup and DSIR hashed-n-gram
importance resampling weights.

Both are corpus-scale selection passes a 100 TB pretraining pipeline
runs between ingest and tokenization; neither exists in the reference
(whose corpus fits one Neo4j instance), but they are the natural
consumers of the same embedding/text columns the engine already serves.

- **SemDeDup** (Abbas et al. 2023, arXiv:2303.09540): k-means the
  embeddings, compare pairs ONLY within a cluster, drop all but one of
  each semantic-duplicate group.  The cluster bound is the entire
  scaling story: pair count falls from O(n²) to Σ|cluster|², and the
  cluster count grows with n (FAISS discipline: the quantizer still
  trains on a bounded sample).  We reuse the IVF coarse quantizer from
  ``ann.py`` verbatim — index-build and semantic-dedup share one
  clustering, which is exactly how production pipelines amortize it.
- **DSIR** (Xie et al. 2023, arXiv:2302.03169): importance weight of a
  raw document w.r.t. a target distribution, estimated on hashed
  n-gram buckets: w(x) = Σ_{g∈ngrams(x)} [log p_target(bucket(g)) −
  log p_raw(bucket(g))] with Laplace smoothing.  Two hash-agg passes
  build the (tiny) bucket tables; a broadcast join + one per-doc sum
  scores the corpus.  The per-bucket log-ratio is rounded to
  MICRO-units (integer 1e-6) BEFORE the per-doc sum, so the sum is
  exact integer arithmetic — immune to float summation-order
  divergence between engines regardless of how many n-grams a document
  has (the repo's round-before-compare convention, taken to integers
  because the term count here is unbounded).

Cross-engine hashing is the md5-based 60-bit scheme from
``functions/hashing.py`` (Spark ``conv``; DuckDB positional hex sum).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_hash60_mod, md5_hash60_mod
from ..functions.text import adjacent_grams, tokens
from ..functions.train import ORACLE_SF_DIR, load_sorted_vectors
from ..functions.vector import cosine_similarity
from ..registry import register
from ..sources.tables import load_table, spread
from ..cache import scratch_persist
from .ann import (
    ASSIGN_DECIMALS,
    TRAIN_SAMPLE,
    build_ivf_index,
    ivf_assign_sql,
    oracle_centroids,
    train_centroids,
)
from .topk import score_sql

# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic near-duplicate pruning
# ---------------------------------------------------------------------------

# Synthetic embeddings are isotropic Gaussians (d=64): cosine of a
# random pair concentrates near 0, so 0.4 marks genuinely-close pairs
# (measured: 59 global pairs ≥0.4 at the correctness SF).  On real text
# embeddings SemDeDup uses ~0.95+; the threshold is the tunable.
SEMDEDUP_T = 0.4


def semdedup_dropped(assigned: DataFrame, threshold: float = SEMDEDUP_T) -> DataFrame:
    """Vectors pruned by SemDeDup: a vector is dropped iff some
    LOWER-id vector in the SAME cluster has cosine ≥ threshold with it
    (keep-the-first canonical rule — deterministic, order-free).

    The self-join's equi-key is ``centroid_id``: docs in different
    clusters never meet, which is the SemDeDup complexity bound.  At
    100 TB both sides arrive pre-partitioned by centroid_id from the
    IVF layout, so the join is co-located; skewed (hot) clusters are
    the known failure mode and get AQE skew splitting, exactly like
    hot LSH buckets in ``dedup.py``.
    """
    a = assigned.select(
        F.col("vec_id").alias("keep_id"),
        F.col("embedding").alias("keep_emb"),
        "centroid_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("drop_id"),
        F.col("embedding").alias("drop_emb"),
        "centroid_id",
    )
    sim = F.round(cosine_similarity("keep_emb", "drop_emb"), ASSIGN_DECIMALS)
    pairs = (
        a.join(b, "centroid_id")
        .where(F.col("keep_id") < F.col("drop_id"))
        .withColumn("sim", sim)
        .where(F.col("sim") >= threshold)
    )
    return (
        pairs.groupBy(F.col("drop_id").alias("vec_id"), "centroid_id")
        .agg(
            F.count("*").alias("n_dup_partners"),
            F.max("sim").alias("max_sim"),
        )
        .orderBy("vec_id")
    )


def semdedup_dropped_gemm(
    assigned: DataFrame, threshold: float = SEMDEDUP_T
) -> DataFrame:
    """The SCALE path of ``semdedup_dropped``: identical semantics
    (same equi-key cluster bound, same rounded sims, same
    keep-the-first rule), but the within-cell pairwise scoring runs as
    ONE numpy GEMM per cluster via ``applyInPandas`` instead of
    per-pair higher-order-function lambdas (which Catalyst evaluates
    interpreted, per element — measured pathological at production
    cell counts; see ``assignment_gemm``).  Cells stay ~constant-sized
    because the cluster count scales with n, so the per-group
    |cell|² GEMM is bounded; the scale tier asserts agreement with
    the HOF operator on the 10× corpus and planted recall at 100×."""
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "centroid_id": pd.Series([], dtype="int32"),
                "n_dup_partners": pd.Series([], dtype="int64"),
                "max_sim": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )[order]
        U = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        S = np.round(U @ U.T, ASSIGN_DECIMALS)
        iu, ju = np.triu_indices(n, k=1)
        keep = S[iu, ju] >= threshold
        if not keep.any():
            return empty
        drop_idx = ju[keep]
        sims = S[iu, ju][keep]
        out = (
            pd.DataFrame({"drop": drop_idx, "sim": sims})
            .groupby("drop")
            .agg(n_dup_partners=("sim", "size"), max_sim=("sim", "max"))
            .reset_index()
        )
        return pd.DataFrame(
            {
                "vec_id": ids[out["drop"].to_numpy()],
                "centroid_id": np.full(
                    len(out), int(pdf["centroid_id"].iloc[0]), dtype=np.int32
                ),
                "n_dup_partners": out["n_dup_partners"].astype("int64"),
                "max_sim": out["max_sim"].astype("float64"),
            }
        )

    return (
        assigned.select("vec_id", "embedding", "centroid_id")
        .groupBy("centroid_id")
        .applyInPandas(
            score,
            schema=(
                "vec_id long, centroid_id int, "
                "n_dup_partners long, max_sim double"
            ),
        )
        .orderBy("vec_id")
    )


def _semdedup_oracle() -> str:
    cents = oracle_centroids()
    return f"""
WITH {ivf_assign_sql(cents)},
pairs AS (
  SELECT b.vec_id, b.centroid_id,
         ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
               {ASSIGN_DECIMALS}) AS sim
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
)
SELECT vec_id, centroid_id,
       COUNT(*) AS n_dup_partners,
       MAX(sim) AS max_sim
FROM pairs
WHERE sim >= {SEMDEDUP_T}
GROUP BY vec_id, centroid_id
ORDER BY vec_id
"""


@register("semdedup_prune", oracle=_semdedup_oracle)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # the IVF build IS the clustering — one quantizer shared between
    # index and semantic dedup, by calling the one builder (ann.py)
    assigned, _ = build_ivf_index(emb)
    return semdedup_dropped(assigned)


# ---------------------------------------------------------------------------
# dedup_incremental_semdedup — the rolling-ingest form of SemDeDup,
# completing the incremental family (exact, MinHash, substring, lines,
# PageRank — and now embedding-level): which vectors of TODAY's batch
# are semantic near-duplicates of the ACCUMULATED corpus?  The store is
# the corpus's IVF layout (quantizer + cell-assigned survivors — the
# same persisted artifact the ANN serve path reads); the new batch is
# assigned to cells with the STORED centroids (no retraining at ingest,
# the production contract) and scored only against the stored vectors
# sharing its cell.  Only old→new duplication counts — batch-internal
# dups are the batch operator's job (dedup_incremental_substring's
# convention).
# ---------------------------------------------------------------------------

SEMDEDUP_INCR_FRACTION = 0.8  # cut = 0.8 · max(vec_id), family convention


def _incr_semdedup_oracle() -> str:
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    cut = int(SEMDEDUP_INCR_FRACTION * max(ids))
    old = [list(v) for i, v in zip(ids, x) if i < cut]
    cents = train_centroids(old[:TRAIN_SAMPLE])
    return f"""
WITH {ivf_assign_sql(cents)},
pairs AS (
  SELECT b.vec_id, b.centroid_id,
         ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
               {ASSIGN_DECIMALS}) AS sim
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id
   AND a.vec_id < {cut} AND b.vec_id >= {cut}
)
SELECT vec_id, centroid_id,
       COUNT(*) AS n_dup_partners,
       MAX(sim) AS max_sim
FROM pairs
WHERE sim >= {SEMDEDUP_T}
GROUP BY vec_id, centroid_id
ORDER BY vec_id
"""


@register("dedup_incremental_semdedup", oracle=_incr_semdedup_oracle)
def q_dedup_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: assign BOTH sides with the stored
    quantizer (trained on the OLD corpus's deterministic sample — at a
    real cadence a table read, rebuilt here so the gate corpus is
    self-contained), then per cell one asymmetric numpy GEMM scores
    new × stored and reports each new vector's stored near-partners.

    Scale shape: the store is never re-shuffled at probe time beyond
    its own cell key (the layout it is already persisted under); the
    new batch pays one assignment projection and rides the same
    centroid_id exchange.  Per-cell work is |new ∩ cell| × |old ∩
    cell| — bounded because cells track corpus growth — and the GEMM
    replaces interpreted per-pair lambdas exactly like
    ``semdedup_dropped_gemm``."""
    import pandas as pd

    from .ann import _sample_vectors, assignment_col

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cut_row = emb.agg(
        F.floor(F.lit(SEMDEDUP_INCR_FRACTION) * F.max("vec_id"))
        .cast("long")
        .alias("c")
    ).first()
    cut = int(cut_row["c"])
    old_emb = emb.where(F.col("vec_id") < cut)
    cents = train_centroids(_sample_vectors(old_emb, TRAIN_SAMPLE))
    assigned = emb.select(
        "vec_id",
        "embedding",
        assignment_col(cents).alias("centroid_id"),
        (F.col("vec_id") >= cut).alias("is_new"),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "centroid_id": pd.Series([], dtype="int32"),
                "n_dup_partners": pd.Series([], dtype="int64"),
                "max_sim": pd.Series([], dtype="float64"),
            }
        )
        new = pdf[pdf["is_new"]]
        old = pdf[~pdf["is_new"]]
        if new.empty or old.empty:
            return empty
        nid = new["vec_id"].to_numpy(dtype=np.int64)
        N = np.stack([np.asarray(v, dtype=np.float64) for v in new["embedding"]])
        O = np.stack([np.asarray(v, dtype=np.float64) for v in old["embedding"]])
        N /= np.maximum(np.linalg.norm(N, axis=1, keepdims=True), 1e-12)
        O /= np.maximum(np.linalg.norm(O, axis=1, keepdims=True), 1e-12)
        from ..functions.train import round6_arr

        S = round6_arr(N @ O.T)
        hit = S >= SEMDEDUP_T
        cnt = hit.sum(axis=1)
        keep = cnt > 0
        if not keep.any():
            return empty
        smax = np.where(hit, S, -np.inf).max(axis=1)
        return pd.DataFrame(
            {
                "vec_id": nid[keep],
                "centroid_id": np.full(
                    int(keep.sum()), int(pdf["centroid_id"].iloc[0]), dtype=np.int32
                ),
                "n_dup_partners": cnt[keep].astype("int64"),
                "max_sim": smax[keep].astype("float64"),
            }
        )

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(
            score,
            schema=(
                "vec_id long, centroid_id int, "
                "n_dup_partners long, max_sim double"
            ),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# DSIR: hashed-n-gram importance weights vs a target distribution
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64
DSIR_TOP = 20
TARGET_SQL = "lang = 'en'"  # the "target distribution" demo: English docs
MICRO = 1_000_000  # fixed-point scale for the per-bucket log-ratio


def _bigrams(text_col) -> F.Column:
    """Word bigrams WITH multiplicity (DSIR counts occurrences, unlike
    the distinct shingles in dedup.py) — shared guarded gram builder."""
    return adjacent_grams(
        text_col,
        2,
        lambda toks, i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
        "array<string>",
    )


def dsir_weights(docs: DataFrame, target_pred: F.Column) -> DataFrame:
    """Per-document DSIR importance weight in integer micro-units.

    Physical shape (two scans of ``documents``, both ending in tiny or
    broadcast-joined state — nothing corpus-sized shuffles):

    1. stats pass: explode bigrams → bucket → ONE 64-row hash agg
       counting raw and target occurrences (map-side combined);
    2. per-bucket smoothed log-ratio, rounded to integer micro-units
       driver-free (still a DataFrame — it is 64 rows but never
       collected);
    3. scoring pass: explode again → broadcast-join the 64-row ratio
       table → per-doc integer SUM.

    At 100 TB the target corpus is small (a quality reference set) and
    pass 1 over raw data is the cost of one aggregation scan — the
    published DSIR recipe verbatim.
    """
    # referenced twice (bucket stats, scoring join) — persist so the
    # tokenize+hash pass runs once
    grams = (
        docs.select(
            "doc_id",
            target_pred.alias("is_target"),
            F.explode(_bigrams(F.col("text"))).alias("gram"),
        )
        .withColumn("bucket", md5_hash60_mod(F.col("gram")) % DSIR_BUCKETS)
        .transform(scratch_persist)
    )

    stats = grams.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    )
    totals = stats.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    llr = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("ct") + 1.0) / (F.col("tt") + F.lit(DSIR_BUCKETS)))
                    - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.lit(DSIR_BUCKETS)))
                )
                * MICRO
            )
            .cast("long")
            .alias("llr_micro"),
        )
    )
    return (
        grams.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("llr_micro").alias("weight_micro"),
        )
        .orderBy(F.desc("weight_micro"), F.asc("doc_id"))
        .limit(DSIR_TOP)
    )


_DSIR_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, ({TARGET_SQL}) AS is_target,
         unnest(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1])) AS gram
  FROM documents
),
bucketed AS (
  SELECT doc_id, is_target, {duckdb_hash60_mod('gram')} % {DSIR_BUCKETS} AS bucket
  FROM grams
),
stats AS (
  SELECT bucket, COUNT(*) AS cr,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
  FROM bucketed GROUP BY bucket
),
totals AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM stats),
llr AS (
  SELECT bucket,
         CAST(ROUND((ln((ct + 1.0) / (tt + {DSIR_BUCKETS}))
                   - ln((cr + 1.0) / (tr + {DSIR_BUCKETS}))) * {MICRO}) AS BIGINT)
           AS llr_micro
  FROM stats CROSS JOIN totals
)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(l.llr_micro) AS BIGINT) AS weight_micro
FROM bucketed b JOIN llr l ON b.bucket = l.bucket
GROUP BY b.doc_id
ORDER BY weight_micro DESC, b.doc_id
LIMIT {DSIR_TOP}
"""


@register("dsir_importance_weights", oracle=_DSIR_ORACLE)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return dsir_weights(docs, F.expr(TARGET_SQL))


# ---------------------------------------------------------------------------
# Perplexity filtering: bigram-LM quality scores (CCNet-style)
# ---------------------------------------------------------------------------

LM_V = 256  # hashed-token vocabulary (bucket count)
PPL_TOP = 20


def _bucket(col) -> F.Column:
    return md5_hash60_mod(col) % LM_V


def _token_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, b1, b2) per adjacent token pair — token identities are
    hashed to LM_V buckets BEFORE any aggregation, so LM state is
    bounded at LM_V² regardless of corpus vocabulary (the same
    hashed-feature discipline as DSIR above)."""
    guarded = adjacent_grams(
        F.col("text"),
        2,
        lambda toks, i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
        "array<struct<w1:string,w2:string>>",
    )
    return docs.select("doc_id", F.explode(guarded).alias("pr")).select(
        "doc_id",
        _bucket(F.col("pr.w1")).alias("b1"),
        _bucket(F.col("pr.w2")).alias("b2"),
    )


def perplexity_scores(docs: DataFrame) -> DataFrame:
    """Per-document negative log-likelihood under a self-trained hashed
    bigram LM with add-one smoothing: p(w2|w1) = (c12+1)/(c1+V).

    CCNet (Wenzek et al. 2019) filters CommonCrawl by LM perplexity;
    the batch-engine shape is: ONE aggregation pass builds the (≤V²)-row
    count tables, the per-pair log-probs broadcast-join back onto the
    pair stream, and a per-doc integer sum scores the corpus.  In
    production the LM trains on a clean REFERENCE corpus and only the
    scoring pass touches the 100 TB — swap `pairs` for the reference's
    in step 1 and nothing else changes.  Scores are integer micro-nats
    (per-pair log-prob rounded to 1e-6 before the doc sum) so the sum
    is order-free across engines.
    """
    from pyspark.sql import Window as W

    # referenced twice (bigram stats, scoring join).  r17 (guide §2.4):
    # the history counts c1(b1) = Σ_b2 c12 fold out of the bigram table
    # itself as a sum window over the b1 partition — exact integer
    # identity with the old separate groupBy over pairs, which cost a
    # third scan of the persisted pair stream plus a join.  The window
    # shuffles only the ≤V²-row MODEL table (bounded by the hashed
    # vocabulary, never by corpus size), so no skew shape changes.
    pairs = _token_pairs(docs).transform(scratch_persist)
    c2 = pairs.groupBy("b1", "b2").agg(F.count("*").alias("c12"))
    stats = c2.withColumn(
        "c1", F.sum("c12").over(W.partitionBy("b1"))
    ).select(
        "b1",
        "b2",
        F.round(
            F.log((F.col("c12") + 1.0) / (F.col("c1") + F.lit(LM_V))) * MICRO
        )
        .cast("long")
        .alias("llp_micro"),
    )
    scored = pairs.join(F.broadcast(stats), ["b1", "b2"]).groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (-F.sum("llp_micro")).alias("nll_micro"),
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "nll_micro",
            F.round(F.col("nll_micro") / F.col("n_bigrams"))
            .cast("long")
            .alias("avg_nll_micro"),
        )
        .orderBy(F.desc("avg_nll_micro"), F.asc("doc_id"))
        .limit(PPL_TOP)
    )


_PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pairs AS (
  SELECT doc_id,
         {duckdb_hash60_mod("t[i]")} % {LM_V} AS b1,
         {duckdb_hash60_mod("t[i+1]")} % {LM_V} AS b2
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
),
c2 AS (SELECT b1, b2, COUNT(*) AS c12 FROM pairs GROUP BY b1, b2),
c1 AS (SELECT b1, COUNT(*) AS c1 FROM pairs GROUP BY b1),
stats AS (
  SELECT c2.b1, c2.b2,
         CAST(ROUND(ln((c12 + 1.0) / (c1.c1 + {LM_V})) * {MICRO}) AS BIGINT)
           AS llp_micro
  FROM c2 JOIN c1 ON c2.b1 = c1.b1
),
scored AS (
  SELECT p.doc_id, COUNT(*) AS n_bigrams,
         CAST(-SUM(s.llp_micro) AS BIGINT) AS nll_micro
  FROM pairs p JOIN stats s ON p.b1 = s.b1 AND p.b2 = s.b2
  GROUP BY p.doc_id
)
SELECT doc_id, n_bigrams, nll_micro,
       CAST(ROUND(nll_micro / n_bigrams) AS BIGINT) AS avg_nll_micro
FROM scored
ORDER BY avg_nll_micro DESC, doc_id
LIMIT {PPL_TOP}
"""


@register("quality_perplexity_bigram", oracle=_PPL_ORACLE)
def q_quality_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return perplexity_scores(docs)


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining (new in round 12): for each query
# vector, the nearest neighbors that carry a DIFFERENT label — the
# training-pair generator for contrastive/embedding fine-tuning (the
# in-batch-negatives recipe of DPR, Karpukhin et al. 2020,
# arXiv:2004.04906 §3.2, and sentence-transformers' hard-negative
# mining).  The reference serves only plain top-k (server.py:85-91);
# this is the selection pass a pipeline runs OVER that index to build
# its training set.
#
# Scale shape: the query set broadcasts (a few rows), corpus scoring is
# map-side only, the label-inequality predicate is applied BEFORE the
# window so excluded rows never enter the shuffle, and the per-query
# rank prunes to k rows per partition via WindowGroupLimit — the same
# posture as topk_per_query_batch, which the plan test pins.  At 100 TB
# the corpus scan dominates; with the IVF cell layout the scan becomes
# probe-pruned exactly like ann_filtered_topk.
# ---------------------------------------------------------------------------

HN_QUERIES = 4
HN_K = 5


def mine_hard_negatives(
    embeddings: DataFrame, queries: DataFrame, k: int = HN_K
) -> DataFrame:
    from pyspark.sql import Window as W

    from .topk import score_col

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("__qv"),
    )
    scored = embeddings.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        score_col("__qv").alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "neg_label", "score", "rank")
    )


@register(
    "mine_hard_negatives",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {HN_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label AS neg_label,
         {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
  FROM embeddings e JOIN q ON e.label != q.query_label
),
ranked AS (
  SELECT query_id, vec_id, neg_label, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, neg_label, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {HN_K}
""",
)
def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for the HN_QUERIES smallest vec_ids: the top
    HN_K highest-scoring vectors whose label differs from the query's,
    Neo4j-normalized scores, (score DESC, vec_id) rank — the exact
    contrastive-mining slice a trainer would feed back as negatives."""
    emb = load_table(spark, sf_dir, "embeddings")
    return mine_hard_negatives(emb, emb.where(F.col("vec_id") < HN_QUERIES))


# ---------------------------------------------------------------------------
# Model-based quality/selection classifier: logistic regression trained
# driver-side on a bounded sample (the CCNet / GPT-3-WebText recipe —
# a cheap linear model distilled from an expensive quality signal gates
# what enters the corpus; public method descriptions, e.g. Brown et al.
# 2020 §A, Wenzek et al. 2020), scored corpus-wide in ONE codegen
# projection with the weights folded as literals.  The teacher signal
# here is the Gopher dup-2gram repetition rule (the expensive per-doc
# bigram statistic quality_repetition_rules certifies); the student
# sees only UNIGRAM surface features — the row emits teacher verdict
# and student score side by side, so it doubles as the distillation
# audit a production pipeline runs before swapping the cheap model in.
# ---------------------------------------------------------------------------

LR_ITERS = 200
LR_RATE = 2.0
LR_MAX_TRAIN = 4096  # FAISS-discipline bounded driver sample
LR_DUP2_PCT = 3  # teacher: duplicate-2gram fraction >= 3% (median split)


def _lr_surface_features(text: str) -> tuple[float, float, float, float]:
    """Pure-python twin of the engine-side feature expressions: one
    float division per feature, identical op order, so the trainer sees
    the exact doubles the scorer will compute."""
    toks = text.split(" ")  # matches size(split(text, ' ')): keeps empties
    n_tok = len(toks)
    stop = sum(1 for t in toks if t in ("the", "a"))
    return (
        stop / n_tok,
        len(set(toks)) / n_tok,
        min(n_tok, 200) / 200,
        (len(text) / n_tok) / 10,
    )


def _lr_teacher_label(text: str) -> int:
    """Pure-python twin of the engine-side teacher rule: duplicate-
    2gram fraction >= LR_DUP2_PCT%, integer-exact cross-multiplied."""
    tk = text.split(" ")
    n2 = len(tk) - 1
    if n2 < 1:
        return 0
    d2 = len({tk[i] + " " + tk[i + 1] for i in range(n2)})
    return 1 if 100 * (n2 - d2) >= LR_DUP2_PCT * n2 else 0


_LR_CACHE: dict[str, tuple[list[float], float]] = {}


def _lr_weights(sf_dir: str) -> tuple[list[float], float]:
    """Deterministic full-batch gradient descent in float64 numpy over
    the LR_MAX_TRAIN LOWEST doc_ids.  Oracle generation and query-time
    scoring both call THIS function, so at the driver-gate SF the
    folded literals are bitwise identical."""
    if sf_dir in _LR_CACHE:
        return _LR_CACHE[sf_dir]
    import heapq

    import pyarrow.dataset as pads

    # Sample = the LR_MAX_TRAIN lowest doc_ids — a DATA-DEFINED rule, so
    # the trained constants (and hence the registered oracle) survive a
    # rewrite of the same logical corpus with a different row-group or
    # file layout; pyarrow.dataset also reads multi-file datasets the
    # same way load_table does.  Pass 1 streams ONLY the doc_id column
    # through a bounded max-heap (O(LR_MAX_TRAIN) driver memory); pass 2
    # re-reads just the selected rows with the predicate pushed to
    # row-group stats.  At 100 TB pass 1 is a single-column scan — if
    # even that is too much, the threshold becomes a precomputed
    # pipeline constant with the rest unchanged.
    ds = pads.dataset(f"{sf_dir}/documents.parquet", format="parquet")
    heap: list = []  # max-heap via negation: the LR_MAX_TRAIN smallest ids
    for batch in ds.to_batches(columns=["doc_id"], batch_size=8192):
        for v in batch.column("doc_id").to_pylist():
            if v is None:
                continue
            if len(heap) < LR_MAX_TRAIN:
                heapq.heappush(heap, -v)
            elif -heap[0] > v:
                heapq.heapreplace(heap, -v)
    if not heap:  # empty corpus: zero weights, never a driver row
        _LR_CACHE[sf_dir] = ([0.0] * len(_lr_surface_features("")), 0.0)
        return _LR_CACHE[sf_dir]
    cutoff = -heap[0]
    t = ds.to_table(
        columns=["doc_id", "text"], filter=pads.field("doc_id") <= cutoff
    ).to_pylist()
    # (doc_id, text) — the second key makes the truncation below
    # layout-independent even when doc_ids DUPLICATE at the cutoff
    # (a bare doc_id sort is stable on read order, which is exactly
    # the file/row-group dependence this two-pass rule exists to
    # remove; r13 advisor)
    t.sort(key=lambda r: (r["doc_id"], r["text"] or ""))
    t = t[:LR_MAX_TRAIN]  # guard: duplicate doc_ids at the cutoff
    x = np.array([_lr_surface_features(r["text"] or "") for r in t], dtype=np.float64)
    y = np.array([float(_lr_teacher_label(r["text"] or "")) for r in t], dtype=np.float64)
    w = np.zeros(x.shape[1], dtype=np.float64)
    b = 0.0
    n = float(len(t))
    for _ in range(LR_ITERS):
        p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
        err = p - y
        w -= LR_RATE * (x.T @ err) / n
        b -= LR_RATE * float(err.sum()) / n
    _LR_CACHE[sf_dir] = ([float(v) for v in w], float(b))
    return _LR_CACHE[sf_dir]


def _lr_z_sql(w, b) -> str:
    """The shared oracle prefix (g/f/z CTEs: teacher label + student
    logit over the trained literals) — single source for the scoring
    row and the calibration sweep so the arithmetic cannot drift."""
    from ..functions.train import sql_float

    return f"""g AS (
  SELECT doc_id, text, ws,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS g2
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents) s
),
f AS (
  SELECT doc_id,
         CAST(len(g2) >= 1
              AND 100 * (len(g2) - len(list_distinct(g2)))
                  >= {LR_DUP2_PCT} * len(g2) AS INTEGER) AS label,
         CAST(len(list_filter(ws, t -> t = 'the' OR t = 'a')) AS DOUBLE) / len(ws) AS st,
         CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr,
         CAST(LEAST(len(ws), 200) AS DOUBLE) / 200 AS lt,
         (CAST(LENGTH(text) AS DOUBLE) / len(ws)) / 10 AS wl
  FROM g
),
z AS (
  SELECT doc_id, label,
         {sql_float(b)} + {sql_float(w[0])} * st + {sql_float(w[1])} * dr
           + {sql_float(w[2])} * lt + {sql_float(w[3])} * wl AS z
  FROM f
)"""


def _lr_oracle() -> str:
    w, b = _lr_weights(ORACLE_SF_DIR)
    return f"""
WITH {_lr_z_sql(w, b)}
SELECT doc_id, label,
       ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score,
       CAST(z >= 0.0 AS INTEGER) AS predicted
FROM z
ORDER BY doc_id
"""


def _lr_label_z_cols(w, b):
    """(teacher label, student logit) as JVM columns over ``text`` —
    the DataFrame twin of ``_lr_z_sql``, shared by the scoring row and
    the calibration sweep."""
    ws = F.split(F.col("text"), " ")
    g2 = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, c: F.concat(a, F.lit(" "), c),
    )
    n2 = F.size(g2)
    d2 = F.size(F.array_distinct(g2))
    label = (
        (n2 >= 1) & (100 * (n2 - d2) >= F.lit(LR_DUP2_PCT) * n2)
    ).cast("int")
    st = F.size(
        F.filter(ws, lambda t: (t == F.lit("the")) | (t == F.lit("a")))
    ).cast("double") / F.size(ws)
    dr = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    lt = F.least(F.size(ws), F.lit(200)).cast("double") / F.lit(200)
    wl = (F.length("text").cast("double") / F.size(ws)) / F.lit(10)
    z = (
        F.lit(b)
        + F.lit(w[0]) * st
        + F.lit(w[1]) * dr
        + F.lit(w[2]) * lt
        + F.lit(w[3]) * wl
    )
    return label, z


@register("quality_classifier_lr", oracle=_lr_oracle)
def q_quality_classifier_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled quality classifier: logistic regression fit
    driver-side (bounded sample = the LR_MAX_TRAIN lowest doc_ids, 200
    deterministic full-batch GD steps, float64) to imitate the Gopher dup-2gram
    repetition rule from UNIGRAM-only surface features, then the WHOLE
    corpus scored in one shuffle-free projection with the weights as
    literals — teacher label, student score, and student decision side
    by side (the distillation audit).  The teacher needs the bigram
    array per doc (in-row zip_with + array_distinct, still no
    explode/shuffle); the student costs four divisions.

    Cross-engine contract: the four features are one float division
    each with identical op order in Spark SQL, DuckDB, and the python
    trainer; the teacher rule is integer-exact cross-multiplication;
    the decision boundary (predicted) compares the identical double z
    against 0 — sign is exact — and the sigmoid score rounds at 1e-6,
    far above any cross-libm EXP ulp.  At 100 TB the trainer still
    reads LR_MAX_TRAIN rows (a driver constant) and scoring stays
    embarrassingly parallel map-side work."""
    w, b = _lr_weights(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    label, z = _lr_label_z_cols(w, b)
    return (
        d.select(
            "doc_id",
            label.alias("label"),
            z.alias("z"),
        )
        .select(
            "doc_id",
            "label",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6).alias(
                "score"
            ),
            (F.col("z") >= 0.0).cast("int").alias("predicted"),
        )
        .orderBy("doc_id")
    )


# --- quality_classifier_calibration — the threshold sweep ---------------------

CALIB_THR_PCTS = tuple(range(5, 100, 5))  # 5%..95% in 5-point steps


def _calib_logits() -> list[tuple[int, float]]:
    """(threshold %, logit literal) pairs: score ≥ t ⟺ z ≥ ln(t/(1−t))
    because the sigmoid is monotone — sweeping on z avoids re-deriving
    the rounded score and keeps every comparison a raw-double ≥ against
    a shared literal (sign-exact on both engines)."""
    import math

    return [(p, math.log((p / 100.0) / (1.0 - p / 100.0))) for p in CALIB_THR_PCTS]


def _calib_oracle() -> str:
    w, b = _lr_weights(ORACLE_SF_DIR)
    from ..functions.train import sql_float

    values = ",\n    ".join(
        f"({p}, {sql_float(L)})" for p, L in _calib_logits()
    )
    return f"""
WITH {_lr_z_sql(w, b)},
t(thr_pct, lgt) AS (VALUES
    {values}
)
SELECT t.thr_pct,
       CAST(SUM(CASE WHEN z.z >= t.lgt AND z.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN z.z >= t.lgt AND z.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN z.z < t.lgt AND z.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN z.z < t.lgt AND z.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
FROM z CROSS JOIN t
GROUP BY t.thr_pct
ORDER BY t.thr_pct
"""


@register("quality_classifier_calibration", oracle=_calib_oracle)
def q_quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration sweep for the distilled quality classifier: the
    exact confusion matrix (TP/FP/FN/TN vs the Gopher-rule teacher) at
    every 5-point score threshold — the table an operator reads to
    PICK the production cut instead of shipping the classifier with an
    arbitrary 0.5 (fastText-quality-filter practice: the threshold is
    chosen against a held-out teacher sweep, not assumed).

    Determinism: score ≥ t ⟺ z ≥ logit(t) (sigmoid monotone), so each
    decision is a raw-double comparison against an oracle-time
    logit literal shared by both engines — no rounding anywhere, all
    outputs exact BIGINT counts.

    Scale shape: one scan computes (label, z); the 19 thresholds ride
    an in-row posexplode of a literal array (no join, no extra scan —
    19× row fan-out of two doubles), and the rollup is a 19-key hash
    aggregate with map-side partials.  At 100 TB this is the same one
    pass the scoring row pays, plus a constant fan-out."""
    w, b = _lr_weights(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    label, z = _lr_label_z_cols(w, b)
    thr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("thr_pct"), F.lit(L).alias("lgt")
                )
                for p, L in _calib_logits()
            ]
        )
    )
    base = d.select(label.alias("label"), z.alias("z"), thr.alias("t"))
    pred = F.col("z") >= F.col("t.lgt")
    pos = F.col("label") == 1
    return (
        base.groupBy(F.col("t.thr_pct").alias("thr_pct"))
        .agg(
            F.sum((pred & pos).cast("long")).alias("tp"),
            F.sum((pred & ~pos).cast("long")).alias("fp"),
            F.sum((~pred & pos).cast("long")).alias("fn"),
            F.sum((~pred & ~pos).cast("long")).alias("tn"),
        )
        .orderBy("thr_pct")
    )
