"""Hybrid search: BM25 lexical retrieval fused with vector retrieval.

The reference serves pure vector search (server.py:85-91); production
retrieval stacks over the same corpus almost always pair it with a
lexical ranker and fuse the two lists — reciprocal rank fusion (RRF,
Cormack et al., SIGIR'09) is the standard parameter-free fusion and is
what e.g. OpenSearch/Elasticsearch hybrid query and SQL-engine hybrid
search recipes use.  Both retrieval legs and the fusion are pure
DataFrame algebra here, so the whole pipeline is driver-checked against
a DuckDB oracle like any relational query.

Scale design:

- **BM25 leg**: tokens explode → ``tok IN (query terms)`` filters AT
  THE EXPLODE (the shuffle carries only query-term hits, O(hits) not
  O(tokens)); doc-frequency is a |terms|-row aggregate broadcast back;
  corpus stats (N, avgdl) are a 1-row broadcast.  The global top-pool
  cut is ``ORDER BY score LIMIT pool`` — ``TakeOrderedAndProject``
  (per-partition heaps), NEVER a global sort; ranks are then assigned
  by a window over the pool-sized (≤20-row) result, which is the
  bounded-input case where a single-partition window is correct.
- **Vector leg**: the same rounded-cosine + ``TakeOrderedAndProject``
  shape as ``semantic_search_hash_embedder`` (operators/ann.py), with
  the prompt embedding folded in as a literal.
- **Fusion**: the two pool-sized lists full-outer-join on doc id —
  a ≤2·pool-row join, trivially broadcast — and the RRF score
  ``Σ 1/(k + rank)`` needs only each list's ranks, no corpus re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.train import sql_floats
from ..functions.vector import cosine_similarity, vector_lit
from ..registry import register
from ..sources.tables import load_table
from .ann import PROMPT_TEXT, prompt_embedding

# Robertson/Sparck-Jones BM25 with the usual defaults.
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60  # Cormack et al.'s k — dampens the head of each list
POOL = 20  # per-leg candidate pool
FINAL_K = 10  # fused results returned (reference's k, server.py:87)
R = 6  # score rounding, pre-rank, for cross-engine determinism

QUERY_TERMS = tuple(dict.fromkeys(PROMPT_TEXT.split(" ")))  # unique, ordered


def bm25_scores(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """Per-document BM25 over whitespace tokens: (doc_id, bm25).

    Only documents containing ≥1 query term appear (absent docs score 0
    and can never enter a top pool).  Rounded to ``R`` decimals before
    any ranking so rank order is identical across engines.
    """
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).where(F.col("tok").isin(*terms))
    tf = toks.groupBy("doc_id", "dl", "tok").agg(F.count(F.lit(1)).alias("tf"))

    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(F.round(F.sum("w"), R).alias("bm25"))


def _ranked_pool(scored: DataFrame, score_col: str, rank_col: str) -> DataFrame:
    """Global top-POOL by (score desc, doc_id) → (doc_id, rank).

    The cut is ORDER BY + LIMIT (TakeOrderedAndProject); the window that
    numbers the survivors sees ≤POOL rows, so its single partition is a
    bounded driver-side-sized input, not a scale cliff.
    """
    pool = scored.orderBy(F.desc(score_col), F.asc("doc_id")).limit(POOL)
    w = W.orderBy(F.desc(score_col), F.asc("doc_id"))
    # cast: DuckDB ROW_NUMBER is BIGINT; keep rank types engine-identical
    return pool.select(
        "doc_id", F.row_number().over(w).cast("long").alias(rank_col)
    )


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex = _ranked_pool(bm25_scores(docs, QUERY_TERMS), "bm25", "bm25_rank")

    qv = vector_lit(prompt_embedding())
    vec_scored = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            cosine_similarity(F.col("embedding").cast("array<double>"), qv), R
        ).alias("cos"),
    )
    vec = _ranked_pool(vec_scored, "cos", "vec_rank")

    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
                R,
            ),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(FINAL_K)
    )
    return fused.select("doc_id", "rrf_score", "bm25_rank", "vec_rank")


def _hybrid_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    qv = sql_floats(prompt_embedding())
    return f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf
  FROM toks WHERE tok IN ({terms})
  GROUP BY doc_id, dl, tok
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         AVG(len(string_split(text, ' '))) AS avgdl
  FROM documents
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
bm25 AS (
  SELECT t.doc_id,
         ROUND(SUM(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({BM25_K1} + 1))
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))
         ), {R}) AS bm25
  FROM tf t JOIN df d USING (tok) CROSS JOIN stats s
  GROUP BY t.doc_id
),
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
  FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT {POOL}
),
vs AS (
  SELECT vec_id AS doc_id,
         ROUND(list_cosine_similarity(embedding::DOUBLE[], {qv}::DOUBLE[]),
               {R}) AS cos
  FROM embeddings
),
vec AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
  FROM vs ORDER BY cos DESC, doc_id LIMIT {POOL}
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       ROUND(COALESCE(1.0 / ({RRF_K} + l.bm25_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0.0), {R}) AS rrf_score,
       l.bm25_rank, v.vec_rank
FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {FINAL_K}
"""


@register("hybrid_search_rrf", oracle=_hybrid_oracle)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval for the fixed prompt (the same trained-constant
    oracle device as ``semantic_search_hash_embedder``): BM25 top-20 ∪
    cosine top-20 fused by reciprocal rank, top-10 returned."""
    return hybrid_search(spark, sf_dir)


# ---------------------------------------------------------------------------
# The OTHER standard fusion: convex score blend over min-max-normalized
# legs (the "hybrid alpha" of production vector stores), complementing
# rank-based RRF above — score-sensitive where RRF is rank-only.
# ---------------------------------------------------------------------------

ALPHA_NUM, ALPHA_DEN = 6, 10  # alpha = 0.6 toward the vector leg


def _scored_pool(scored: DataFrame, score_col: str) -> DataFrame:
    """Global top-POOL by (score desc, doc_id), KEEPING the score —
    same bounded TakeOrderedAndProject cut as ``_ranked_pool``."""
    return scored.orderBy(F.desc(score_col), F.asc("doc_id")).limit(POOL)


def _minmax(pool: DataFrame, score_col: str, out_col: str) -> DataFrame:
    """Min-max normalize a ≤POOL-row leg: (s - min) / (max - min),
    rounded pre-fusion.  The extrema come from a broadcast 1-row
    aggregate of the bounded pool, not a global pass."""
    ext = pool.agg(
        F.min(score_col).alias("__mn"), F.max(score_col).alias("__mx")
    )
    return (
        pool.crossJoin(F.broadcast(ext))
        .select(
            "doc_id",
            F.round(
                (F.col(score_col) - F.col("__mn"))
                / F.nullif(F.col("__mx") - F.col("__mn"), F.lit(0.0)),
                R,
            ).alias(out_col),
        )
    )


def _hybrid_weighted_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    qv = sql_floats(prompt_embedding())
    alpha = f"{ALPHA_NUM}.0 / {ALPHA_DEN}"
    return f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf
  FROM toks WHERE tok IN ({terms})
  GROUP BY doc_id, dl, tok
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         AVG(len(string_split(text, ' '))) AS avgdl
  FROM documents
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
bm25 AS (
  SELECT t.doc_id,
         ROUND(SUM(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({BM25_K1} + 1))
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))
         ), {R}) AS bm25
  FROM tf t JOIN df d USING (tok) CROSS JOIN stats s
  GROUP BY t.doc_id
),
lexp AS (SELECT doc_id, bm25 FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT {POOL}),
lexn AS (
  SELECT doc_id,
         ROUND((bm25 - MIN(bm25) OVER ()) /
               NULLIF(MAX(bm25) OVER () - MIN(bm25) OVER (), 0.0), {R})
             AS bm25_norm
  FROM lexp
),
vs AS (
  SELECT vec_id AS doc_id,
         ROUND(list_cosine_similarity(embedding::DOUBLE[], {qv}::DOUBLE[]),
               {R}) AS cos
  FROM embeddings
),
vecp AS (SELECT doc_id, cos FROM vs ORDER BY cos DESC, doc_id LIMIT {POOL}),
vecn AS (
  SELECT doc_id,
         ROUND((cos - MIN(cos) OVER ()) /
               NULLIF(MAX(cos) OVER () - MIN(cos) OVER (), 0.0), {R})
             AS cos_norm
  FROM vecp
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       ROUND(({alpha}) * COALESCE(v.cos_norm, 0.0)
             + (1 - {alpha}) * COALESCE(l.bm25_norm, 0.0), {R}) AS blend_score,
       l.bm25_norm, v.cos_norm
FROM lexn l FULL OUTER JOIN vecn v ON l.doc_id = v.doc_id
ORDER BY blend_score DESC, doc_id
LIMIT {FINAL_K}
"""


@register("hybrid_search_weighted", oracle=_hybrid_weighted_oracle)
def q_hybrid_search_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sum hybrid (alpha blend): each leg's top-POOL scores are
    min-max normalized WITHIN the pool (extrema from a broadcast 1-row
    aggregate over ≤POOL rows — never a global pass), then fused as
    ``alpha·cos_norm + (1-alpha)·bm25_norm`` with alpha=0.6.  This is
    the score-sensitive fusion production vector stores expose as the
    "hybrid alpha" knob; RRF (`hybrid_search_rrf`) is its rank-only
    sibling — together they cover both standard fusion families.  A doc
    missing from one leg contributes 0 from that leg (COALESCE), same
    convention both engines."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lexn = _minmax(
        _scored_pool(bm25_scores(docs, QUERY_TERMS), "bm25"), "bm25", "bm25_norm"
    )
    qv = vector_lit(prompt_embedding())
    vec_scored = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            cosine_similarity(F.col("embedding").cast("array<double>"), qv), R
        ).alias("cos"),
    )
    vecn = _minmax(_scored_pool(vec_scored, "cos"), "cos", "cos_norm")

    alpha = F.lit(ALPHA_NUM) / F.lit(ALPHA_DEN)
    return (
        lexn.join(vecn, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                alpha * F.coalesce(F.col("cos_norm"), F.lit(0.0))
                + (1 - alpha) * F.coalesce(F.col("bm25_norm"), F.lit(0.0)),
                R,
            ).alias("blend_score"),
            "bm25_norm",
            "cos_norm",
        )
        .orderBy(F.desc("blend_score"), F.asc("doc_id"))
        .limit(FINAL_K)
    )
