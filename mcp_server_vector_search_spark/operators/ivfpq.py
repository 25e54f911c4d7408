"""IVF-PQ: partition-pruned cells scanned by compressed RESIDUAL codes.

The classic composed ANN index (Jégou/Douze/Schmid 2011's IVFADC, the
default FAISS serving shape): the coarse quantizer bounds WHAT is read
(nprobe cells out of n_centroids — here, literal parquet partition
pruning, see operators/ann.py) and product quantization bounds HOW MUCH
is read per row (M byte-codes instead of dim floats, see
operators/pq.py).  At 100 TB the two multiply: a probe touches
``nprobe/n_centroids`` of the corpus at ``M/(8·dim)`` of the bytes,
and the only float-vector reads are the ``rerank``-row exact pool.

Codes encode the CELL RESIDUAL ``r = û − c_cell`` (FAISS's IVFADC
default), not the raw unit vector: residuals concentrate near the
origin so the shared codebooks spend their 16 codewords per subspace on
a much tighter distribution — strictly better quantization error (and
recall) at the same M.  The approximate score decomposes exactly:

    ⟨q̂, û⟩ = ⟨q̂, c_cell⟩ + ⟨q̂, r⟩ ≈ offset[cell] + Σ_m lut[m][code_m]

so query time adds ONE per-cell constant (n_centroids driver-side dot
products) to the same M-lookup ADC sum; the scan shape, layout, and
re-rank are unchanged from the non-residual form.

This module is pure composition — the quantizer, encode expression,
ADC lookup, and probe selection are the SAME functions the standalone
IVF and PQ operators use (same seeds, same rounding, same tie-breaks),
so the oracle is the two proven oracle fragments chained: assign →
residual → encode → probed ADC+offset → exact re-rank.
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
from ..functions.vector import l2_normalize, matrix_lit, vector_lit
from ..registry import register
from ..sources.tables import load_table, table_path
from .ann import (
    ASSIGN_DECIMALS,
    IVF_SEED,
    N_CENTROIDS,
    NPROBE,
    assignment_col,
    ivf_assign_sql,
    nearest_centroids,
    train_centroids,
)
from .pq import (
    DIM,
    DIST_DECIMALS,
    K,
    K_CODEWORDS,
    KMEANS_ITERS,
    M_SUBSPACES,
    RERANK_POOL,
    SEED,
    SUB_DIM,
    TRAIN_SAMPLE,
    _adc_lut,
    _codeword_norms2,
    _encode,
    _sorted_sample,
    cached_query_vector,
    rerank_pool_sql,
)
from .topk import QUERY_VEC_ID, literal_topk


def _train_residual_codebooks(sample_vectors, cents, seed: int = SEED):
    """Per-subspace k-means over the sample's CELL RESIDUALS.

    Deterministic numpy, driver-side, bounded sample — same training
    discipline as ``pq._train_codebooks``, but the training points are
    ``û − c_assign(û)``: assignment replicates the engine's rule
    (rounded unit-sphere cosine, first-max = lowest cid on ties).  The
    books are a MODEL shared verbatim between the Spark literals and
    the oracle literals, so bit-equality between this numpy assignment
    and the JVM assignment is not load-bearing — determinism is."""
    x = np.asarray(sample_vectors, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    C = np.asarray(cents, dtype=np.float64)
    sims = np.round(x @ C.T, ASSIGN_DECIMALS)
    res = x - C[sims.argmax(axis=1)]  # argmax = first max = lowest cid
    books = []
    for m in range(M_SUBSPACES):
        sub = res[:, m * SUB_DIM : (m + 1) * SUB_DIM]
        centers = kmeans(sub, K_CODEWORDS, KMEANS_ITERS, seed)
        books.append([[float(v) for v in c] for c in centers])
    return books


def _cell_offsets(query_vec: Sequence[float], cents) -> list[float]:
    """offset[cid] = ⟨q̂, c_cid⟩ for EVERY cell — n_centroids sequential
    driver-side dot products, shared verbatim with the oracle literals."""
    n = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / n for x in query_vec]
    return [
        sum(q[d] * c[d] for d in range(len(q)))
        for c in cents
    ]


def _residual_expr(cents) -> F.Column:
    """``û − c_cell`` as a pure JVM zip_with over the literal centroid
    matrix, indexed by the row's ``centroid_id`` — map-side only, runs
    once at index build."""
    cent_lit = matrix_lit(cents)
    cell = F.element_at(cent_lit, F.col("centroid_id").cast("int") + 1)
    return F.zip_with(F.col("__unit"), cell, lambda a, b: a - b)


def load_or_build_ivfpq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[float]], list]:
    """Build-once/query-many IVF-PQ layout: (vec_id, codes) parquet
    partitioned by ``centroid_id``; returns (index, centroids, books).

    Both models train on the same sorted bounded sample as their
    standalone operators (the FAISS sampling discipline); the one full
    corpus pass computes assignment + residual + codes together,
    map-side only."""

    def build(out: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        _, vecs = _sorted_sample(emb, TRAIN_SAMPLE)
        cents = train_centroids(vecs)
        books = _train_residual_codebooks(vecs, cents)
        unit = emb.select(
            "vec_id",
            assignment_col(cents).alias("centroid_id"),
            l2_normalize("embedding").alias("__unit"),
        )
        resid = unit.select(
            "vec_id", "centroid_id", _residual_expr(cents).alias("__unit")
        )
        coded = _encode(resid, books).join(
            unit.select("vec_id", "centroid_id"), "vec_id"
        )
        # repartition on the partition column: one writer task per cell, so
        # the layout is cells files, not writers×cells (see write_ivf_index)
        coded.repartition("centroid_id").write.partitionBy("centroid_id").parquet(
            out
        )
        return {"cents": cents, "books": books}

    # The params name every constant that determines the persisted model:
    # TRAIN_SAMPLE drives the trained centroids/codebooks in the meta, so
    # changing it must invalidate the entry.  "res:v3" marks the
    # residual-encoding generation.
    params = {
        "n_centroids": N_CENTROIDS, "seed": IVF_SEED, "m": M_SUBSPACES,
        "k": K_CODEWORDS, "sample": TRAIN_SAMPLE, "v": "res:v3",
    }
    path, m = load_or_build("ivfpq", params, [table_path(sf_dir, "embeddings")], build)
    return spark.read.parquet(path), m["cents"], m["books"]


def ivfpq_topk(
    index: DataFrame,
    embeddings: DataFrame,
    cents: list[list[float]],
    books,
    query_vec: Sequence[float],
    k: int = K,
    nprobe: int = NPROBE,
    rerank: int = RERANK_POOL,
) -> DataFrame:
    """Probed-ADC query: partition-prune to nprobe cells, rank the
    pruned CODES by ``offset[cell] + Σ lut[m][code]``, exact-re-rank
    the pool.

    ``rerank`` must scale with PROBED CORPUS DENSITY, not stay a
    constant: with M=8×K=16 codebooks the ADC score error is comparable
    to the score gaps between mid-ranked neighbors, so the true top-k
    survive the pool cut only if the pool is a few percent of the
    probed rows (measured in tests/test_scale_stress.py: at 20k
    clustered vectors, pool=100 → recall@10 ≈ 0.36, pool≈8% of probed
    rows → 1.0).  The default suits the ≤5k-row driver fixtures;
    larger corpora pass ``rerank ≈ max(100, 0.05 × n/nprobe-probed)``
    or grow the codebooks (K=256 is the FAISS default for a reason)."""
    probes = nearest_centroids(query_vec, cents, nprobe)
    lut_lit = matrix_lit(_adc_lut(books, query_vec))
    offs = _cell_offsets(query_vec, cents)
    off_lit = vector_lit(offs)
    idx = F.sequence(F.lit(0), F.lit(M_SUBSPACES - 1))
    approx = F.round(
        F.aggregate(
            F.zip_with(F.col("codes"), idx, lambda c, m: lut_lit[m][c]),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        + F.element_at(off_lit, F.col("centroid_id").cast("int") + 1),
        DIST_DECIMALS,
    )
    pool = (
        index.where(F.col("centroid_id").isin(probes))
        .withColumn("approx_score", approx)
        .orderBy(F.desc("approx_score"), F.asc("vec_id"))
        .limit(rerank)
        .select("vec_id", "centroid_id")
    )
    return literal_topk(
        embeddings.join(F.broadcast(pool), "vec_id"),
        query_vec,
        k,
        ["vec_id", F.col("centroid_id").cast("int").alias("centroid_id"), "score"],
    )


def _ivfpq_oracle() -> str:
    """The IVF assign fragment chained with the residual + PQ
    encode/ADC fragments (each already proven against its standalone
    operator), restricted to the probed cells, then the exact re-rank."""
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    vecs = [list(v) for v in x[:TRAIN_SAMPLE]]
    cents = train_centroids(vecs)
    books = _train_residual_codebooks(vecs, cents)
    norms2 = _codeword_norms2(books)
    qvec = [float(v) for v in x[ids.index(QUERY_VEC_ID)]]
    probes = nearest_centroids(qvec, cents, NPROBE)
    lut = _adc_lut(books, qvec)
    offs = _cell_offsets(qvec, cents)
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
    off_rows = ",\n  ".join(
        f"({i}, {sql_float(o)})" for i, o in enumerate(offs)
    )
    return rerank_pool_sql(f"""{ivf_assign_sql(cents)},
unit AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        y -> y / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS u
  FROM embeddings
),
res AS (
  SELECT u.vec_id,
         list_transform(range(1, {DIM + 1}), i -> u.u[i] - c.cv[i]) AS r
  FROM unit u
  JOIN assign a ON a.vec_id = u.vec_id
  JOIN cents c ON c.cid = a.centroid_id
),
cw(m, c, cn2, cv) AS (VALUES
  {cw_rows}
),
dists AS (
  SELECT res.vec_id, cw.m, cw.c,
         ROUND(cw.cn2 - 2 * list_dot_product(
             res.r[cw.m * {SUB_DIM} + 1 : cw.m * {SUB_DIM} + {SUB_DIM}], cw.cv),
             {DIST_DECIMALS}) AS d
  FROM res CROSS JOIN cw
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
off(cid, o) AS (VALUES
  {off_rows}
),
approx AS (
  SELECT codes.vec_id,
         ROUND(list_sum(list(lut.v ORDER BY codes.m)) + off.o,
               {DIST_DECIMALS}) AS a
  FROM codes
  JOIN assign g ON g.vec_id = codes.vec_id
  JOIN off ON off.cid = g.centroid_id
  JOIN lut ON lut.m = codes.m AND lut.c = codes.code
  GROUP BY codes.vec_id, off.o
),
pool AS (
  SELECT x.vec_id, CAST(g.centroid_id AS INTEGER) AS centroid_id
  FROM approx x JOIN assign g ON g.vec_id = x.vec_id
  WHERE g.centroid_id IN ({", ".join(str(p) for p in probes)})
  ORDER BY x.a DESC, x.vec_id
  LIMIT {RERANK_POOL}
)""")


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    index, cents, books = load_or_build_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = cached_query_vector(spark, sf_dir)
    return ivfpq_topk(index, emb, cents, books, qvec)
