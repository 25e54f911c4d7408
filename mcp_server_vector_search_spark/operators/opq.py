"""Optimized Product Quantization (OPQ) ANN: learned rotation + PQ.

Plain PQ (operators/pq.py) quantizes fixed coordinate slices, so its
error depends on how the data's variance happens to align with the
subspace grid.  OPQ (Ge/He/Ke/Sun 2013, public CVPR paper — the method
behind FAISS's ``OPQMatrix``) first applies a learned orthonormal
rotation that decorrelates dimensions and balances variance across
subspaces, then quantizes the rotated vectors; same code budget,
strictly better-aligned codebooks.

This implementation uses the paper's closed-form *parametric* variant
(its "OPQ-P"): rotate onto the PCA basis, then allocate principal
dimensions to the M subspaces greedily balancing the PRODUCT of
eigenvalues per subspace (variance-balanced bit allocation).  The
non-parametric alternating refinement exists in FAISS but adds
iterations, not structure — the parametric form is deterministic and
captures the rotation win.

Spark-first shape (everything after training is the PQ pipeline over a
rotated view):
- **Train** (driver, deterministic numpy on the sorted sample): PCA
  eigendecomposition → sign-fixed eigenvectors → eigenvalue-balanced
  row permutation = rotation matrix R; then per-subspace k-means
  codebooks over the ROTATED sample.
- **Rotate** (distributed, JVM-only): v' = R·unit(v), a 64×64
  matrix-vector product per row expressed as higher-order functions
  over a matrix literal — whole-stage codegen, no Python, no shuffle.
  Rotated coordinates are rounded so the oracle's independent
  evaluation reproduces them bit-for-bit.
- **Encode / ADC / re-rank**: exactly PQ's stages (shared constants),
  with the LUT built from the ROTATED query; the exact re-rank uses
  the ORIGINAL embeddings — rotation is orthonormal, cosine is
  invariant, so the final scores are directly comparable to every
  other ANN variant's.

All trained constants (R, codebooks, LUT) enter BOTH engines as
literals, so the oracle hash-verifies the distributed stages exactly —
same discipline as pq.py/functions/train.py.
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
from ..functions.vector import l2_normalize, matrix_lit
from ..registry import register
from ..sources.tables import load_table, table_path
from .pq import (
    _encode as pq_encode,
    _sorted_sample,
    cached_query_vector,
    DIST_DECIMALS,
    K,
    K_CODEWORDS,
    KMEANS_ITERS,
    M_SUBSPACES,
    RERANK_POOL,
    SUB_DIM,
    TRAIN_SAMPLE,
    _codeword_norms2,
    rerank_pool_sql,
)
from .topk import QUERY_VEC_ID, literal_topk

SEED = 77
DIM = 64
ROT_DECIMALS = 12  # rounding for rotated coordinates (both engines)


def _train_rotation(sample_unit: np.ndarray) -> list[list[float]]:
    """PCA rotation with eigenvalue-balanced subspace allocation.

    Rows of the returned R are the sign-fixed principal axes, permuted
    so each SUB_DIM-row block (one PQ subspace) receives eigenvalues
    whose PRODUCT is as balanced as possible (greedy largest-first
    into the emptiest block — the OPQ paper's parametric allocation).
    Deterministic: eigh on a fixed sample, ties broken by index."""
    cov = np.cov(sample_unit, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # sign fix: largest-|component| entry of each axis made positive
    for j in range(evecs.shape[1]):
        i = int(np.argmax(np.abs(evecs[:, j])))
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    # greedy product-balanced allocation of principal dims to subspaces
    log_load = [0.0] * M_SUBSPACES
    slots = [[] for _ in range(M_SUBSPACES)]
    for d in range(DIM):
        open_ms = [m for m in range(M_SUBSPACES) if len(slots[m]) < SUB_DIM]
        m = min(open_ms, key=lambda mm: (log_load[mm], mm))
        slots[m].append(d)
        log_load[m] += math.log(max(float(evals[d]), 1e-12))
    perm = [d for block in slots for d in block]
    # v' = R v with R rows = permuted principal axes
    r = evecs[:, perm].T
    return [[float(x) for x in row] for row in r]


def _train_opq(sample_vectors, seed: int = SEED):
    """(rotation, codebooks): PCA-allocated rotation, then per-subspace
    k-means over the ROTATED unit sample."""
    x = np.asarray(sample_vectors, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rot = _train_rotation(x)
    # rotate the sample EXACTLY as both engines will: sequential dot
    # per coordinate, rounded — codebooks then match the rotated data
    xr = np.round(x @ np.asarray(rot).T, ROT_DECIMALS)
    books = []
    for m in range(M_SUBSPACES):
        sub = xr[:, m * SUB_DIM : (m + 1) * SUB_DIM]
        centers = kmeans(sub, K_CODEWORDS, KMEANS_ITERS, seed)
        books.append([[float(v) for v in c] for c in centers])
    return rot, books


def _rotated_unit(rot) -> F.Column:
    """JVM expression: ROUND(R·unit(embedding), ROT_DECIMALS) as an
    array column — one sequential dot per output coordinate, matching
    the oracle's ``list_dot_product`` evaluation order."""
    rot_lit = matrix_lit(rot)
    unit = l2_normalize("embedding")
    return F.transform(
        rot_lit,
        lambda row: F.round(
            F.aggregate(
                F.zip_with(row, unit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            ROT_DECIMALS,
        ),
    )


def load_or_build_opq_index(spark: SparkSession, sf_dir: str, seed: int = SEED):
    """Build-once/query-many OPQ codes: (codes_df, rotation, books)."""

    def build(out: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        _, vecs = _sorted_sample(emb, TRAIN_SAMPLE)
        rot, books = _train_opq(vecs, seed)
        rotated = emb.select("vec_id", _rotated_unit(rot).alias("__unit"))
        # pq._encode is parameterized by codebooks and reads the ``__unit``
        # column — the identical nearest-codeword stage, reused verbatim
        pq_encode(rotated, books).write.parquet(out)
        return {"rot": rot, "books": books}

    params = {
        "m": M_SUBSPACES, "k": K_CODEWORDS, "sample": TRAIN_SAMPLE, "seed": seed, "v": 1
    }
    path, m = load_or_build("opq", params, [table_path(sf_dir, "embeddings")], build)
    return spark.read.parquet(path), m["rot"], m["books"]


def _rot_apply(rot, q: Sequence[float]) -> list[float]:
    """Driver-side rotation of the unit query with the SAME sequential
    arithmetic as both engines' per-row evaluation."""
    n = math.sqrt(sum(x * x for x in q)) or 1.0
    u = [x / n for x in q]
    out = []
    for row in rot:
        acc = 0.0
        for a, b in zip(row, u):
            acc += a * b
        out.append(round(acc, ROT_DECIMALS))
    return out


def _adc_lut_rot(books, rq: Sequence[float]) -> list[list[float]]:
    """lut[m][c] = ⟨rq_sub_m, codeword_mc⟩ over the ROTATED unit query
    (no re-normalization: rotation preserves the norm by construction
    and the LUT is a shared literal anyway)."""
    return [
        [
            sum(rq[m * SUB_DIM + d] * books[m][c][d] for d in range(SUB_DIM))
            for c in range(K_CODEWORDS)
        ]
        for m in range(M_SUBSPACES)
    ]


def opq_adc_topk(
    codes: DataFrame,
    embeddings: DataFrame,
    rot,
    books,
    query_vec: Sequence[float],
    k: int = K,
    rerank: int = RERANK_POOL,
) -> DataFrame:
    """Two-stage OPQ query: ADC over rotated-space codes → exact
    re-rank on the ORIGINAL vectors (cosine is rotation-invariant)."""
    lut = _adc_lut_rot(books, _rot_apply(rot, query_vec))
    lut_lit = matrix_lit(lut)
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
    return literal_topk(
        embeddings.join(F.broadcast(pool), "vec_id"), query_vec, k, ["vec_id", "score"]
    )


def _opq_oracle() -> str:
    """DuckDB mirror at the driver's correctness SF: literal R rotates
    each unit vector (same sequential dots, same rounding), literal
    codebooks encode, literal LUT scores, exact re-rank."""
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    rot, books = _train_opq([list(v) for v in x[:TRAIN_SAMPLE]])
    norms2 = _codeword_norms2(books)
    qvec = [float(v) for v in x[ids.index(QUERY_VEC_ID)]]
    lut = _adc_lut_rot(books, _rot_apply(rot, qvec))
    rot_rows = ",\n  ".join(
        f"({i}, {sql_floats(row)}::DOUBLE[])" for i, row in enumerate(rot)
    )
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
    return rerank_pool_sql(f"""unit AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        y -> y / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS u
  FROM embeddings
),
rot(i, rv) AS (VALUES
  {rot_rows}
),
rotated AS (
  SELECT unit.vec_id,
         list(ROUND(list_dot_product(rot.rv, unit.u), {ROT_DECIMALS})
              ORDER BY rot.i) AS ru
  FROM unit CROSS JOIN rot
  GROUP BY unit.vec_id
),
cw(m, c, cn2, cv) AS (VALUES
  {cw_rows}
),
dists AS (
  SELECT rotated.vec_id, cw.m, cw.c,
         ROUND(cw.cn2 - 2 * list_dot_product(
             rotated.ru[cw.m * {SUB_DIM} + 1 : cw.m * {SUB_DIM} + {SUB_DIM}],
             cw.cv), {DIST_DECIMALS}) AS d
  FROM rotated CROSS JOIN cw
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
pool AS (SELECT vec_id FROM approx ORDER BY a DESC, vec_id LIMIT {RERANK_POOL})""")


@register("ann_opq_topk", oracle=_opq_oracle)
def q_ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ = learned rotation + PQ, two-stage retrieval (module
    docstring).  Scan reads ONLY the codes column; re-rank touches
    RERANK_POOL rows of floats."""
    codes, rot, books = load_or_build_opq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # query vector via the shared PQ-cache helper (same json float
    # round-trip guarantees) instead of re-parsing this module's meta
    qvec = cached_query_vector(spark, sf_dir)
    return opq_adc_topk(codes, emb, rot, books, qvec)
