"""SQ8 scalar quantization: 1-byte-per-dimension compressed scan.

The third classic vector-compression shape alongside IVF partition
pruning (operators/ann.py) and product quantization (operators/pq.py):
each dimension of the unit vector is linearly quantized to an int8-range
code against per-dimension [vmin, vmax] bounds trained on the same
bounded sorted sample (FAISS's ``ScalarQuantizer`` QT_8bit, public
semantics).  The scan reads ``dim`` bytes per row instead of ``4·dim``
(float32) — a 4× bandwidth cut with far better fidelity than PQ's
``M`` bytes, the standard middle point of the recall/bytes trade.

Query time decomposes the approximate score exactly:

    ⟨q̂, x̂⟩ = Σ_d q̂_d·(vmin_d + c_d·Δ_d/255)
            = Σ_d q̂_d·vmin_d  +  Σ_d c_d·(q̂_d·Δ_d/255)
            = base            +  Σ_d c_d·w_d

so the per-row work is one zip_with over the code array against a
literal weight table — same ADC discipline as PQ, no decode.  The
approximate pool is exact-re-ranked, and every arithmetic step (the
normalize, the encode rounding, the weighted sum) is mirrored verbatim
in the DuckDB oracle, so the approximate result itself is value-hashed.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import load_or_build
from ..functions.train import ORACLE_SF_DIR, load_sorted_vectors, sql_float, sql_floats
from ..functions.vector import l2_normalize, vector_lit
from ..registry import register
from ..sources.tables import load_table, table_path
from .pq import (
    DIM,
    DIST_DECIMALS,
    K,
    RERANK_POOL,
    TRAIN_SAMPLE,
    _sorted_sample,
    cached_query_vector,
    rerank_pool_sql,
)
from .topk import QUERY_VEC_ID, literal_topk

SQ_LEVELS = 255  # codes span 0..255


def _unit(vec: Sequence[float]) -> list[float]:
    """Sequential-sum unit normalization — bit-identical to both the
    JVM ``l2_normalize`` and the oracle's ``y / sqrt(list_dot_product)``
    (same fold order, float64 throughout)."""
    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


def train_sq8_bounds(sample_vectors) -> tuple[list[float], list[float]]:
    """(vmin, vdelta) per dimension over the NORMALIZED sample —
    driver-side sequential min/max, shared verbatim with the oracle
    literals.  A zero-width dimension gets delta=1 so its codes are a
    well-defined 0 in both engines."""
    units = [_unit(v) for v in sample_vectors]
    vmin = [min(u[d] for u in units) for d in range(DIM)]
    vmax = [max(u[d] for u in units) for d in range(DIM)]
    vdelta = [(hi - lo) if hi > lo else 1.0 for lo, hi in zip(vmin, vmax)]
    return vmin, vdelta


def sq8_encode(unit_df: DataFrame, vmin: list[float], vdelta: list[float]) -> DataFrame:
    """codes[d] = clamp(round((u_d − vmin_d)/Δ_d · 255)) as one JVM
    transform over the dimension index — map-side only, runs once at
    index build."""
    vmin_lit, delta_lit = vector_lit(vmin), vector_lit(vdelta)
    code = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda d: F.least(
            F.lit(SQ_LEVELS),
            F.greatest(
                F.lit(0),
                F.round(
                    (F.element_at(F.col("__unit"), d) - F.element_at(vmin_lit, d))
                    / F.element_at(delta_lit, d)
                    * F.lit(255.0),
                    0,
                ),
            ),
        ).cast("int"),
    )
    return unit_df.select("vec_id", code.alias("codes"))


def load_or_build_sq8_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[float], list[float]]:
    """Build-once/query-many SQ8 codes for ``sf_dir``'s embeddings;
    returns (index, vmin, vdelta)."""

    def build(out: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        _, vecs = _sorted_sample(emb, TRAIN_SAMPLE)
        vmin, vdelta = train_sq8_bounds(vecs)
        unit = emb.select("vec_id", l2_normalize("embedding").alias("__unit"))
        sq8_encode(unit, vmin, vdelta).write.parquet(out)
        return {"vmin": vmin, "vdelta": vdelta}

    params = {"dim": DIM, "levels": SQ_LEVELS, "sample": TRAIN_SAMPLE, "v": 1}
    path, m = load_or_build("sq8", params, [table_path(sf_dir, "embeddings")], build)
    return spark.read.parquet(path), m["vmin"], m["vdelta"]


def _query_weights(
    query_vec: Sequence[float], vmin: list[float], vdelta: list[float]
) -> tuple[float, list[float]]:
    """(base, w): base = Σ q̂·vmin; w_d = q̂_d·Δ_d/255 — driver-side
    sequential sums, shared verbatim with the oracle literals."""
    q = _unit(query_vec)
    base = sum(q[d] * vmin[d] for d in range(DIM))
    w = [q[d] * vdelta[d] / 255.0 for d in range(DIM)]
    return base, w


def sq8_adc_topk(
    index: DataFrame,
    embeddings: DataFrame,
    vmin: list[float],
    vdelta: list[float],
    query_vec: Sequence[float],
    k: int = K,
    rerank: int = RERANK_POOL,
) -> DataFrame:
    """Two-stage SQ8 query: weighted code-sum approximate scan → exact
    re-rank of the top ``rerank`` pool."""
    base, w = _query_weights(query_vec, vmin, vdelta)
    w_lit = vector_lit(w)
    approx = F.round(
        F.aggregate(
            F.zip_with(F.col("codes"), w_lit, lambda c, wd: c.cast("double") * wd),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        + F.lit(float(base)),
        DIST_DECIMALS,
    )
    pool = (
        index.withColumn("approx_score", approx)
        .orderBy(F.desc("approx_score"), F.asc("vec_id"))
        .limit(rerank)
        .select("vec_id")
    )
    return literal_topk(
        embeddings.join(F.broadcast(pool), "vec_id"), query_vec, k, ["vec_id", "score"]
    )


def _sq8_oracle() -> str:
    """Normalize → encode → weighted-code-sum → pool → exact re-rank,
    every constant the trained literals the Spark side uses."""
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    vecs = [list(v) for v in x[:TRAIN_SAMPLE]]
    vmin, vdelta = train_sq8_bounds(vecs)
    qvec = [float(v) for v in x[ids.index(QUERY_VEC_ID)]]
    base, w = _query_weights(qvec, vmin, vdelta)
    return rerank_pool_sql(f"""params AS (
  SELECT {sql_floats(vmin)}::DOUBLE[] AS vmin,
         {sql_floats(vdelta)}::DOUBLE[] AS vdelta,
         {sql_floats(w)}::DOUBLE[] AS w
),
unit AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        y -> y / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS u
  FROM embeddings
),
codes AS (
  SELECT vec_id,
         list_transform(range(1, {DIM + 1}),
             d -> CAST(LEAST({SQ_LEVELS}, GREATEST(0,
                      ROUND((u[d] - p.vmin[d]) / p.vdelta[d] * 255.0, 0)))
                  AS INTEGER)) AS codes
  FROM unit CROSS JOIN params p
),
approx AS (
  SELECT c.vec_id,
         ROUND(list_sum(list_transform(range(1, {DIM + 1}),
                                       d -> c.codes[d] * p.w[d]))
               + {sql_float(base)}, {DIST_DECIMALS}) AS a
  FROM codes c CROSS JOIN params p
),
pool AS (
  SELECT vec_id FROM approx ORDER BY a DESC, vec_id LIMIT {RERANK_POOL}
)""")


@register("ann_sq8_topk", oracle=_sq8_oracle)
def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    index, vmin, vdelta = load_or_build_sq8_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = cached_query_vector(spark, sf_dir)
    return sq8_adc_topk(index, emb, vmin, vdelta, qvec)


# ---------------------------------------------------------------------------
# BQ: 1-bit binary quantization — sign fingerprints + Hamming pool
# ---------------------------------------------------------------------------


def _sign_fp(vec: Sequence[float]) -> int:
    """Signed-64 packed sign bits (bit d set iff v_d ≥ 0) — driver-side
    mirror of the JVM fold below, two's-complement adjusted so it is a
    valid long literal."""
    fp = 0
    for d, x in enumerate(vec):
        if x >= 0:
            fp |= 1 << d
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


def bq_fingerprint_expr() -> F.Column:
    """All DIM sign bits packed into ONE long with a single array fold —
    8 bytes per vector, the most aggressive point of the quantization
    family (4096→8 bytes at dim 64 float64)."""
    return F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda x, d: F.when(
                x >= 0, F.call_function("shiftleft", F.lit(1).cast("long"), d)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _bq_oracle() -> str:
    """Hamming over per-dimension sign disagreement (the unpacked form
    of bit_count(xor) — independent of any bit-packing), then the exact
    re-rank."""
    load_sorted_vectors(ORACLE_SF_DIR)  # rows-only without the testdata, as sq8
    return rerank_pool_sql(f"""qs AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
ham AS (
  SELECT e.vec_id,
         len(list_filter(range(1, {DIM + 1}),
             d -> (e.embedding[d] >= 0) <> (qs.qv[d] >= 0))) AS h
  FROM embeddings e CROSS JOIN qs
),
pool AS (SELECT vec_id FROM ham ORDER BY h, vec_id LIMIT {RERANK_POOL})""")


@register("ann_bq_topk", oracle=_bq_oracle)
def q_ann_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: each vector's DIM sign bits pack into ONE
    long (8 bytes/vector — 64× below float64, 8× below SQ8), the
    approximate scan ranks by ``bit_count(fp XOR query_fp)`` (Hamming ∝
    angle for mean-centered data — Charikar's 1-bit SRP specialized to
    the identity planes), and the top pool re-ranks exactly.  The
    popcount scan is the cheapest possible first pass over a 100 TB
    corpus: sequential 8-byte reads and one fused XOR+POPCNT per row.
    The oracle computes the identical Hamming from unpacked per-dim
    sign disagreement, so the packing arithmetic itself is verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = cached_query_vector(spark, sf_dir)
    qfp = _sign_fp(qvec)
    fps = emb.select("vec_id", bq_fingerprint_expr().alias("fp"))
    pool = (
        fps.withColumn(
            "h", F.bit_count(F.col("fp").bitwiseXOR(F.lit(qfp)))
        )
        .orderBy(F.asc("h"), F.asc("vec_id"))
        .limit(RERANK_POOL)
        .select("vec_id")
    )
    return literal_topk(emb.join(F.broadcast(pool), "vec_id"), qvec, K, ["vec_id", "score"])
