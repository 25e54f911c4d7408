"""Greedy k-center coreset selection over the embedding corpus.

Training-data curation at 100 TB needs more than dedup and quality
filters: you also want a small *geometrically representative* subset —
a coreset — for expensive downstream passes (human audit, probe-model
training, per-cluster quota design).  The classic 2-approximation is
Gonzalez's farthest-point traversal: repeatedly pick the point whose
distance to the already-selected set is largest.  Its objective (the
coverage radius: max over the corpus of min-distance-to-a-center) is
exactly the k-center objective, and the greedy sequence is the
standard seed for k-means++ style pipelines (clustering.py trains
Lloyd from fixed seeds; THIS row is how you'd pick them at scale).

This is the repo's third iterative-algorithm exemplar (after the Lloyd
loop in clustering.py and the power iteration in linalg.py), and it
exercises a different reduce shape: not a K-key micro-sum, not a
dim-wide vector, but a distributed **argmax** — one row back per
round.

Spark-first iteration shape (k-1 rounds):

- distance to each already-selected center is a map-side
  ``zip_with``+``aggregate`` fold against a literal 64-float array —
  whole-stage codegen, zero shuffle;
- the running min over centers is ``F.least`` of those folds (the
  expression grows linearly in k; at production k you keep a persisted
  ``min_dist`` column and ``least`` it against ONE new fold per round,
  so per-round work is 1×dim regardless of k — same note as the GEMM
  dispatch in clustering.py);
- the winner is a single global ``max(struct(md, -vec_id, emb))`` —
  map-side partial max per partition, then a one-row exchange: the
  treeAggregate shape, with the argmax's payload (its embedding)
  riding inside the struct so no second scan is needed;
- the driver holds only k×(dim floats + id) across the whole run.

Determinism contract: each per-dimension term is
``floor(((x_d - c_d)^2) * 1e9)`` — IEEE subtract/multiply on identical
doubles in both engines — and the per-row distance is the exact BIGINT
sum of those terms, so partition order cannot move a bit.  Ties on the
argmax break to the smaller vec_id via ``-vec_id`` in the struct.  The
DuckDB oracle replays every round in chained CTEs — no
oracle-time constants.

Scale notes: each round is one scan of the projected (vec_id, emb)
columns; production persists that projection once and runs k rounds
over the cache.  At k in the hundreds the ``least``-chain becomes the
same interpreted-fold bottleneck the Lloyd trainer had, and the same
fix applies: GEMM-shortlist the winner per partition (clustering.py
``_won_gemm``), keeping the exact integer recompute for the winner
only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import vector_lit
from ..registry import register
from ..sources.tables import EMBEDDING_DIM, load_table

__all__ = ["kcenter_select", "KCENTER_K"]

DIM = EMBEDDING_DIM
KCENTER_K = 6
SCALE = 1000000000.0  # squared-distance micro quantum (1e-9)


def micro_sqdist(center: list[float]) -> Column:
    """Exact long micro squared distance of the ``emb`` column to a
    literal center: per-dimension ``floor(((x_d-c_d)^2)*1e9)`` terms,
    order-free integer sum."""
    lit_c = vector_lit(center)
    terms = F.zip_with(
        "emb", lit_c, lambda a, b: F.floor(((a - b) * (a - b)) * F.lit(SCALE))
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def kcenter_select(
    spark: SparkSession, sf_dir: str, k: int = KCENTER_K
) -> tuple[list[int], int, int]:
    """Run the greedy traversal; return (selected vec_ids in pick
    order, coverage_radius_micro under all k centers, corpus rows).

    Driver traffic: one (long, long, 64×double) row per round.

    MEASURED r17, do not re-apply the r16 broadcast-parameter pattern
    here: delivering ``centers`` as a broadcast 1-row array-of-arrays
    + ``array_min(transform(...))`` (the linalg/Lloyd fix) made this
    loop SLOWER — quiet min-of-3 2.64 s literal-chain vs 3.36 s
    broadcast-param, and 2.02 → 2.70 s in the round bench records.
    At k ≤ 6 the literal ``F.least``-of-folds chain is tiny (codegen
    and py4j costs that motivated the linalg fix are bounded by k, not
    by 64 dims × k structs), while the parameter join pays a
    BroadcastExchange + nested-loop join + non-literal array
    evaluation per round.  Reverted to the literal form on those
    numbers (guide §1.3)."""
    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    # Seed: the smallest vec_id (deterministic, engine-portable).
    seed = pts.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 row
    selected = [int(seed["vec_id"])]
    centers = [list(seed["emb"])]

    def min_dist() -> Column:
        cols = [micro_sqdist(c) for c in centers]
        return cols[0] if len(cols) == 1 else F.least(*cols)

    for _ in range(k - 1):
        # argmax(md), ties to smaller vec_id; payload embedding rides
        # in the struct so the round costs exactly one scan.
        win = (
            pts.select(
                F.struct(
                    min_dist().alias("md"),
                    (-F.col("vec_id")).alias("nv"),
                    F.col("emb"),
                ).alias("s")
            )
            .agg(F.max("s").alias("w"))
            .collect()[0]["w"]  # bounded: one struct row
        )
        selected.append(int(-win["nv"]))
        centers.append(list(win["emb"]))

    cov = (
        pts.select(min_dist().alias("md"))
        .agg(F.max("md").alias("cov"), F.count(F.lit(1)).alias("n"))
        .collect()[0]  # bounded: one row of two longs
    )
    return selected, int(cov["cov"]), int(cov["n"])


def _kcenter_oracle(k: int = KCENTER_K) -> str:
    """Chained-CTE replay: m{i} is the running min-distance table after
    center i; c{i} is the argmax pick (DESC md, ASC vec_id)."""
    rounds = []
    for i in range(1, k):
        prev_m = f"m{i - 1}"
        rounds.append(
            f"""c{i} AS (
  SELECT vec_id FROM {prev_m} ORDER BY md DESC, vec_id ASC LIMIT 1
),
d{i} AS (
  SELECT p.vec_id,
         CAST(SUM(CAST(FLOOR(((p.val - c.val) * (p.val - c.val)) * 1000000000.0e0) AS BIGINT)) AS BIGINT) AS md
  FROM px p
  JOIN px c ON c.d = p.d AND c.vec_id = (SELECT vec_id FROM c{i})
  GROUP BY p.vec_id
),
m{i} AS (
  SELECT m.vec_id, LEAST(m.md, d.md) AS md
  FROM {prev_m} m JOIN d{i} d ON d.vec_id = m.vec_id
)"""
        )
    picks = " UNION ALL ".join(
        ["SELECT 1 AS sel_rank, (SELECT vec_id FROM c0) AS vec_id"]
        + [
            f"SELECT {i + 1} AS sel_rank, (SELECT vec_id FROM c{i}) AS vec_id"
            for i in range(1, k)
        ]
    )
    return f"""
WITH dims AS (SELECT UNNEST(generate_series(1, {DIM})) AS d),
px AS (
  SELECT e.vec_id, d.d, CAST(e.embedding[d.d] AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN dims d
),
c0 AS (SELECT MIN(vec_id) AS vec_id FROM embeddings),
m0 AS (
  SELECT p.vec_id,
         CAST(SUM(CAST(FLOOR(((p.val - c.val) * (p.val - c.val)) * 1000000000.0e0) AS BIGINT)) AS BIGINT) AS md
  FROM px p
  JOIN px c ON c.d = p.d AND c.vec_id = (SELECT vec_id FROM c0)
  GROUP BY p.vec_id
),
{",".join(rounds)},
cov AS (
  SELECT CAST(MAX(md) AS BIGINT) AS coverage_radius_micro,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM m{k - 1}
),
picks AS ({picks})
SELECT CAST(p.sel_rank AS BIGINT) AS sel_rank,
       CAST(p.vec_id AS BIGINT) AS vec_id,
       v.coverage_radius_micro, v.n_rows
FROM picks p CROSS JOIN cov v
ORDER BY p.sel_rank
"""


@register("sample_coreset_kcenter", oracle=_kcenter_oracle)
def q_sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez greedy k-center on BOTH engines: k-1 distributed argmax
    rounds (map-side micro-distance fold, one-row struct-max reduce),
    coverage radius value-hashed bit for bit.

    Output contract: scalar rows only — (sel_rank, vec_id,
    coverage_radius_micro, n_rows), one row per selected center.
    """
    selected, cov_micro, n_rows = kcenter_select(spark, sf_dir)
    picks = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(selected)],
        "sel_rank long, vec_id long",
    )
    return picks.select(
        "sel_rank",
        "vec_id",
        F.lit(cov_micro).cast("long").alias("coverage_radius_micro"),
        F.lit(n_rows).cast("long").alias("n_rows"),
    ).orderBy("sel_rank")
