"""Distributed Lloyd k-means — the iterative-algorithm pattern as a
first-class, fully value-hashed engine row.

The reference's store clusters nothing (its ANN index is delegated to
Neo4j wholesale, server.py:85-91); but every production vector system
trains coarse quantizers with exactly this loop, and the repo's own IVF
family (`functions/train.py:32`) runs Lloyd DRIVER-SIDE on a bounded
sample, FAISS-style.  This module is the other half of the story: the
SAME algorithm run DISTRIBUTED over the full table — the shape you need
when the training sample itself no longer fits one machine.

Spark-first iteration shape (what MLlib's KMeans does under the hood):

- **assignment is map-side**: the K current centroids fold into the
  plan as literal arrays, each point's nearest-centroid argmin is a
  ``zip_with``+``aggregate`` fold inside whole-stage codegen — NO join,
  NO shuffle, no Python;
- **update is one tiny shuffle**: per-cluster per-dimension sums are
  64 ``F.sum`` columns over a groupBy on K keys — map-side partial
  aggregation reduces each of the 1000 executors' contribution to
  K x (dim+2) longs before the exchange, so the shuffle carries
  kilobytes regardless of table size;
- **the driver touches K rows per iteration** (the new centroids) —
  a bounded certificate read, the same O5 discipline every other
  bounded ``collect()`` in the repo follows.

Determinism contract (what makes an ITERATIVE float algorithm
value-hashable across engines): all cross-row reductions happen in
exact BIGINT micro-units, which are associative and commutative, so
partition order cannot change a single bit:

- squared-L2 distances are compared as ``floor((x-c)^2 * 1e12)`` term
  sums (exact longs; max |dm| ~ 2.6e14 << 2^53),
- centroid updates sum ``floor(x * 1e6)`` per dimension (exact longs)
  and divide once, driver-side, in IEEE double — bit-identical to the
  oracle's ``CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1e6``,
- argmin ties break on cluster id via lexicographic struct min.

The DuckDB oracle replays ALL THREE iterations in pure SQL (exploded
point-dimension CTEs, one dist/assign/update block per iteration) — no
oracle-time training constants; the driver genuinely re-executes
the algorithm on both engines and hash-compares the result.

Scale notes: at 100 TB the per-iteration scan dominates; production
caches the (vec_id, emb) projection in memory/disk before iterating
(MLlib does `.persist()` exactly there) and the update shuffle stays
K x dim longs per executor regardless.  BIGINT micro-sums bound the
per-cluster mass at 2^63; past ~1e12 members per cluster the
accumulator widens to DECIMAL(38,0) — the plan shape is unchanged.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import vector_lit
from ..registry import register
from ..sources.tables import EMBEDDING_DIM, load_table

__all__ = [
    "kmeans_lloyd",
    "train_centroids_distributed",
    "K_CLUSTERS",
    "N_ITERS",
]

K_CLUSTERS = 8
N_ITERS = 3
DIM = EMBEDDING_DIM
# micro-unit scales; exponent-suffixed literals on the SQL side parse
# straight through strtod (functions/train.py:64 discipline)
POINT_SCALE = 1000000.0  # centroid-update quantum (1e-6)
DIST_SCALE = 1000000000000.0  # distance-comparison quantum (1e-12)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # float32 -> float64 cast is exact; matches CAST(embedding[d] AS DOUBLE)
    # NOT persisted (r16, measured): caching this projection for the
    # training loop read 4.55 s vs 3.12 s at sf0.1 — the per-round
    # parquet re-scan is 0.13 s while InMemoryRelation materialization
    # + InMemoryTableScan cost more and would swap the showcased final-
    # pass scan shape.  At production scale the loop persists the
    # projected column (the standing note below); at fixture scale the
    # scan is cheaper than the cache.
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )


def _dist_micro(centroid: list[float]) -> Column:
    """Exact long micro-distance to one literal centroid: each term is
    floor((x-c)^2 * 1e12) — deterministic double math per element, then
    an order-free integer sum.

    Strategy note (measured, sf0.1 / 200k-row stress tier, k=8/16):
    unrolling this into 64 explicit ``element_at`` terms per centroid
    moves eval into whole-stage codegen and wins 1.35x at 200k rows
    (114.6s -> 84.9s) — but the ~3000-node expression tree costs
    Catalyst ~18s of analysis+codegen PER PASS, turning the sf0.1 row
    from 5.2s into 23s (balanced-tree association: same).  The HOF
    fold keeps the tree tiny, so the plan compiles in milliseconds and
    the interpreted eval only loses past ~10^5 rows per core; at real
    cluster scale the assignment goes GEMM (the ``ann_assign_gemm_cells``
    device) and this exact path remains the oracle reference."""
    c = vector_lit(centroid)
    terms = F.zip_with(
        "emb", c, lambda a, b: F.floor((a - b) * (a - b) * F.lit(DIST_SCALE))
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def _won_hof(centroids: list[tuple[int, list[float]]]) -> Column:
    """struct(dm, cid) of the nearest centroid; lexicographic array_min
    IS the (distance, cluster-id) tie-break."""
    cands = F.array(
        *[
            F.struct(_dist_micro(vec).alias("dm"), F.lit(cid).alias("cid"))
            for cid, vec in centroids
        ]
    )
    return F.array_min(cands)


GEMM_WON_MIN_CELLS = 16
# exact-vs-float reconciliation margin, in micro-units: each of the DIM
# per-element floors loses < 1 micro, and the GEMM's ||x||^2-2x.c+||c||^2
# rearrangement error is << 1 micro at embedding magnitudes, so any
# centroid that can beat the float winner after flooring sits within
# DIM+1 micro of it; 4x slack costs nothing (shortlists are ~0 rows).
WON_MARGIN_MICRO = 4 * DIM


def _won_gemm(centroids: list[tuple[int, list[float]]]) -> Column:
    """struct(dm, cid) via Arrow-batched BLAS, value-hash-identical to
    ``_won_hof``: a float GEMM (``||x||^2 - 2 x.c + ||c||^2`` argmin,
    FAISS's coarse-assignment shape) picks the winner, then the EXACT
    integer micro-distance is recomputed for the winner only — k x dim
    interpreted ops per row collapse to one BLAS row plus 1 x dim exact
    work.  Centroids whose float distance lands within the floor-error
    margin of the winner (vanishingly rare off exact ties) get the same
    exact recompute, and the lexicographic (dm, cid) min decides —
    bit-identical semantics to the HOF fold at any parallelism.

    Catalyst evaluates higher-order-function lambdas interpreted, per
    array element; the HOF fold is the right oracle-reference plan at
    the registered row's k=8 but measured 109 s at 200k rows x k=16
    (STRESS_100X r11) — the same interpreted-HOF profile the r8 GEMM
    fix removed from SemDeDup.  Dispatch via ``_won``."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray([vec for _, vec in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    margin = WON_MARGIN_MICRO / DIST_SCALE

    def _exact_dm(diff: "np.ndarray") -> "np.ndarray":
        # identical IEEE op order to _dist_micro: (a-b)*(a-b) then *scale,
        # floor per element, exact int64 sum (terms ~4e12, sum << 2^63)
        return (
            np.floor(diff * diff * DIST_SCALE).astype(np.int64).sum(axis=-1)
        )

    @pandas_udf("struct<dm: bigint, cid: int>")
    def won(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame(
                {
                    "dm": pd.Series([], dtype="int64"),
                    "cid": pd.Series([], dtype="int32"),
                }
            )
        V = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        D = (
            (V * V).sum(axis=1)[:, None]
            - 2.0 * (V @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        jmin = np.argmin(D, axis=1)
        dm = _exact_dm(V - C[jmin])
        out_cid = cids[jmin].copy()
        # reconcile rows where flooring could flip the winner
        rows = np.arange(len(V))
        close = D <= (D[rows, jmin] + margin)[:, None]
        close[rows, jmin] = False
        for i in np.nonzero(close.any(axis=1))[0]:
            best = (int(dm[i]), int(out_cid[i]))
            for j in np.nonzero(close[i])[0]:
                cand = (int(_exact_dm(V[i] - C[j])), int(cids[j]))
                if cand < best:
                    best = cand
            dm[i], out_cid[i] = best
        return pd.DataFrame(
            {"dm": dm, "cid": out_cid.astype(np.int32)}
        )

    return won("emb")


def _won(centroids: list[tuple[int, list[float]]]) -> Column:
    """Assignment dispatcher, mirroring ann.py's ``assignment_col``:
    the pure-JVM exact fold below the GEMM threshold (no Python in the
    plan — the registered k=8 row keeps its codegen'd map-side shape),
    the Arrow GEMM + exact-winner recompute at production cell counts."""
    if len(centroids) >= GEMM_WON_MIN_CELLS:
        return _won_gemm(centroids)
    return _won_hof(centroids)


def _point_micro(d: int) -> Column:
    return F.floor(F.element_at("emb", d + 1) * F.lit(POINT_SCALE))


# The 64 per-dim micro-sums as ONE parsed expression (r16, guide §7.3):
# 64 Column-builder chains cost ~400 py4j round trips per Lloyd round;
# a single SQL string parses JVM-side in one call.  Identical sums.
_S_SUMS_EXPR = (
    "array("
    + ",".join(
        f"sum(floor(element_at(emb, {d + 1}) * {POINT_SCALE!r}d))"
        for d in range(DIM)
    )
    + ")"
)


def _won_hof_param(pts: DataFrame, centroids: list[tuple[int, list[float]]]):
    """The _won_hof argmin with the centroids delivered as a BROADCAST
    1-row array-of-structs column instead of k x dim inlined literals
    (r16, guide §1.2/§7.3): arithmetic is bit-identical — the same
    floor((a-b)^2 * 1e12) fold over the same doubles, the same
    lexicographic (dm, cid) array_min — but the generated code no
    longer embeds the centroid values, so every training round after
    the first reuses the compiled class, and the py4j expression-tree
    build (~560 round trips per round at k=8) collapses to one parse.
    Training-loop only; the registered FINAL pass keeps the
    literal-centroid map-side projection the showcase pins."""
    spark = pts.sparkSession
    cdf = spark.createDataFrame(
        [([(int(cid), [float(x) for x in vec]) for cid, vec in centroids],)],
        "cents array<struct<cid:int,cv:array<double>>>",
    )
    return pts.crossJoin(F.broadcast(cdf)).selectExpr(
        "emb",
        "array_min(transform(cents, c -> struct("
        f"aggregate(zip_with(emb, c.cv, (a, b) -> floor((a - b) * (a - b) * {DIST_SCALE!r}d)), "
        "0L, (acc, t) -> acc + t) as dm, c.cid as cid))) as won",
    )


def train_centroids_distributed(
    pts: DataFrame, k: int, iters: int
) -> list[tuple[int, list[float]]]:
    """The Lloyd training loop: init from the k smallest vec_ids, then
    ``iters`` rounds of map-side assignment + K-key micro-sum update.
    The driver touches k rows per round (the new centroids) — a bounded
    certificate read."""
    seed_rows = pts.orderBy("vec_id").limit(k).collect()  # bounded: k rows
    centroids = [
        (cid, [float(v) for v in r["emb"]]) for cid, r in enumerate(seed_rows)
    ]
    spark = pts.sparkSession
    # AQE is pure overhead on the training rounds (the only exchange
    # carries K x (dim+2) longs — nothing to coalesce or split) but
    # inserts a barrier + re-optimization per stage per round; the
    # registered final pass keeps the session default.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(iters):
            if len(centroids) >= GEMM_WON_MIN_CELLS:
                # GEMM dispatch: centroids ride the Arrow UDF closure,
                # no literal expression tree to avoid — unchanged.
                assigned = pts.select("emb", _won_gemm(centroids).alias("won"))
            else:
                assigned = _won_hof_param(pts, centroids)
            agg = assigned.groupBy(F.col("won.cid").alias("cid")).agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(_S_SUMS_EXPR).alias("s"),
            )
            rows = agg.collect()  # bounded: <= k rows per iteration
            # (s/n)/1e6 in IEEE double == the oracle's CAST/CAST/1e6 chain
            centroids = sorted(
                (
                    int(r["cid"]),
                    [
                        (float(s) / float(r["n"])) / POINT_SCALE
                        for s in r["s"]
                    ],
                )
                for r in rows
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return centroids


def kmeans_lloyd(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, iters: int = N_ITERS
) -> DataFrame:
    """K-means over ``embeddings``: init = the k smallest vec_ids'
    vectors, ``iters`` assignment+update rounds, then one final
    distributed pass producing per-cluster (count, exact WSS in 1e-12
    units, exact per-dim micro-sums).  Clusters that lose every member
    drop out (documented semantics; the oracle's GROUP BY agrees)."""
    pts = _points(spark, sf_dir)
    centroids = train_centroids_distributed(pts, k, iters)

    final = pts.select("emb", _won(centroids).alias("won"))
    return (
        final.groupBy(F.col("won.cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("won.dm").alias("wss_micro"),
            *[F.sum(_point_micro(d)).alias(f"s{d}") for d in range(DIM)],
        )
        .select(
            "cluster_id",
            "n_members",
            "wss_micro",
            F.array(*[F.col(f"s{d}") for d in range(DIM)]).alias(
                "centroid_microsum"
            ),
        )
        .orderBy("cluster_id")
    )


def _dist_block(n: int, prev_c: str) -> str:
    return f"""d{n} AS (
  SELECT px.vec_id, c.cid,
         CAST(SUM(CAST(FLOOR((px.val - c.cval) * (px.val - c.cval) * 1000000000000.0e0) AS BIGINT)) AS BIGINT) AS dm
  FROM px JOIN {prev_c} c ON c.d = px.d
  GROUP BY px.vec_id, c.cid
),
a{n} AS (
  SELECT vec_id, cid, dm FROM (
    SELECT vec_id, cid, dm,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dm, cid) AS rn
    FROM d{n}
  ) WHERE rn = 1
)"""


def _update_block(n: int) -> str:
    return f"""c{n} AS (
  SELECT a.cid, px.d,
         CAST(SUM(CAST(FLOOR(px.val * 1000000.0e0) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) / 1000000.0e0 AS cval
  FROM px JOIN a{n} a ON a.vec_id = px.vec_id
  GROUP BY a.cid, px.d
)"""


def _lloyd_ctes(k: int, iters: int) -> tuple[str, str, int]:
    """The shared WITH-chain: exploded points, seed centroids, and one
    dist/assign/update block per iteration.  Returns (prefix SQL, name
    of the final centroid CTE, index of the final assignment pass)."""
    blocks = []
    prev = "c0"
    for n in range(1, iters + 1):
        blocks.append(_dist_block(n, prev))
        blocks.append(_update_block(n))
        prev = f"c{n}"
    final_n = iters + 1
    blocks.append(_dist_block(final_n, prev))
    prefix = f"""
WITH dims AS (SELECT UNNEST(generate_series(1, {DIM})) AS d),
pts AS (SELECT vec_id, embedding FROM embeddings),
px AS (
  SELECT p.vec_id, d.d, CAST(p.embedding[d.d] AS DOUBLE) AS val
  FROM pts p CROSS JOIN dims d
),
seed AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
  FROM (SELECT vec_id FROM pts ORDER BY vec_id LIMIT {k})
),
c0 AS (SELECT s.cid, px.d, px.val AS cval FROM seed s JOIN px ON px.vec_id = s.vec_id),
{",".join(blocks)}"""
    return prefix, prev, final_n


def _kmeans_oracle(k: int = K_CLUSTERS, iters: int = N_ITERS) -> str:
    """The full 3-iteration Lloyd loop as one DuckDB query: exploded
    (vec_id, d, val) points, one dist/assign/update CTE block per
    iteration, micro-unit arithmetic everywhere a sum crosses rows."""
    prefix, _prev, final_n = _lloyd_ctes(k, iters)
    return f"""{prefix},
summ AS (
  SELECT a.cid AS cluster_id, px.d,
         CAST(SUM(CAST(FLOOR(px.val * 1000000.0e0) AS BIGINT)) AS BIGINT) AS sd
  FROM px JOIN a{final_n} a ON a.vec_id = px.vec_id
  GROUP BY a.cid, px.d
),
base AS (
  SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(dm) AS BIGINT) AS wss_micro
  FROM a{final_n} GROUP BY cid
)
SELECT b.cluster_id, b.n_members, b.wss_micro,
       CAST(s.d AS BIGINT) AS d, s.sd
FROM base b JOIN summ s ON s.cluster_id = b.cluster_id
ORDER BY b.cluster_id, s.d
"""


@register("cluster_kmeans_lloyd", oracle=_kmeans_oracle)
def q_cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means, 3 iterations end to end on BOTH
    engines — map-side literal-centroid assignment, K-key micro-unit
    update shuffle, per-cluster exact WSS + centroid mass out.

    Output contract: the per-dimension micro-sums are ``posexplode``d
    into ``(cluster_id, n_members, wss_micro, d, sd)`` rows — the
    driver's canonicalizer hashes via a pandas column sort and cannot
    factorize a top-level ``array<>`` column (the r11 red row), so
    every registered query emits scalar-only output columns
    (enforced tree-wide by tests/test_entry.py)."""
    return _census_rows(kmeans_lloyd(spark, sf_dir))


def _census_rows(out: DataFrame) -> DataFrame:
    """Driver output contract: posexplode the per-dimension micro-sum
    array into (cluster_id, n_members, wss_micro, d, sd) scalar rows."""
    return (
        out.select(
            "cluster_id",
            "n_members",
            "wss_micro",
            F.posexplode("centroid_microsum").alias("pos", "sd"),
        )
        .select(
            "cluster_id",
            "n_members",
            "wss_micro",
            (F.col("pos") + 1).cast("long").alias("d"),
            "sd",
        )
        .orderBy("cluster_id", "d")
    )


GEMM_CENSUS_K = GEMM_WON_MIN_CELLS  # 16 cells: forces the GEMM device
GEMM_CENSUS_ITERS = 2


@register(
    "cluster_kmeans_gemm_census",
    oracle=functools.partial(_kmeans_oracle, k=GEMM_CENSUS_K, iters=GEMM_CENSUS_ITERS),
)
def q_cluster_kmeans_gemm_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME Lloyd loop at k=16 — at or above GEMM_WON_MIN_CELLS, so
    every assignment pass dispatches to the Arrow-GEMM device
    (``_won_gemm``) instead of the interpreted HOF fold.  The DuckDB
    oracle replays the exact integer semantics in pure SQL, so a green
    driver row is a VALUE-HASH certificate that the BLAS shortlist +
    exact-winner-recompute device is bit-identical to the reference
    fold — the production path (hundreds-to-thousands of cells)
    certified end to end, not just stress-timed."""
    return _census_rows(
        kmeans_lloyd(spark, sf_dir, k=GEMM_CENSUS_K, iters=GEMM_CENSUS_ITERS)
    )


# ---------------------------------------------------------------------------
# Composition row: distributed-train -> IVF search.  The ANN family
# trains its coarse quantizer driver-side on a bounded sample (FAISS
# discipline, functions/train.py); this row closes the loop for the
# regime where the training sample itself is distributed: the SAME
# Lloyd loop above trains the quantizer, the corpus is assigned to its
# cells, and a probe-pruned top-k answers a query — train, index, and
# search in ONE value-hashed pipeline, every stage replayed by the
# oracle in pure SQL (no oracle-time constants anywhere).
# ---------------------------------------------------------------------------

SEARCH_ITERS = 2
NPROBE = 2
SEARCH_K = 10


def _py_dist_micro(a: list[float], b: list[float]) -> int:
    """Driver-side replica of _dist_micro: identical IEEE ops per term
    ((a-b)^2 is sign-insensitive bit for bit), exact integer sum."""
    acc = 0
    for x, y in zip(a, b):
        acc += math.floor((x - y) * (x - y) * DIST_SCALE)
    return acc


def _ivf_search_oracle(
    k: int = K_CLUSTERS, iters: int = SEARCH_ITERS
) -> str:
    prefix, final_c, final_n = _lloyd_ctes(k, iters)
    return f"""{prefix},
q AS (SELECT vec_id FROM pts ORDER BY vec_id DESC LIMIT 1),
qx AS (SELECT px.d, px.val AS qval FROM px JOIN q ON px.vec_id = q.vec_id),
cdist AS (
  SELECT c.cid,
         CAST(SUM(CAST(FLOOR((c.cval - qx.qval) * (c.cval - qx.qval) * 1000000000000.0e0) AS BIGINT)) AS BIGINT) AS dm
  FROM {final_c} c JOIN qx ON qx.d = c.d
  GROUP BY c.cid
),
probes AS (SELECT cid FROM cdist ORDER BY dm, cid LIMIT {NPROBE}),
cand AS (
  SELECT a.vec_id FROM a{final_n} a
  JOIN probes p ON a.cid = p.cid
  WHERE a.vec_id != (SELECT vec_id FROM q)
),
dist AS (
  SELECT px.vec_id,
         CAST(SUM(CAST(FLOOR((px.val - qx.qval) * (px.val - qx.qval) * 1000000000000.0e0) AS BIGINT)) AS BIGINT) AS dist_micro
  FROM px JOIN cand c ON c.vec_id = px.vec_id JOIN qx ON qx.d = px.d
  GROUP BY px.vec_id
)
SELECT vec_id, dist_micro FROM dist
ORDER BY dist_micro, vec_id
LIMIT {SEARCH_K}
"""


@register("cluster_kmeans_ivf_search", oracle=_ivf_search_oracle)
def q_cluster_kmeans_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the coarse quantizer DISTRIBUTED (2 Lloyd rounds), probe
    the NPROBE cells nearest the query (the newest vector, searching
    the corpus it just joined), and return the exact top-k inside the
    probed cells by micro L2 — the full IVF lifecycle with zero
    driver-side training constants.  Approximate BY DESIGN (the true
    NN may live outside the probes); the oracle replays the identical
    probe semantics, so the row is value-hashed, not recall-gated
    (recall discipline lives in ann_recall_certificate).

    Scale shape: two map-side assignment passes + K-key micro-sum
    updates (the Lloyd loop), then ONE filtered scan for the search —
    with the physical cell-partitioned layout of the ann_ivf family
    this filter becomes partition pruning; here the composition is
    kept logical so the entire pipeline stays one lazy plan per pass."""
    pts = _points(spark, sf_dir)
    centroids = train_centroids_distributed(pts, K_CLUSTERS, SEARCH_ITERS)

    qrow = pts.orderBy(F.desc("vec_id")).limit(1).collect()[0]  # bounded
    qid, qvec = int(qrow["vec_id"]), [float(v) for v in qrow["emb"]]

    probes = [
        cid
        for _, cid in sorted(
            (_py_dist_micro(vec, qvec), cid) for cid, vec in centroids
        )[:NPROBE]
    ]

    return (
        pts.select("vec_id", "emb", _won(centroids).alias("won"))
        .where(F.col("won.cid").isin(probes) & (F.col("vec_id") != qid))
        .select("vec_id", _dist_micro(qvec).alias("dist_micro"))
        .orderBy("dist_micro", "vec_id")
        .limit(SEARCH_K)
    )
