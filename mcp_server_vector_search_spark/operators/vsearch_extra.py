"""Serve-path realism for the vector-search engine: filtered ANN,
tombstone deletes, MMR diversification, multi-vector late interaction.

The reference exposes exactly one search shape — unfiltered top-10 over
one query vector (reference server.py:85-91).  Real deployments of the
same stack immediately need the four variants here; each is
re-expressed as a Spark plan over the IVF layout from ``ann.py``:

- **Filtered search** (Neo4j ≥5.18 ships this as vector-index
  pre-filtering; every vector DB has it): a metadata predicate
  conjoined INTO the pruned cell scan — filter-during-search, not
  post-filtering a too-short result list.  In the plan the predicate
  sits in the same ``Filter`` as the probe IN-list, so Parquet gets
  both as pushed filters and non-matching row groups never decompress.
- **Tombstone delete**: deleting vectors without rewriting a 100 TB
  index = broadcast anti-join of a (tiny) tombstone set against the
  pruned scan; the upsert path that physically rewrites cells is
  ``ann_ivf_upsert_cells``.  This is the standard LSM-style
  delete-then-vacuum split (Milvus/Qdrant do exactly this).
- **MMR diversification** (Carbonell & Goldstein 1998): re-rank a
  bounded top-P pool so results cover distinct regions instead of P
  near-duplicates of the best hit.  Pool selection is the distributed
  part (TakeOrderedAndProject); the greedy λ·rel − (1−λ)·redundancy
  selection runs on the collected P-row pool — the same
  bounded-driver-work discipline as quantizer training, and the shape
  every production reranker has (rerank the head, never the corpus).
- **Multi-vector maxsim** (ColBERT late interaction, Khattab &
  Zaharia 2020): documents are BAGS of vectors; score = Σ_q max_t
  cos(q, t).  One map-side pass computes all per-query sims, one hash
  agg per doc takes the maxes — no shuffle beyond the single groupBy,
  no Python.

Determinism follows the ANN family conventions: sims rounded at 6
decimals before any comparison, ties broken by id, trained/selected
constants folded into the oracle by re-running the same pure-python
computation on the first ``oracle_sql()`` call (functions/train.py).
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.train import ORACLE_SF_DIR, load_sorted_vectors, sql_floats
from ..registry import register
from ..sources.tables import load_table
from .ann import (
    ASSIGN_DECIMALS,
    N_CENTROIDS,
    NPROBE,
    UPSERT_FRACTION,
    ivf_assign_sql,
    ivf_probe_topk_sql,
    load_or_build_ivf_index,
    nearest_centroids,
    oracle_centroids,
    oracle_ivf_query,
    probe_ladder,
)
from .topk import (
    QUERY_CTE,
    QUERY_VEC_ID,
    SCORE_DECIMALS,
    literal_topk,
    query_vector,
    score_col,
    score_sql,
)

K = 10

# ---------------------------------------------------------------------------
# Filtered ANN search: metadata predicate inside the pruned scan
# ---------------------------------------------------------------------------

# The demo predicate: a label range (selectivity ~1/2), chosen over a
# modulo test because range predicates PUSH DOWN to the parquet reader
# (a `label % 2` expression does not — only its IsNotNull residue would).
# With a fixed nprobe a highly selective filter can starve the result
# list below k; production engines widen nprobe with 1/selectivity —
# here the selectivity keeps nprobe=NPROBE comfortably above k candidates.
FILTER_SQL = "label <= 4"


def filtered_ivf_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: Sequence[float],
    predicate: F.Column,
    k: int = K,
    nprobe: int = NPROBE,
) -> DataFrame:
    """ANN top-k with the metadata predicate conjoined into the pruned
    scan: one ``Filter(centroid_id IN probes AND pred)`` directly over
    the parquet scan, so BOTH conditions are pushed to the reader —
    filter-during-search semantics, never post-filtering."""
    probes = nearest_centroids(query_vec, centroids, nprobe)
    return literal_topk(
        indexed.where(F.col("centroid_id").isin(probes) & predicate),
        query_vec,
        k,
        ["vec_id", "centroid_id", "label", "score"],
    )


def _filtered_oracle() -> str:
    cents, qvec = oracle_ivf_query()
    return ivf_probe_topk_sql(
        ivf_assign_sql(cents, carry=["embedding", "label"]),
        nearest_centroids(qvec, cents, NPROBE),
        FILTER_SQL,
    )


@register("ann_filtered_topk", oracle=_filtered_oracle)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    indexed, centroids = load_or_build_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return filtered_ivf_topk(indexed, centroids, query_vector(emb), F.expr(FILTER_SQL))


# ---------------------------------------------------------------------------
# Adaptive filtered search: escalate nprobe until the filter stops
# starving the result list (VERDICT r6 "exceed-the-reference" item —
# Neo4j's post-filter Cypher simply returns short)
# ---------------------------------------------------------------------------

# A predicate in the starvation band at the correctness SF: 6 matches
# inside the default nprobe=10 probe set (< k), 12 corpus-wide (>= k) —
# measured via the oracle's own assign SQL — so the default probe
# budget starves and exactly one doubling (clamped to all 16 cells)
# recovers a full k-list.
ADAPTIVE_FILTER_SQL = "vec_id % 43 = 0"


def _filtered_count(indexed: DataFrame, predicate: F.Column):
    """The ladder's Spark count: a pruned ``COUNT(*)`` of the predicate's
    survivors in the probed cells.  Partition pruning keeps each rung
    proportional to the probed cells, and parquet row-group stats
    satisfy most of the count without decompressing vectors."""
    return lambda probes: indexed.where(
        F.col("centroid_id").isin(probes) & predicate
    ).count()


def adaptive_filtered_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: Sequence[float],
    predicate: F.Column,
    k: int = K,
    nprobe: int = NPROBE,
) -> tuple[DataFrame, int]:
    """Filtered ANN with nprobe escalation: probe the default cells;
    while fewer than ``k`` rows survive the predicate, double nprobe
    (``ann.probe_ladder`` — bounded retries, clamped to every cell, so
    the final rung IS the full filtered scan fallback).  Returns
    ``(topk df, final nprobe)``.  Driver-side looping is the serve-path
    norm: the decision needs one integer per rung, not data movement."""
    probes, cur, _ = probe_ladder(
        query_vec, centroids, nprobe, _filtered_count(indexed, predicate), k
    )
    matched = indexed.where(F.col("centroid_id").isin(probes) & predicate)
    return literal_topk(matched, query_vec, k, ["vec_id", "centroid_id", "score"]), cur


def _ladder_oracle(start: Callable) -> str:
    """Replays a filtered search's ``probe_ladder`` against DuckDB when
    the oracle is built: ``start(con, cents, qvec)`` is the first width,
    and each rung's starvation count runs the shared ``ivf_assign_sql``
    fragment, so the oracle's final probe list can only diverge from the
    Spark side if the assignment SQL itself diverges (which every
    IVF-family driver row already guards)."""
    import duckdb

    cents, qvec = oracle_ivf_query()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{ORACLE_SF_DIR}/embeddings.parquet')"
    )

    def count(probes: list[int]) -> int:
        return con.execute(
            f"WITH {ivf_assign_sql(cents)} SELECT count(*) FROM assign a "
            f"WHERE a.centroid_id IN ({', '.join(str(p) for p in probes)}) "
            f"AND ({ADAPTIVE_FILTER_SQL})"
        ).fetchone()[0]

    probes, _, _ = probe_ladder(qvec, cents, start(con, cents, qvec), count, K)
    return ivf_probe_topk_sql(ivf_assign_sql(cents), probes, ADAPTIVE_FILTER_SQL)


def _adaptive_oracle() -> str:
    return _ladder_oracle(lambda con, cents, qvec: NPROBE)


@register("ann_filtered_adaptive", oracle=_adaptive_oracle)
def q_ann_filtered_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search that RECOVERS from starvation instead of merely
    detecting it: the registered predicate leaves < k survivors in the
    default probe set, and the escalation ladder widens until a full
    k-list (or the whole filtered corpus) is returned."""
    indexed, centroids = load_or_build_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df, _ = adaptive_filtered_topk(
        indexed, centroids, query_vector(emb), F.expr(ADAPTIVE_FILTER_SQL)
    )
    return df


# ---------------------------------------------------------------------------
# PLANNED filtered search (VERDICT r7 task 7): estimate the predicate's
# selectivity from ONE probe cell and jump straight to the right
# nprobe, instead of discovering it through log2 reactive doublings.
# The arithmetic is integer-exact so the oracle replays it verbatim:
#   t = rows in the nearest cell, m = rows matching the predicate there
#   planned = n_cells                    if m == 0   (full filtered scan)
#           = min(n_cells,
#                 max(nprobe, 2 * ceil(k / m)))      otherwise
# (2× safety over the per-cell match-rate estimate m — cells are
# uneven; underestimates fall back to ONE reactive doubling ladder.)
# ---------------------------------------------------------------------------


def _planned_nprobe(t: int, m: int, k: int, nprobe: int, n_cells: int) -> int:
    if m == 0:
        return n_cells
    return min(n_cells, max(nprobe, 2 * ((k + m - 1) // m)))


def planned_filtered_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: Sequence[float],
    predicate: F.Column,
    k: int = K,
    nprobe: int = NPROBE,
) -> tuple[DataFrame, int, int]:
    """Filtered ANN with an up-front selectivity estimate: ONE pruned
    single-cell aggregate (total rows + predicate survivors — parquet
    row-group stats and dictionary pages satisfy most of it) prices
    the predicate, ``_planned_nprobe`` sizes the probe set, and only a
    genuine underestimate pays further reactive rungs of
    ``ann.probe_ladder``.  Returns ``(topk df, final nprobe, rungs)``
    where rungs counts probe-set evaluations — 1 means the estimate
    landed in one jump.

    At 100 TB this is the difference between log2(n_cells) pruned
    COUNT scans per starving query and exactly one cell-sized
    aggregate: the estimate cost is O(|one cell|) regardless of
    corpus size, the same discipline a cost-based optimizer applies
    with column NDV stats."""
    c0 = nearest_centroids(query_vec, centroids, 1)[0]
    est = (
        indexed.where(F.col("centroid_id") == c0)
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.sum(predicate.cast("long")).alias("m"),
        )
        .first()
    )
    start = _planned_nprobe(int(est["t"]), int(est["m"] or 0), k, nprobe, len(centroids))
    probes, cur, rungs = probe_ladder(
        query_vec, centroids, start, _filtered_count(indexed, predicate), k
    )
    matched = indexed.where(F.col("centroid_id").isin(probes) & predicate)
    out = literal_topk(matched, query_vec, k, ["vec_id", "centroid_id", "score"])
    return out, cur, rungs


def _planned_oracle() -> str:
    """Replays the estimate arithmetic: the same single-cell (t, m)
    counts through the shared ``ivf_assign_sql``, the same
    ``_planned_nprobe``, the same fallback ladder."""

    def start(con, cents, qvec) -> int:
        c0 = nearest_centroids(qvec, cents, 1)[0]
        t, m = con.execute(
            f"WITH {ivf_assign_sql(cents)} SELECT count(*), "
            f"count(*) FILTER (WHERE {ADAPTIVE_FILTER_SQL}) "
            f"FROM assign a WHERE a.centroid_id = {c0}"
        ).fetchone()
        return _planned_nprobe(int(t), int(m), K, NPROBE, len(cents))

    return _ladder_oracle(start)


@register("ann_filtered_planned", oracle=_planned_oracle)
def q_ann_filtered_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search that PLANS instead of reacting: the same
    starving 1-in-43 predicate as ``ann_filtered_adaptive``, but the
    selectivity estimate picks the escalated probe set in one rung
    (asserted in tests) rather than walking the doubling ladder."""
    indexed, centroids = load_or_build_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df, _, _ = planned_filtered_topk(
        indexed, centroids, query_vector(emb), F.expr(ADAPTIVE_FILTER_SQL)
    )
    return df


# ---------------------------------------------------------------------------
# Tombstone delete: anti-join deletes into the search, no index rewrite
# ---------------------------------------------------------------------------

TOMBSTONE_SQL = "vec_id % 7 = 3"  # the deleted set (demo predicate)


def _tombstone_oracle() -> str:
    cents, qvec = oracle_ivf_query()
    return ivf_probe_topk_sql(
        ivf_assign_sql(cents),
        nearest_centroids(qvec, cents, NPROBE),
        f"a.vec_id NOT IN (SELECT vec_id FROM embeddings WHERE {TOMBSTONE_SQL})",
    )


@register("ann_delete_tombstone", oracle=_tombstone_oracle)
def q_ann_delete_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over an index with deletions applied as tombstones.

    The tombstone set is a DataFrame (in production: the delete log
    since the last vacuum), applied as a BROADCAST ANTI join inside the
    pruned scan — the 100 TB index files are untouched, the delete set
    ships once per executor, and the k results are guaranteed
    delete-free (no "fetch k, drop deleted, return 7" bug).  Physical
    rewrite/vacuum of affected cells is ``ann_ivf_upsert_cells``'s
    partition-replacement path.
    """
    indexed, centroids = load_or_build_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    tombstones = emb.where(F.expr(TOMBSTONE_SQL)).select("vec_id")
    probes = nearest_centroids(qvec, centroids, NPROBE)
    return literal_topk(
        indexed.where(F.col("centroid_id").isin(probes)).join(
            F.broadcast(tombstones), "vec_id", "left_anti"
        ),
        qvec,
        K,
        ["vec_id", "centroid_id", "score"],
    )


# ---------------------------------------------------------------------------
# MMR diversification: λ·relevance − (1−λ)·redundancy re-rank of the head
# ---------------------------------------------------------------------------

MMR_POOL = 50
MMR_LAMBDA = 0.7
MMR_K = K


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.maximum(np.linalg.norm(x, axis=-1, keepdims=True), 1e-12)


# re-exported under the family's historical name
from ..functions.train import round6 as _round6  # noqa: E402


# vectorized twin — the shared fast exact-HALF_UP implementation
from ..functions.train import round6_arr as _round6_arr  # noqa: E402


def mmr_select(
    pool_ids: Sequence[int],
    pool_vecs: np.ndarray,
    query_vec: np.ndarray,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> list[int]:
    """Greedy MMR over the (bounded) pool: repeatedly take
    argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s).

    Both terms are Neo4j-normalized cosines rounded at SCORE_DECIMALS,
    the argmax ties break to the lower vec_id — the family's
    determinism conventions, so the oracle generator reproduces the
    selection bit-for-bit.  O(P·k) sims on ≤P=50 rows: driver work the
    same size as one ``nearest_centroids`` call.
    """
    x = _unit(np.asarray(pool_vecs, dtype=np.float64))
    q = _unit(np.asarray(query_vec, dtype=np.float64))
    rel = _round6_arr((1.0 + x @ q) / 2.0)
    sim = _round6_arr((1.0 + x @ x.T) / 2.0)
    n = len(pool_ids)
    selected: list[int] = []
    chosen = np.zeros(n, dtype=bool)
    while len(selected) < min(k, n):
        best_i, best_score = -1, None
        for i in range(n):
            if chosen[i]:
                continue
            red = float(sim[i, [j for j in range(n) if chosen[j]]].max()) if selected else 0.0
            s = _round6(lam * rel[i] - (1.0 - lam) * red)
            key = (s, -pool_ids[i])
            if best_score is None or key > best_score:
                best_i, best_score = i, key
        chosen[best_i] = True
        selected.append(best_i)
    return [int(pool_ids[i]) for i in selected]


def _mmr_pool(ids: Sequence[int], x: np.ndarray, qvec: np.ndarray) -> list[int]:
    """Pool membership (as VEC_IDS): exact top-P by (rounded score DESC,
    vec_id ASC) — mirror of the TakeOrderedAndProject the Spark side
    runs, sharing its HALF_UP rounding via :func:`_round6`."""
    rel = _round6_arr((1.0 + _unit(x) @ _unit(qvec)) / 2.0)
    order = sorted(range(len(ids)), key=lambda i: (-rel[i], ids[i]))
    return [int(ids[i]) for i in order[:MMR_POOL]]


def _mmr_oracle() -> str:
    """Re-run pool selection + greedy MMR when the oracle is built, fold
    the selected (rank, vec_id) pairs as literals; the SQL re-scores
    them against the embeddings table, verifying the distributed
    scoring join exactly (trained-constant oracle discipline)."""
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    qvec = x[ids.index(QUERY_VEC_ID)]
    pool_ids = _mmr_pool(ids, x, qvec)
    id_to_row = {v: i for i, v in enumerate(ids)}
    pool_vecs = x[[id_to_row[v] for v in pool_ids]]
    sel = mmr_select(pool_ids, pool_vecs, qvec)
    values = ",\n  ".join(f"({r + 1}, {v})" for r, v in enumerate(sel))
    return f"""
WITH sel(mmr_rank, vec_id) AS (VALUES
  {values}
),
{QUERY_CTE}
SELECT CAST(s.mmr_rank AS INTEGER) AS mmr_rank, CAST(s.vec_id AS BIGINT) AS vec_id,
       {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
FROM sel s JOIN embeddings e ON e.vec_id = s.vec_id CROSS JOIN q
ORDER BY s.mmr_rank
"""


@register("topk_mmr_diverse", oracle=_mmr_oracle)
def q_topk_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k: distributed exact top-P pool
    (TakeOrderedAndProject — P rows to the driver, never the corpus),
    greedy MMR on the pool, then a distributed broadcast join re-scores
    and orders the selection.  tests/test_vsearch_extra.py asserts the
    diversity property (max pairwise sim strictly below the plain
    top-k's) on top of the oracle equality."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = np.asarray(query_vector(emb), dtype=np.float64)
    pool_rows = literal_topk(emb, qvec, MMR_POOL, ["vec_id", "embedding"]).collect()
    pool_ids = [r["vec_id"] for r in pool_rows]
    pool_vecs = np.asarray([list(map(float, r["embedding"])) for r in pool_rows])
    sel = mmr_select(pool_ids, pool_vecs, qvec)
    ranks = spark.createDataFrame(
        [(r + 1, v) for r, v in enumerate(sel)], "mmr_rank int, vec_id bigint"
    )
    return (
        emb.join(F.broadcast(ranks), "vec_id")
        .withColumn("score", score_col(qvec))
        .select("mmr_rank", "vec_id", "score")
        .orderBy("mmr_rank")
    )


# ---------------------------------------------------------------------------
# Multi-vector maxsim (ColBERT late interaction)
# ---------------------------------------------------------------------------

MAXSIM_GROUP = 5  # vectors per multi-vector "document"
MAXSIM_QUERY_IDS = (0, 1, 2)  # the query's token vectors
MAXSIM_K = K


def _maxsim_sims_sql() -> str:
    """Per query vector ``i``, the doc group's best rounded score ``s{i}``."""
    qvs = [
        f"(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = {q})"
        for q in MAXSIM_QUERY_IDS
    ]
    return ",\n         ".join(
        f"MAX({score_sql('e.embedding::DOUBLE[]', qv)}) AS s{i}" for i, qv in enumerate(qvs)
    )


@register(
    "maxsim_multivector",
    oracle=f"""
WITH per AS (
  SELECT e.vec_id // {MAXSIM_GROUP} AS doc_group,
         COUNT(*) AS n_vectors,
         {_maxsim_sims_sql()}
  FROM embeddings e
  GROUP BY 1
)
SELECT doc_group, n_vectors, ROUND(s0 + s1 + s2, {SCORE_DECIMALS}) AS maxsim_score
FROM per
ORDER BY maxsim_score DESC, doc_group
LIMIT {MAXSIM_K}
""",
)
def q_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction scoring: documents are bags of MAXSIM_GROUP
    vectors (vec_id DIV group — in production the chunk/token vectors
    of one source doc); the multi-vector query scores
    Σ_q max_t cos(q, t).

    Plan shape: ONE map-side projection computes every per-query sim
    (JVM expressions over broadcast query-vector literals), ONE hash
    agg per doc_group takes the maxes (map-side combined — the only
    shuffle), then TakeOrderedAndProject for the head.  The per-query
    maxes are rounded BEFORE the fixed-order s0+s1+s2 sum so both
    engines add identical doubles in identical order (the repo's
    round-before-compare convention).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in emb.where(F.col("vec_id").isin(list(MAXSIM_QUERY_IDS))).collect()
    }
    sims = [
        F.max(score_col(qrows[qid])).alias(f"s{i}")
        for i, qid in enumerate(MAXSIM_QUERY_IDS)
    ]
    per = (
        emb.withColumn(
            "doc_group", F.floor(F.col("vec_id") / MAXSIM_GROUP).cast("bigint")
        )
        .groupBy("doc_group")
        .agg(F.count("*").alias("n_vectors"), *sims)
    )
    return (
        per.select(
            "doc_group",
            "n_vectors",
            F.round(F.col("s0") + F.col("s1") + F.col("s2"), SCORE_DECIMALS).alias(
                "maxsim_score"
            ),
        )
        .orderBy(F.desc("maxsim_score"), F.asc("doc_group"))
        .limit(MAXSIM_K)
    )


# ---------------------------------------------------------------------------
# Batched ANN: one pruned scan amortized across a query batch
# ---------------------------------------------------------------------------

BATCH_Q = 5  # query batch = vec_id < 5 (the batch-search convention)


def _batch_oracle() -> str:
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    cents = oracle_centroids()
    probe_rows = []
    for qid in range(BATCH_Q):
        qvec = [float(v) for v in x[ids.index(qid)]]
        probe_rows += [(qid, c) for c in nearest_centroids(qvec, cents, NPROBE)]
    values = ",\n  ".join(f"({q}, {c})" for q, c in probe_rows)
    return f"""
WITH {ivf_assign_sql(cents)},
probes(query_id, cid) AS (VALUES
  {values}
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {BATCH_Q}
),
scored AS (
  SELECT CAST(p.query_id AS BIGINT) AS query_id, a.vec_id, a.centroid_id,
         {score_sql("a.embedding::DOUBLE[]", "q.qv")} AS score
  FROM assign a
  JOIN probes p ON p.cid = a.centroid_id
  JOIN q ON q.query_id = p.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
  FROM scored
)
SELECT query_id, vec_id, centroid_id, score
FROM ranked WHERE rn <= {K}
"""


@register("ann_batch_ivf_topk", oracle=_batch_oracle)
def q_ann_batch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-BATCH ANN over the IVF layout: the serving shape for bulk
    retrieval (RAG re-indexing, nightly recommendation sweeps), where
    per-query scans would read the same cells B times.

    One pruned scan reads the UNION of every query's probe cells once;
    a tiny broadcast (query_id, centroid_id) probe table fans each row
    out to exactly the queries probing its cell; the per-query vector
    arrives by indexing a broadcast query-matrix literal (no per-query
    join); a query-partitioned window takes each top-k.  Scan cost is
    |union of cells|, not B × nprobe — the amortization IS the
    operator.  Ties to `topk_per_query_batch` (the exact batch shape)
    the way `ann_ivf_topk` ties to `flagship_topk_cosine`.
    """
    from pyspark.sql import Window as W

    from ..functions.vector import matrix_lit

    indexed, centroids = load_or_build_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        (r["vec_id"], [float(v) for v in r["embedding"]])
        for r in emb.where(F.col("vec_id") < BATCH_Q).collect()
    )
    qmat = matrix_lit([v for _, v in qrows])
    # the probe table carries each query's POSITION in the broadcast
    # matrix explicitly — never derived from the id value, so missing or
    # non-contiguous query ids (post-delete corpora) cannot misalign a
    # query with another query's vector
    probe_rows = [
        (int(qid), pos, int(c))
        for pos, (qid, qv) in enumerate(qrows)
        for c in nearest_centroids(qv, centroids, NPROBE)
    ]
    probes = spark.createDataFrame(
        probe_rows, "query_id bigint, qpos int, centroid_id int"
    )
    union_cells = sorted({c for _, _, c in probe_rows})
    qv = F.element_at(qmat, F.col("qpos") + 1)
    scored = (
        indexed.where(F.col("centroid_id").isin(union_cells))
        .join(F.broadcast(probes), "centroid_id")
        .withColumn("score", score_col(qv))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        # sort while rn is still in scope (relying on Catalyst's
        # missing-reference resolution against the child is fragile)
        .orderBy("query_id", "rn")
        .select("query_id", "vec_id", "centroid_id", "score")
    )


# ---------------------------------------------------------------------------
# Index health stats: the monitoring view an index operator watches
# ---------------------------------------------------------------------------

MICRO = 1_000_000


def _stats_oracle() -> str:
    cents = oracle_centroids()
    return f"""
WITH {ivf_assign_sql(cents)},
cell AS (
  SELECT centroid_id,
         COUNT(*) AS n_vectors,
         MIN(vec_id) AS min_vec_id,
         MAX(vec_id) AS max_vec_id,
         CAST(SUM(CAST(ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[])) * {MICRO})
                       AS BIGINT)) AS BIGINT) AS norm_micro_sum
  FROM assign GROUP BY centroid_id
)
SELECT centroid_id, n_vectors, min_vec_id, max_vec_id,
       CAST(ROUND(norm_micro_sum / n_vectors) AS BIGINT) AS avg_norm_micro,
       CAST(ROUND(n_vectors * 1000000.0 / SUM(n_vectors) OVER ()) AS BIGINT)
         AS cell_frac_micro
FROM cell
ORDER BY centroid_id
"""


@register("ann_index_stats", oracle=_stats_oracle)
def q_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell index health report: sizes, id ranges, mean vector norm,
    and each cell's share of the corpus — the numbers that tell an
    operator when to re-train the quantizer (hot cells → probe skew,
    drifted norms → stale centroids).  One map-side assignment pass and
    ONE 16-row aggregate; norms are summed in integer micro-units so
    the engines agree bit-for-bit regardless of summation order.  The
    window over the 16-row aggregate is post-shuffle bookkeeping, not a
    corpus-scale single-partition sort."""
    from pyspark.sql import Window as W

    from ..functions.vector import l2_norm
    from .ann import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = build_ivf_index(emb)
    cell = (
        assigned
        .withColumn(
            "norm_micro",
            F.round(l2_norm("embedding") * MICRO).cast("long"),
        )
        .groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
            F.sum("norm_micro").alias("norm_micro_sum"),
        )
    )
    total = W.partitionBy()
    return cell.select(
        "centroid_id",
        "n_vectors",
        "min_vec_id",
        "max_vec_id",
        F.round(F.col("norm_micro_sum") / F.col("n_vectors"))
        .cast("long")
        .alias("avg_norm_micro"),
        F.round(F.col("n_vectors") * MICRO / F.sum("n_vectors").over(total))
        .cast("long")
        .alias("cell_frac_micro"),
    ).orderBy("centroid_id")


# ---------------------------------------------------------------------------
# Index-maintenance trigger (VERDICT r6 task 8): stats → decision →
# work list.  ann_index_stats is the monitoring view; THIS operator is
# the decision it feeds — flag cells breaching balance bounds after an
# upsert batch, and emit the rewrite work list ann_ivf_upsert_cells
# consumes (old cells of updated ids ∪ their new cells ∪ flagged).
# ---------------------------------------------------------------------------

# Integer balance rules (no float thresholds to diverge):
#   overfull : n_vectors * n_centroids * OVER_DEN > total * OVER_NUM
#              (cell share > OVER_NUM/OVER_DEN of the fair 1/n share)
#   underfull: n_vectors * n_centroids * UNDER_DEN < total
#              (cell share < 1/(n * UNDER_DEN) — merge candidate)
BAL_OVER_NUM, BAL_OVER_DEN = 3, 2  # flag above 1.5x fair share
BAL_UNDER_DEN = 2  # flag below half the fair share


def _balance_flag(n_col, total_col, n_centroids: int):
    over = n_col * n_centroids * BAL_OVER_DEN > total_col * BAL_OVER_NUM
    under = n_col * n_centroids * BAL_UNDER_DEN < total_col
    return F.when(over, F.lit("overfull")).when(under, F.lit("underfull")).otherwise(
        F.lit("ok")
    )


def maintenance_plan(assigned_old: DataFrame, assigned_new: DataFrame) -> DataFrame:
    """Per-cell decision row from the pre-/post-upsert assignments:
    counts, updated counts, balance flag on the POST state, and the
    work-list bit (``needs_rewrite``) = cell gained or lost updated
    rows OR breached a balance bound.  Both inputs carry
    (vec_id, centroid_id, upd); the plan is two 16-row aggregates and a
    16-row outer join — decision cost is O(n_centroids), never
    O(corpus)."""
    from pyspark.sql import Window as W

    post = assigned_new.groupBy("centroid_id").agg(
        F.count("*").alias("n_vectors"),
        F.sum("upd").cast("long").alias("n_updated"),
    )
    lost = (
        assigned_old.where(F.col("upd") == 1)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_lost"))
    )
    total = W.partitionBy()
    n_centroids_lit = F.lit(N_CENTROIDS)
    joined = (
        post.join(lost, "centroid_id", "full")
        .select(
            "centroid_id",
            F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
            F.coalesce("n_updated", F.lit(0)).alias("n_updated"),
            F.coalesce("n_lost", F.lit(0)).alias("n_lost"),
        )
        .withColumn("total", F.sum("n_vectors").over(total))
    )
    flag = _balance_flag(F.col("n_vectors"), F.col("total"), N_CENTROIDS)
    return joined.select(
        "centroid_id",
        "n_vectors",
        "n_updated",
        "n_lost",
        F.round(F.col("n_vectors") * MICRO / F.col("total"))
        .cast("long")
        .alias("cell_frac_micro"),
        flag.alias("flag"),
        (
            (F.col("n_updated") > 0)
            | (F.col("n_lost") > 0)
            | (flag != F.lit("ok"))
        ).alias("needs_rewrite"),
    ).orderBy("centroid_id")


def _maintenance_oracle() -> str:
    cents = oracle_centroids()
    n = len(cents)
    values = ",\n  ".join(
        f"({i}, {sql_floats(c)}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
WITH cut AS (
  SELECT CAST(FLOOR({UPSERT_FRACTION} * MAX(vec_id)) AS BIGINT) AS c
  FROM embeddings
),
cents(cid, cv) AS (VALUES
  {values}
),
eff AS (
  SELECT vec_id,
         CASE WHEN vec_id >= cut.c THEN list_reverse(embedding::DOUBLE[])
              ELSE embedding::DOUBLE[] END AS v,
         embedding::DOUBLE[] AS v_old,
         CASE WHEN vec_id >= cut.c THEN 1 ELSE 0 END AS upd
  FROM embeddings, cut
),
assign_new AS (
  SELECT vec_id, upd, cid AS centroid_id FROM (
    SELECT e.vec_id, e.upd, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             ROUND(list_dot_product(e.v, c.cv)
                   / sqrt(list_dot_product(e.v, e.v)), {ASSIGN_DECIMALS}) DESC,
             c.cid) AS rn
    FROM eff e CROSS JOIN cents c
  ) WHERE rn = 1
),
assign_old AS (
  SELECT vec_id, upd, cid AS centroid_id FROM (
    SELECT e.vec_id, e.upd, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             ROUND(list_dot_product(e.v_old, c.cv)
                   / sqrt(list_dot_product(e.v_old, e.v_old)), {ASSIGN_DECIMALS}) DESC,
             c.cid) AS rn
    FROM eff e CROSS JOIN cents c
  ) WHERE rn = 1
),
post AS (
  SELECT centroid_id, COUNT(*) AS n_vectors,
         CAST(SUM(upd) AS BIGINT) AS n_updated
  FROM assign_new GROUP BY centroid_id
),
lost AS (
  SELECT centroid_id, COUNT(*) AS n_lost
  FROM assign_old WHERE upd = 1 GROUP BY centroid_id
),
joined AS (
  SELECT COALESCE(p.centroid_id, l.centroid_id) AS centroid_id,
         COALESCE(p.n_vectors, 0) AS n_vectors,
         COALESCE(p.n_updated, 0) AS n_updated,
         COALESCE(l.n_lost, 0) AS n_lost,
         SUM(COALESCE(p.n_vectors, 0)) OVER () AS total
  FROM post p FULL OUTER JOIN lost l ON p.centroid_id = l.centroid_id
)
SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
       n_vectors, n_updated, CAST(n_lost AS BIGINT) AS n_lost,
       CAST(ROUND(n_vectors * {MICRO} / total) AS BIGINT) AS cell_frac_micro,
       CASE WHEN n_vectors * {n} * {BAL_OVER_DEN} > total * {BAL_OVER_NUM}
              THEN 'overfull'
            WHEN n_vectors * {n} * {BAL_UNDER_DEN} < total THEN 'underfull'
            ELSE 'ok' END AS flag,
       (n_updated > 0 OR n_lost > 0
        OR n_vectors * {n} * {BAL_OVER_DEN} > total * {BAL_OVER_NUM}
        OR n_vectors * {n} * {BAL_UNDER_DEN} < total) AS needs_rewrite
FROM joined
ORDER BY centroid_id
"""


@register("ann_index_maintenance_plan", oracle=_maintenance_oracle)
def q_ann_index_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance DECISION operator: after the standard
    upsert batch (ids >= the UPSERT_FRACTION cut re-embedded as their
    reversed vector — the same model as ``ann_ivf_upsert_cells``),
    compute per-cell counts pre and post, flag cells breaching the
    integer balance bounds, and emit ``needs_rewrite`` — the exact
    partition list the upsert's delete-and-append must touch.  The
    oracle recomputes both assignments and every flag from scratch."""
    from .ann import N_CENTROIDS as _N  # noqa: F401  (documented above)
    from .ann import UPSERT_FRACTION, assignment_col, build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents = build_ivf_index(emb)
    cut = emb.agg(
        F.floor(F.lit(UPSERT_FRACTION) * F.max("vec_id")).cast("long").alias("c")
    )
    eff = emb.crossJoin(F.broadcast(cut)).select(
        "vec_id",
        F.when(F.col("vec_id") >= F.col("c"), F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        F.col("embedding").alias("embedding_old"),
        (F.col("vec_id") >= F.col("c")).cast("int").alias("upd"),
    )
    assigned_new = eff.select(
        "vec_id", assignment_col(cents).alias("centroid_id"), "upd"
    )
    assigned_old = eff.select(
        "vec_id",
        F.col("embedding_old").alias("embedding"),
        "upd",
    ).select("vec_id", assignment_col(cents).alias("centroid_id"), "upd")
    return maintenance_plan(assigned_old, assigned_new)


# ---------------------------------------------------------------------------
# Recall certificate: the index-quality claim as a driver-verified query
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    cents, qvec = oracle_ivf_query()
    probes = nearest_centroids(qvec, cents, NPROBE)
    return f"""
WITH {ivf_assign_sql(cents)},
{QUERY_CTE},
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN q
  ORDER BY {score_sql("e.embedding::DOUBLE[]", "q.qv")} DESC, e.vec_id
  LIMIT {K}
),
approx AS (
  SELECT a.vec_id
  FROM assign a CROSS JOIN q
  WHERE a.centroid_id IN ({", ".join(str(p) for p in probes)})
  ORDER BY {score_sql("a.embedding::DOUBLE[]", "q.qv")} DESC, a.vec_id
  LIMIT {K}
)
SELECT CAST({K} AS INTEGER) AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS hits,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) * 1000000
            // {K} AS BIGINT) AS recall_micro
"""


@register("ann_recall_certificate", oracle=_recall_oracle)
def q_ann_recall_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index vs the exact scan, AS A QUERY — the
    index-quality number an operator monitors, computed by the engine
    itself and value-hash-checked by the driver (the pytest suite
    asserts recall ≥ 0.9 separately; this makes the measurement
    protocol itself part of the verified surface).

    Both arms are engine plans: the exact arm is the flagship
    TakeOrderedAndProject full scan, the approx arm the partition-pruned
    IVF probe; the certificate row is their k-row intersection — at
    100 TB this runs as one corpus scan plus one pruned scan, which is
    exactly the cost of auditing a production index in place.
    """
    indexed, centroids = load_or_build_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    probes = nearest_centroids(qvec, centroids, NPROBE)
    exact = literal_topk(emb, qvec, K, ["vec_id"])
    approx = literal_topk(
        indexed.where(F.col("centroid_id").isin(probes)), qvec, K, ["vec_id"]
    )
    hits = exact.join(approx, "vec_id").agg(F.count("*").alias("hits"))
    return hits.select(
        F.lit(K).cast("int").alias("k"),
        F.col("hits").cast("long").alias("hits"),
        F.expr(f"(hits * 1000000) div {K}").cast("long").alias("recall_micro"),
    )
