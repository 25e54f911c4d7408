"""Reference-dimension parity and composed index-lifecycle churn.

Two certificates VERDICT r8 asked for (tasks 5 and 6):

- ``semantic_search_dim1536``: the whole vector path — distributed
  Arrow-UDF embedding, dimension hard-check, Neo4j-normalized scoring,
  pushed-down top-k — executed at the REFERENCE's actual dimension.
  The reference hard-codes 1536 everywhere (server.py:55-56, 80-84;
  README.md:76 ``vector.dimensions: 1536``); every other registered
  query runs at the fixture's dim 64, so nothing previously pinned
  that no stage silently assumes the small dimension.
- ``ann_lifecycle_churn``: deletes, upserts and a maintenance-
  triggered compaction applied IN SEQUENCE to one physical IVF layout
  (the reference analog is dropping + re-creating ``embeddableIndex``,
  README.md:176-182 — a full rebuild; ours rewrites only affected
  cells at each step).  The post-churn top-k is asserted equal to a
  from-scratch build over the effective corpus, and the oracle
  recomputes that effective state declaratively.

Oracle discipline: trained constants and driver-side embeddings are
re-computed on the first ``oracle_sql()`` call and folded into the SQL
as literals (functions/train.py); all doubles follow the family's sequential-
summation + HALF_UP-at-6 conventions so both engines hash identically.
"""

from __future__ import annotations

import functools
import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import load_or_build
from ..cache import scratch_dir
from ..functions.embedder import OPENAI_EMBED_DIM, embed_text_driver, hash_embedder
from ..functions.train import (
    ORACLE_SF_DIR,
    load_sorted_vectors,
    round6_arr,
    sql_float,
    sql_floats,
)
from ..functions.vector import dim_check, neo4j_score
from ..registry import register
from ..sources.tables import load_table, spread, table_path
from .ann import (
    ASSIGN_DECIMALS,
    NPROBE,
    TRAIN_SAMPLE,
    _sample_vectors,
    assignment_col,
    nearest_centroids,
    oracle_centroids,
    replace_partitions,
    train_centroids,
)
from .topk import QUERY_VEC_ID, SCORE_DECIMALS

K = 10

# ---------------------------------------------------------------------------
# semantic_search_dim1536 — the reference's dimension, end to end
# ---------------------------------------------------------------------------

from .ann import PROMPT_TEXT as PROMPT_1536  # the engine's shared prompt

_TOKEN_CACHE: dict[str, np.ndarray] = {}


def _embed_1536(text: str) -> np.ndarray:
    """Driver-side embed at the reference dimension — delegates to the
    SHARED mirror of ``hash_embedder``'s math (embed_text_driver, also
    behind ann.prompt_embedding) with a module-level token cache; the
    oracle generator runs THIS, the query runs the distributed Arrow
    UDF, and the fold certifies they agree."""
    return embed_text_driver(text, OPENAI_EMBED_DIM, _TOKEN_CACHE)


# re-exported here because tests and sibling modules import it by this name
from ..functions.train import seq_dot as _seq_dot  # noqa: E402


def _score_round6(doc_vec, query_vec) -> float:
    from .vsearch_extra import _round6  # the family's shared HALF_UP-at-6

    na = math.sqrt(_seq_dot(doc_vec, doc_vec))
    nb = math.sqrt(_seq_dot(query_vec, query_vec))
    cos = _seq_dot(doc_vec, query_vec) / (na * nb)
    return _round6((1.0 + cos) / 2.0)


IVF1536_CELLS = 64  # = GEMM_ASSIGN_MIN_CELLS: forces the production path


@functools.cache
def _corpus_1536(sf_dir: str = ORACLE_SF_DIR):
    """Sorted doc ids, their 1536-dim embeddings, the trained 64-cell
    centroids, and the round-then-argmax assignments over the sf0.01
    documents — computed ONCE per directory and shared by the
    brute-force, IVF, and HNSW dim-1536 oracles (embedding the corpus
    is the expensive part; three independent passes tripled it).
    Shared, so immutable: tuples and read-only arrays."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    order = np.argsort(ids)
    ids = tuple(int(ids[i]) for i in order)
    vecs = np.stack([_embed_1536(texts[i]) for i in order])
    cents = train_centroids(vecs[:TRAIN_SAMPLE], IVF1536_CELLS)
    C = np.asarray(cents, dtype=np.float64)
    V = vecs.astype(np.float64)
    nrm = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
    # replicates the distributed assignment_gemm path, so it must share
    # its rounding (decimal HALF_UP round6_arr, not np.round — r13 advisor)
    assign = np.argmax(round6_arr((V @ C.T) / nrm[:, None]), axis=1)
    vecs.flags.writeable = assign.flags.writeable = False
    return ids, vecs, tuple(map(tuple, cents)), assign


def _probe_topk_1536(probes) -> list[tuple[int, float, int]]:
    """Exact re-rank (sequential-fold cosine, HALF_UP at 6) of the docs
    whose assigned cell is in the probe set — the shared tail of every
    cell-pruned 1536-dim oracle."""
    ids, vecs, _cents, assign = _corpus_1536()
    qvec = _embed_1536(PROMPT_1536)
    probe_set = set(int(p) for p in probes)
    scored = sorted(
        (-_score_round6(vecs[i], qvec), doc_id, int(assign[i]))
        for i, doc_id in enumerate(ids)
        if int(assign[i]) in probe_set
    )[:K]
    return [(doc_id, -s, cell) for s, doc_id, cell in scored]


def _dim1536_expected() -> list[tuple[int, float]]:
    """Score every sf0.01 document at dim 1536 against the prompt
    embedding, return the exact top-K — folded into the oracle, same
    discipline as quantizer training."""
    ids, vecs, _cents, _assign = _corpus_1536()
    qvec = _embed_1536(PROMPT_1536)
    scored = sorted(
        ((-_score_round6(v, qvec), i) for i, v in zip(ids, vecs)),
    )[:K]
    return [(int(i), -s) for s, i in scored]


def _dim1536_oracle() -> str:
    expected = _dim1536_expected()
    values = ",\n  ".join(
        f"({i}, {sql_float(s)}, TRUE)" for i, s in expected
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, score, dim_ok FROM (VALUES
  {values}
) AS t(doc_id, score, dim_ok)
"""


@register("semantic_search_dim1536", oracle=_dim1536_oracle)
def q_semantic_search_dim1536(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline at the reference's hard-coded dimension
    (server.py:55-56 ``len(embedding) != 1536`` hard-fail;
    README.md:76): embed the corpus at 1536 with the DISTRIBUTED Arrow
    UDF, dim-check every vector (surfaced as a per-row ``dim_ok``
    column, all TRUE or the hash breaks), score with the same JVM
    sequential-fold cosine as dim 64, take the top-k.  The oracle is
    the oracle-time driver-side replication of the identical
    math — a mismatch at any stage (UDF batching, float32 cast, fold
    order, rounding) shifts a score or an id."""
    # spread BEFORE the 1536-dim Arrow embed: the sf* corpora are one
    # parquet file -> one input split, so without it the family's
    # heaviest stage (embed + GEMM assign over every doc) ran on ONE
    # core (the r10->r13 bench drift of these rows); a wide 100 TB scan
    # passes through spread() untouched
    docs = spread(load_table(spark, sf_dir, "documents"))
    embed = hash_embedder(OPENAI_EMBED_DIM)
    qvec = _embed_1536(PROMPT_1536)
    emb = docs.select("doc_id", embed(F.col("text")).alias("embedding"))
    return (
        emb.select(
            "doc_id",
            F.round(neo4j_score("embedding", qvec), SCORE_DECIMALS).alias("score"),
            dim_check("embedding", OPENAI_EMBED_DIM).alias("dim_ok"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )


# ---------------------------------------------------------------------------
# ann_lifecycle_churn — delete → upsert → maintenance compaction on ONE
# physical layout, certified against the declarative effective state
# ---------------------------------------------------------------------------

DELETE_SQL = "vec_id % 7 = 3"  # never touches QUERY_VEC_ID (0 % 7 = 0)
CHURN_UPSERT_FRACTION = 0.9  # ids >= floor(frac·max) get re-embedded (reversed)


def _churn_oracle() -> str:
    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    cents = oracle_centroids()
    qvec = [float(v) for v in x[ids.index(QUERY_VEC_ID)]]
    probes = nearest_centroids(qvec, cents, NPROBE)
    values = ",\n  ".join(
        f"({i}, {sql_floats(c)}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
WITH cut AS (
  SELECT CAST(FLOOR({CHURN_UPSERT_FRACTION} * MAX(vec_id)) AS BIGINT) AS c
  FROM embeddings
),
cents(cid, cv) AS (VALUES
  {values}
),
eff AS (
  SELECT vec_id,
         CASE WHEN vec_id >= cut.c THEN list_reverse(embedding::DOUBLE[])
              ELSE embedding::DOUBLE[] END AS v
  FROM embeddings, cut
  WHERE NOT ({DELETE_SQL})
),
assign AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             ROUND(list_dot_product(e.v, c.cv)
                   / sqrt(list_dot_product(e.v, e.v)), {ASSIGN_DECIMALS}) DESC,
             c.cid) AS rn
    FROM eff e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id,
       ROUND((1.0 + list_cosine_similarity(a.v, q.qv)) / 2.0,
             {SCORE_DECIMALS}) AS score
FROM assign a CROSS JOIN q
WHERE a.centroid_id IN ({", ".join(str(p) for p in probes)})
ORDER BY score DESC, a.vec_id
LIMIT {K}
"""


def _pruned_topk(layout_df: DataFrame, probes: list[int], qvec) -> DataFrame:
    return (
        layout_df.where(F.col("centroid_id").isin(probes))
        .withColumn("score", F.round(neo4j_score("embedding", qvec), SCORE_DECIMALS))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(K)
        .select("vec_id", F.col("centroid_id").cast("int").alias("centroid_id"), "score")
    )


@register("ann_lifecycle_churn", oracle=_churn_oracle)
def q_ann_lifecycle_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed index-churn lifecycle through REAL files: build the
    centroid_id-partitioned IVF layout, then (1) physically DELETE a
    tombstoned id set by rewriting only the cells that contain them,
    (2) UPSERT a re-embedded batch (delete-and-append over old ∪ new
    cells of the moved ids — ``ann_ivf_upsert_cells``'s path), and
    (3) run a maintenance-triggered COMPACTION: every cell whose row
    count changed during churn is rewritten in place (the vacuum the
    maintenance plan's ``needs_rewrite`` bit schedules).  After all
    three rewrites the pruned top-k is asserted EQUAL to a from-scratch
    build over the effective corpus (the reference's only maintenance
    story — index drop + re-create DDL, README.md:176-182 — rebuilds
    everything; here rewrite cost is proportional to touched cells).
    The oracle recomputes the effective state declaratively, so a lost
    row, resurrected tombstone, or stale duplicate in ANY step shifts
    the result hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(_sample_vectors(emb, TRAIN_SAMPLE))
    cut = emb.agg(
        F.floor(F.lit(CHURN_UPSERT_FRACTION) * F.max("vec_id")).cast("long").alias("c")
    ).first()["c"]
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    ]
    probes = nearest_centroids(qvec, cents, NPROBE)

    # build: the pre-churn layout
    base = emb.select(
        "vec_id", "embedding", assignment_col(cents).alias("centroid_id")
    )
    layout = scratch_dir("ivf_churn_")
    base.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(layout)
    pre_counts = {
        r["centroid_id"]: r["n"]
        for r in spark.read.parquet(layout)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: ≤ n_centroids rows
    }

    # churn 1 — delete: rewrite only cells holding a tombstoned id
    stored = spark.read.parquet(layout)
    del_cells = sorted(
        r["centroid_id"]
        for r in stored.where(F.expr(DELETE_SQL)).select("centroid_id").distinct().collect()
    )
    survivors = stored.where(
        F.col("centroid_id").isin(del_cells) & ~F.expr(DELETE_SQL)
    ).select("vec_id", "embedding", "centroid_id")
    replace_partitions(layout, del_cells, survivors)

    # churn 2 — upsert: re-embedded batch (reversed vectors), only
    # surviving ids; delete-and-append over old ∪ new cells
    stored = spark.read.parquet(layout)
    updated = stored.where(F.col("vec_id") >= cut).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    new_assigned = updated.select(
        "vec_id", "embedding", assignment_col(cents).alias("centroid_id")
    )
    old_cells = stored.where(F.col("vec_id") >= cut).select("centroid_id").distinct()
    up_cells = sorted(
        r["centroid_id"]
        for r in old_cells.unionAll(new_assigned.select("centroid_id").distinct())
        .distinct()
        .collect()  # bounded: ≤ n_centroids rows
    )
    replacement = stored.where(
        F.col("centroid_id").isin(up_cells) & (F.col("vec_id") < cut)
    ).select("vec_id", "embedding", "centroid_id").unionAll(new_assigned)
    replace_partitions(layout, up_cells, replacement)

    # churn 3 — maintenance compaction: cells whose census changed are
    # rewritten in place (content-preserving vacuum of churned cells)
    stored = spark.read.parquet(layout)
    post_counts = {
        r["centroid_id"]: r["n"]
        for r in stored.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: ≤ n_centroids rows
    }
    dirty = sorted(
        c
        for c in set(pre_counts) | set(post_counts)
        if pre_counts.get(c) != post_counts.get(c)
    )
    compacted = stored.where(F.col("centroid_id").isin(dirty)).select(
        "vec_id", "embedding", "centroid_id"
    )
    replace_partitions(layout, dirty, compacted)

    # certify: post-churn pruned top-k == from-scratch build's
    churned = _pruned_topk(spark.read.parquet(layout), probes, qvec).localCheckpoint(
        eager=True
    )
    effective = emb.where(~F.expr(DELETE_SQL)).select(
        "vec_id",
        F.when(F.col("vec_id") >= cut, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    scratch = effective.select(
        "vec_id", "embedding", assignment_col(cents).alias("centroid_id")
    )
    expected = _pruned_topk(scratch, probes, qvec).collect()
    got = churned.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expected], (
        "post-churn top-k diverged from the from-scratch build"
    )
    return churned


# ---------------------------------------------------------------------------
# ann_ivf_dim1536 — the INDEX path at the reference's dimension: IVF
# build (GEMM assignment) + cell-pruned probe over 1536-dim vectors.
# ---------------------------------------------------------------------------

IVF1536_NPROBE = 8


def _ivf1536_probes(cents) -> list[int]:
    """Flat cell ranking: the IVF1536_NPROBE cells whose centroids are
    nearest the prompt (rounded cosine, ties to the lower cell id)."""
    C = np.asarray(cents, dtype=np.float64)
    q64 = np.asarray(_embed_1536(PROMPT_1536), dtype=np.float64)
    qsims = np.round(
        (C @ q64) / max(float(np.linalg.norm(q64)), 1e-12), ASSIGN_DECIMALS
    )
    return sorted(range(len(C)), key=lambda c: (-qsims[c], c))[:IVF1536_NPROBE]


def _hnsw1536_probes(cents) -> list[int]:
    """Layered-HNSW probe selection over the routing nodes: geometric
    level hierarchy, greedy upper-layer descent, layer-0 beam
    (graph_ann.build_hnsw / hnsw_search — the code the dim-64 row
    certifies)."""
    from .graph_ann import build_hnsw, hnsw_search

    qvec = [float(v) for v in _embed_1536(PROMPT_1536)]
    return hnsw_search(cents, build_hnsw(cents), qvec)


@functools.cache
def _ivf1536_model() -> tuple[tuple, list[int], list[tuple[int, float, int]]]:
    """Oracle-time numpy replication of the whole 1536-dim IVF path:
    corpus embed (the certified float32 mirror), unit-sphere k-means,
    GEMM assignment (same round-then-argmax), query-probe cell ranking,
    exact re-rank inside the probe set.  Returns (centroids, probe
    cells, expected top-K rows)."""
    cents = _corpus_1536()[2]
    probes = _ivf1536_probes(cents)
    return cents, probes, _probe_topk_1536(probes)


def _ivf1536_oracle() -> str:
    _cents, _probes, expected = _ivf1536_model()
    values = ",\n  ".join(
        f"({i}, {sql_float(s)}, {c})" for i, s, c in expected
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, score,
       CAST(centroid_id AS INTEGER) AS centroid_id
FROM (VALUES
  {values}
) AS t(doc_id, score, centroid_id)
"""


def _load_or_build_1536_layout(
    spark: SparkSession, sf_dir: str, cell_col: str
) -> tuple[DataFrame, list[list[float]]]:
    """Build-once / query-many layout at the reference dimension, and
    the 64-cell quantizer it was assigned with.  The quantizer is
    trained on ``sf_dir``'s own first ``TRAIN_SAMPLE`` documents by
    doc_id, embedded with the driver mirror (``_embed_1536``); the
    1536-dim corpus embed + GEMM cell assignment then materialize as a
    cell-partitioned parquet artifact on first use, exactly the
    ``load_or_build_ivf_index`` discipline the dim-64 family already
    follows (and the reference's own index DDL vs per-query
    ``queryNodes`` split, README.md:72-79 vs server.py:87).  Query-time
    cost becomes a partition-pruned read — and the rows stop paying
    (and re-measuring) the corpus embed on every call, which is what
    made them the bench's most host-noise-sensitive entries.  float32
    embeddings round-trip parquet bit-exactly, and the assignment is
    the same HALF_UP GEMM, so cached and inline forms value-hash
    identically.

    ONE artifact serves both navigation styles (``cell_col`` names only
    the caller's cell-column alias): the IVF and HNSW rows share the
    quantizer, so their layouts are byte-identical — the flat-probe vs
    graph-descent difference is entirely in WHICH cells they read.
    The centroids ride in the entry's meta, so the query path never
    reads another corpus's quantizer."""
    from .ann import assignment_gemm

    def build(out: str) -> dict:
        docs = load_table(spark, sf_dir, "documents")
        sample = (
            docs.select("doc_id", "text").orderBy("doc_id").limit(TRAIN_SAMPLE).collect()
        )  # bounded: TRAIN_SAMPLE rows
        cents = train_centroids(
            np.stack([_embed_1536(r["text"]) for r in sample]), IVF1536_CELLS
        )
        embed = hash_embedder(OPENAI_EMBED_DIM)
        emb = spread(docs).select("doc_id", embed(F.col("text")).alias("embedding"))
        assigned = emb.withColumn("cell", assignment_gemm(cents))
        # repartition on the cell aligns writer tasks with partitions
        # (write_ivf_index's small-files discipline)
        assigned.repartition("cell").write.partitionBy("cell").parquet(
            out
        )
        return {"cents": cents}

    # bump the version token on any change to the training sample or
    # the assignment math: the key covers params and the source files
    params = {"cells": IVF1536_CELLS, "sample": TRAIN_SAMPLE, "v": 2}
    path, meta = load_or_build(
        "idx1536", params, [table_path(sf_dir, "documents")], build
    )
    layout = spark.read.parquet(path).select(
        "doc_id", "embedding", F.col("cell").alias(cell_col)
    )
    return layout, meta["cents"]


@register("ann_ivf_dim1536", oracle=_ivf1536_oracle)
def q_ann_ivf_dim1536(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at the reference's native 1536 dims, end to end on the
    PRODUCTION code path: distributed Arrow embed → GEMM coarse
    assignment (64 cells = the dispatch threshold, so the FAISS-shaped
    numpy matmul runs, not the small-fixture JVM literal expression),
    both paid ONCE at layout-build time (``_load_or_build_1536_layout``
    — the index-DDL/query split) → the probe prunes to NPROBE=8 cells
    of the partitioned artifact → exact re-rank inside the union of
    probe cells.  `semantic_search_dim1536` certifies the
    brute-force scan at this width; this row certifies that INDEXING
    math survives the 24× dimension change — the oracle is a complete
    oracle-time numpy replication (same float32 embed mirror,
    same unit-sphere k-means, same round-then-argmax assignment), so a
    drift anywhere in the 1536-dim build shifts an id, a score, or a
    cell."""
    assigned, cents = _load_or_build_1536_layout(spark, sf_dir, "centroid_id")
    qvec = _embed_1536(PROMPT_1536)
    return (
        assigned.where(F.col("centroid_id").isin(*_ivf1536_probes(cents)))
        .select(
            "doc_id",
            F.round(neo4j_score("embedding", qvec), SCORE_DECIMALS).alias("score"),
            "centroid_id",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )


# ---------------------------------------------------------------------------
# ann_hnsw_dim1536 — the reference's LITERAL index type at its LITERAL
# dimension: Lucene-HNSW behind db.index.vector.queryNodes is a layered
# navigable graph over 1536-dim vectors (reference server.py:87,
# README.md:76 ``vector.dimensions: 1536``).  ann_hnsw_topk certifies
# the layered descent at the fixture's dim 64; this row re-runs the
# same hierarchy build + greedy descent + layer-0 beam over the SAME
# 64 routing nodes the 1536-dim IVF trains, so the graph family now has
# a row on the production GEMM-dispatch assignment path too.
# ---------------------------------------------------------------------------


@functools.cache
def _hnsw1536_model() -> tuple[tuple, list[int], list[tuple[int, float, int]]]:
    """Oracle-time numpy replication of the 1536-dim HNSW path: the
    descent over the oracle corpus's routing nodes, then the family's
    shared exact re-rank inside the probe cells.  Returns (centroids,
    probe cells, expected top-K rows)."""
    cents = _corpus_1536()[2]
    probes = _hnsw1536_probes(cents)
    return cents, probes, _probe_topk_1536(probes)


def _hnsw1536_oracle() -> str:
    _cents, _probes, expected = _hnsw1536_model()
    values = ",\n  ".join(
        f"({i}, {sql_float(s)}, {c})" for i, s, c in expected
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, score,
       CAST(node_id AS INTEGER) AS node_id
FROM (VALUES
  {values}
) AS t(doc_id, score, node_id)
"""


@register("ann_hnsw_dim1536", oracle=_hnsw1536_oracle)
def q_ann_hnsw_dim1536(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW at the reference's native 1536 dims on the production code
    path: distributed Arrow embed → GEMM coarse assignment to the 64
    routing nodes (the dispatch threshold, so the FAISS-shaped numpy
    matmul runs) → the LAYERED GRAPH DESCENT picks the probe nodes
    (driver-side over the bounded node set, exactly where HNSW's upper
    layers live at 100 TB) → the scan reads only the probed cells and
    exact-re-ranks inside them.  Complements ``ann_ivf_dim1536``: same
    layout, same assignment math, navigation swapped from flat
    centroid ranking to the graph walk — a drift in the hierarchy
    build, the descent, or the 1536-dim assignment shifts an id, a
    score, or a cell.  Recall discipline (tests/test_graph_ann.py):
    the fixture's hash embeddings are near-orthogonal at 1536 dims, so
    NO cell-pruned navigation can recall well on them (measured: even
    probing 48/64 cells tops out at 0.5 vs exact — the curse-of-
    dimensionality result graph indexes exist to exploit structure
    against); the gates are therefore (a) planted navigation on the
    fixture (a query AT a corpus vector must reach that vector's own
    cell) at its measured floor and (b) >=0.95 planted recall on a
    CLUSTERED synthetic 1536-dim node set, where real-corpus structure
    exists and the descent must find it."""
    assigned, cents = _load_or_build_1536_layout(spark, sf_dir, "node_id")
    qvec = _embed_1536(PROMPT_1536)
    return (
        assigned.where(F.col("node_id").isin(*_hnsw1536_probes(cents)))
        .select(
            "doc_id",
            F.round(neo4j_score("embedding", qvec), SCORE_DECIMALS).alias("score"),
            "node_id",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )
