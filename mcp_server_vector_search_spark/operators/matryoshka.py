"""Matryoshka (prefix-dimension) retrieval: coarse scan on a PREFIX of
the embedding, exact re-rank on the full vector.

Matryoshka representation learning (Kusupati et al. 2022, public
NeurIPS paper; adopted by OpenAI's text-embedding-3 dimension
truncation) trains embeddings whose low-index dimensions carry most of
the signal, so a k-NN scan over the first ``PREFIX_DIM`` coordinates is
a cheap, surprisingly accurate filter.  The reference's stack exposes
exactly this knob client-side (its OpenAI embedder takes a dimension
parameter, reference `server.py:40-58`); here it becomes a two-stage
retrieval operator.

Unlike PQ/SQ/BQ there is NOTHING to train: the "index" is a column
slice.  Spark-first shape:
- **Coarse scan** (JVM): cosine over ``slice(embedding, 1, PREFIX_DIM)``
  vs the query's prefix — at 100 TB the prefix lives as its own thin
  column (or the leading bytes of a sorted-dim layout) so the scan
  reads PREFIX_DIM/DIM of the bytes; at test scale the slice expresses
  the same plan over the one column.
- **Re-rank** (JVM): the top ``RERANK_POOL`` ids join back for exact
  full-dimension scores — identical two-stage discipline as the PQ/SQ
  family, so scores are directly comparable across all ANN variants.

No trained constants ⇒ the oracle is plain SQL over the same slices —
the strongest parity form in the ANN family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import vector_lit
from ..registry import register
from ..sources.tables import load_table
from .pq import DIST_DECIMALS, K, RERANK_POOL, cached_query_vector, rerank_pool_sql
from .topk import QUERY_VEC_ID, literal_topk

# Half the dimensions ⇒ half the scan bytes.  MRL-trained embeddings
# tolerate much harder truncation (the paper uses 8-16× cuts); the
# synthetic test embeddings spread signal uniformly, so the honest
# prefix here is DIM/2 (recall@10 ≥ 0.9 asserted in tests/test_ann.py).
PREFIX_DIM = 32


def _prefix_cosine(vec_col: F.Column, q_prefix: list[float]) -> F.Column:
    """Rounded cosine between the row's first PREFIX_DIM coords and the
    query prefix — sequential dot/norm sums matching DuckDB's
    ``list_dot_product`` evaluation order."""
    sub = F.slice(vec_col, 1, PREFIX_DIM)
    q = vector_lit(q_prefix)
    dot = F.aggregate(
        F.zip_with(sub, q, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    n2 = F.aggregate(
        F.zip_with(sub, sub, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    qn2 = sum(x * x for x in q_prefix)
    return F.round(dot / F.sqrt(n2 * F.lit(float(qn2))), DIST_DECIMALS)


def _matryoshka_oracle() -> str:
    from ..functions.train import ORACLE_SF_DIR, load_sorted_vectors, sql_floats

    ids, x = load_sorted_vectors(ORACLE_SF_DIR)
    qvec = [float(v) for v in x[ids.index(QUERY_VEC_ID)]]
    qp = qvec[:PREFIX_DIM]
    qn2 = sum(v * v for v in qp)
    return rerank_pool_sql(f"""pre AS (
  SELECT vec_id,
         (embedding::DOUBLE[])[1:{PREFIX_DIM}] AS sub
  FROM embeddings
),
coarse AS (
  SELECT vec_id,
         ROUND(list_dot_product(sub, {sql_floats(qp)}::DOUBLE[])
               / sqrt(list_dot_product(sub, sub) * {qn2!r}), {DIST_DECIMALS}) AS a
  FROM pre
),
pool AS (SELECT vec_id FROM coarse ORDER BY a DESC, vec_id LIMIT {RERANK_POOL})""")


@register("ann_matryoshka_topk", oracle=_matryoshka_oracle)
def q_ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka retrieval (module docstring): prefix-cosine
    pool via ``TakeOrderedAndProject``, exact re-rank of POOL rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = cached_query_vector(spark, sf_dir)
    pool = (
        emb.select("vec_id", _prefix_cosine(F.col("embedding"), qvec[:PREFIX_DIM]).alias("a"))
        .orderBy(F.desc("a"), F.asc("vec_id"))
        .limit(RERANK_POOL)
        .select("vec_id")
    )
    return literal_topk(emb.join(F.broadcast(pool), "vec_id"), qvec, K, ["vec_id", "score"])
