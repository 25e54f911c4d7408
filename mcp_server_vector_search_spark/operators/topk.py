"""Exact top-k vector search — the engine's flagship operator.

Replicates the semantics of the reference's single query
(reference: servers/mcp_neo4j_vector_search/server.py:85-91):

    WITH $prompt_embeddings AS prompt_embeddings
    CALL db.index.vector.queryNodes('embeddableIndex', 10, prompt_embeddings)
    YIELD node, score
    RETURN node.name as name, node.description as description, score
    ORDER BY score DESC

i.e. score every document against a query vector with the
Neo4j-normalized cosine ``(1+cos)/2``, keep the top 10, project
metadata columns, order by score descending.  The reference pushes
``k`` into the index scan (server.py:87); the Spark analog is that
``ORDER BY ... LIMIT k`` compiles to ``TakeOrderedAndProject`` —
partition-local top-k heaps merged at the driver, no global sort, no
shuffle of the scored rows.  That plan is O(n) scan + O(k) memory per
partition and survives a 100x scale-up: the only data movement is
k rows per partition to the driver.

Exact search is the canonical, oracle-checkable operator; the
approximate scale path (IVF partition pruning, LSH) lives in ``ann.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.vector import (
    cosine_similarity,
    dot,
    l2_distance,
    l2_norm,
    neo4j_score,
)
from ..registry import register
from ..sources.tables import load_table

SCORE_DECIMALS = 6  # round scores so Spark/DuckDB double math hash-matches
QUERY_VEC_ID = 0  # deterministic stand-in for the reference's prompt embedding
FLAGSHIP_K = 10  # k=10 hardcoded in the reference (server.py:87)


def query_vector(emb: DataFrame, vec_id: int = QUERY_VEC_ID) -> list[float]:
    """The query vector as driver-side floats: one bounded ``first()``
    lookup, the analog of the reference binding its prompt embedding
    client-side (server.py:86,95) before folding it into the plan."""
    vec = emb.where(F.col("vec_id") == vec_id).first()["embedding"]
    return [float(v) for v in vec]


def score_col(query) -> Column:
    """The rounded Neo4j score of the ``embedding`` column against
    ``query``: a literal vector (folded into the plan) or a column."""
    return F.round(neo4j_score("embedding", query), SCORE_DECIMALS)


def score_sql(vec: str, qv: str) -> str:
    """DuckDB text of :func:`score_col`: the rounded ``(1 + cos) / 2``
    of the list expression ``vec`` against ``qv``."""
    return f"ROUND((1.0 + list_cosine_similarity({vec}, {qv})) / 2.0, {SCORE_DECIMALS})"


#: the oracle's query-vector CTE (``q.qv``), the twin of :func:`query_vector`
QUERY_CTE = (
    f"q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})"
)


def query_vector_df(embeddings: DataFrame, vec_id: int) -> DataFrame:
    """One-row DataFrame holding the query vector.

    The reference binds the query embedding as a Cypher parameter
    (server.py:86,95); our analog is a 1-row broadcast side of a
    nested-loop join — the vector ships once per executor, the scored
    relation never moves.
    """
    return embeddings.where(F.col("vec_id") == vec_id).select(
        F.col("embedding").alias("__query_vec")
    )


def score_against(df: DataFrame, query: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach a Neo4j-normalized cosine ``score`` column vs the 1-row query."""
    scored = df.crossJoin(F.broadcast(query))
    return scored.withColumn(
        "score", F.round(neo4j_score(vec_col, "__query_vec"), SCORE_DECIMALS)
    ).drop("__query_vec")


def topk(df: DataFrame, k: int, order: list[Column]) -> DataFrame:
    """ORDER BY + LIMIT — Catalyst fuses to TakeOrderedAndProject."""
    return df.orderBy(*order).limit(k)


def literal_topk(
    df: DataFrame, query_vec, k: int, cols: list, id_col: str = "vec_id"
) -> DataFrame:
    """The reference's one query (server.py:85-91) over ``df``: score
    every row against the literal query vector, keep the ``k`` best by
    (score DESC, ``id_col`` ASC) and project ``cols``.  The whole tail
    is one ``TakeOrderedAndProject``."""
    scored = df.withColumn("score", score_col(query_vec))
    return topk(scored, k, [F.desc("score"), F.asc(id_col)]).select(*cols)


def topk_cosine(
    embeddings: DataFrame,
    documents: DataFrame,
    query: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-k cosine search joined to document metadata.

    Join AFTER the top-k, not before: only k rows hit the join, which
    Catalyst executes as a broadcast of the k-row side — at 100 TB the
    documents table is huge but the join probe is k rows.
    Deterministic tie-break on vec_id keeps result sets hash-stable
    (SURVEY.md §5.2.5).
    """
    hits = topk(
        score_against(embeddings, query).select("vec_id", "score"),
        k,
        [F.desc("score"), F.asc("vec_id")],
    )
    return (
        F.broadcast(hits)
        .join(documents, hits.vec_id == documents.doc_id)
        .select("doc_id", "text", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)  # re-fuses the final order into TakeOrderedAndProject (no Exchange)
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference query end-to-end on the testdata tables.

    ``documents.text`` stands in for the reference's ``node.name`` /
    ``node.description`` projection (server.py:89); the query vector is
    the embedding of vec_id=0 (stand-in for the OpenAI prompt
    embedding, server.py:78 — embedding inference is pluggable, see
    functions/embedder.py).
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    documents = load_table(spark, sf_dir, "documents")
    q = query_vector_df(embeddings, QUERY_VEC_ID)
    return topk_cosine(embeddings, documents, q, FLAGSHIP_K)


_FLAGSHIP_ORACLE = f"""
WITH {QUERY_CTE},
hits AS (
  SELECT e.vec_id,
         {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
  FROM embeddings e CROSS JOIN q
  ORDER BY score DESC, e.vec_id
  LIMIT {FLAGSHIP_K}
)
SELECT d.doc_id, d.text, h.score
FROM hits h JOIN documents d ON d.doc_id = h.vec_id
ORDER BY h.score DESC, d.doc_id
"""


@register("flagship_topk_cosine", oracle=_FLAGSHIP_ORACLE)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship(spark, sf_dir)


@register(
    "vector_scores_all",
    oracle=f"""
WITH {QUERY_CTE}
SELECT e.vec_id,
       {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
FROM embeddings e CROSS JOIN q
""",
)
def q_scores_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scoring scan (no top-k) — isolates the distance expression."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = query_vector_df(embeddings, QUERY_VEC_ID)
    return score_against(embeddings, q).select("vec_id", "score")


@register(
    "vector_distance_library",
    oracle=f"""
WITH {QUERY_CTE}
SELECT e.vec_id,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), {SCORE_DECIMALS}) AS dot,
       ROUND(list_distance(e.embedding::DOUBLE[], q.qv), {SCORE_DECIMALS}) AS l2_dist,
       ROUND(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])),
             {SCORE_DECIMALS}) AS norm,
       ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv),
             {SCORE_DECIMALS}) AS cosine,
       {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS neo4j_score
FROM embeddings e CROSS JOIN q
""",
)
def q_vector_distance_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole distance library in one scan: dot, L2 distance, norm,
    cosine, and the reference's normalized score — all JVM
    higher-order-function expressions (functions/vector.py), one pass
    over the corpus, no Python."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = query_vector_df(embeddings, QUERY_VEC_ID)
    e = embeddings.crossJoin(F.broadcast(q))
    return e.select(
        "vec_id",
        F.round(dot("embedding", "__query_vec"), SCORE_DECIMALS).alias("dot"),
        F.round(l2_distance("embedding", "__query_vec"), SCORE_DECIMALS).alias(
            "l2_dist"
        ),
        F.round(l2_norm("embedding"), SCORE_DECIMALS).alias("norm"),
        F.round(cosine_similarity("embedding", "__query_vec"), SCORE_DECIMALS).alias(
            "cosine"
        ),
        score_col("__query_vec").alias("neo4j_score"),
    )


N_BATCH_QUERIES = 5
BATCH_K = 10


def topk_per_query(
    embeddings: DataFrame, queries: DataFrame, k: int = BATCH_K
) -> DataFrame:
    """Batch top-k: many query vectors at once (SURVEY.md §2.4).

    queries(query_id, embedding) x corpus → rank top-k per query via a
    window.  The small query set broadcasts; the corpus-side scoring is
    map-only, and the window shuffles only (query_id, vec_id, score)
    triples — never the vectors.  At scale the per-query state is a
    k-row heap per partition (rank pushdown via WindowGroupLimit).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__query_vec")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            score_col("__query_vec").alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


@register(
    "topk_per_query_batch",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id,
         {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {BATCH_K}
""",
)
def q_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    embeddings = load_table(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < N_BATCH_QUERIES)
    return topk_per_query(embeddings, queries)


# ---------------------------------------------------------------------------
# Facade semantics as driver-checkable queries: the reference's dimension
# hard-fail (O3) and row→JSON serialization (O6)
# ---------------------------------------------------------------------------

EMB_DIM = 64  # the fixture's table-level invariant (reference: 1536)


@register(
    "vector_dim_check",
    oracle=f"""
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN len(embedding) = {EMB_DIM} THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(SUM(CASE WHEN len(embedding) = {EMB_DIM} THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
FROM embeddings
""",
)
def q_vector_dim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed form of the reference's embedding-dimension
    validation (server.py:55-56 and :80-84 — the only schema
    enforcement in the whole reference): a CHECK-style scan over the
    table invariant.  The engine facade raises on any violation
    (engine.py); this query surfaces the same predicate as auditable
    counts so the invariant carries a driver correctness row."""
    from ..functions.vector import dim_check

    emb = load_table(spark, sf_dir, "embeddings")
    ok = dim_check("embedding", EMB_DIM).cast("int")
    return emb.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(ok).alias("n_valid"),
        F.sum(F.lit(1) - ok).alias("n_invalid"),
    )


@register(
    "rows_as_json",
    oracle="""
SELECT doc_id,
       to_json(struct_pack(doc_id := doc_id, text := text, lang := lang,
                           source := source, n_chars := n_chars)) AS js
FROM documents
""",
)
def q_rows_as_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's output surface is JSON rows
    (server.py:62-64: eager collect → ``json.dumps([r.data() ...])``);
    the Spark analog is ``to_json(struct(...))`` — a JVM expression
    producing the same compact key:value encoding per row, verified
    byte-for-byte against DuckDB's ``to_json``.  Serialization stays
    distributed; only the boundary collect ships strings."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.to_json(
            F.struct("doc_id", "text", "lang", "source", "n_chars")
        ).alias("js"),
    )


@register(
    "empty_result_guard",
    oracle=f"""
WITH {QUERY_CTE}
SELECT e.vec_id,
       {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
FROM embeddings e CROSS JOIN q
WHERE e.vec_id < 0
ORDER BY score DESC, e.vec_id
LIMIT {FLAGSHIP_K}
""",
)
def q_empty_result_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's empty-result behavior (server.py:31-34,113 via
    SURVEY §2.1 O7): a query matching nothing returns an EMPTY result
    with the full stable schema — no error, no null row, and the
    ``LIMIT k`` happily returns fewer than k (``queryNodes`` may too).
    Exercised as a driver row by running the flagship scoring shape
    over an impossible predicate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vector_df(emb, QUERY_VEC_ID)
    return topk(
        score_against(emb.where(F.col("vec_id") < 0), q).select("vec_id", "score"),
        FLAGSHIP_K,
        [F.desc("score"), F.asc("vec_id")],
    )


# ---------------------------------------------------------------------------
# Keyset pagination: page 2 of the flagship search without re-ranking
# page 1 — the serve-path "next page" every search API needs
# ---------------------------------------------------------------------------

PAGE_K = 10


@register(
    "topk_search_after",
    oracle=f"""
WITH {QUERY_CTE},
ranked AS (
  SELECT e.vec_id,
         {score_sql("e.embedding::DOUBLE[]", "q.qv")} AS score
  FROM embeddings e CROSS JOIN q
  ORDER BY score DESC, e.vec_id
  LIMIT {PAGE_K} OFFSET {PAGE_K}
)
SELECT vec_id, score FROM ranked ORDER BY score DESC, vec_id
""",
)
def q_topk_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-after (keyset) pagination for the flagship query: page 2
    is fetched with the predicate ``score < last OR (score = last AND
    vec_id > last_id)`` over the LAST KEY of page 1 — never an OFFSET.
    At 100 TB an offset-n page re-ranks and discards the whole head
    (every partition still heaps n+k rows), while the keyset predicate
    is a plain filter that reaches the scan, so page cost stays O(k)
    per partition no matter how deep the user pages.  The total order
    (score DESC, vec_id ASC) makes the keyset unambiguous under ties.
    The oracle fetches the same page WITH an offset — certifying the
    keyset page is exactly the offset page, which is the correctness
    property pagination must preserve.  The page-1 boundary key is a
    bounded (1-row) driver value, the same device as the reference
    binding its query vector client-side (server.py:86,95)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vector_df(emb, QUERY_VEC_ID)
    scored = score_against(emb, q).select("vec_id", "score")
    page1 = topk(scored, PAGE_K, [F.desc("score"), F.asc("vec_id")])
    # boundary = page 1's LAST row in the total order: minimum score,
    # and the largest vec_id among its ties
    last = page1.orderBy(F.asc("score"), F.desc("vec_id")).first()
    after = scored.where(
        (F.col("score") < last["score"])
        | ((F.col("score") == last["score"]) & (F.col("vec_id") > last["vec_id"]))
    )
    return topk(after, PAGE_K, [F.desc("score"), F.asc("vec_id")])
