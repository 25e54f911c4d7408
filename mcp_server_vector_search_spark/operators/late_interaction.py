"""Late-interaction (MaxSim) retrieval — ColBERT-style multi-vector
search over token-level embeddings.

The reference serves single-vector cosine top-k (server.py:85-91); the
modern evolution of that capability keeps ONE VECTOR PER TOKEN and
scores a document as ``sum over query tokens of (max over doc tokens
of cos(q_i, d_j))`` — Khattab & Zaharia 2020's MaxSim, what ColBERT /
PLAID serve.  This module is the Spark-first form:

- doc-side token vectors are computed DISTRIBUTED (Arrow-batched UDF),
  but only once per DISTINCT token: a literal query's similarities
  factor through the vocabulary, so the embed + sims run on the
  distinct-token table and broadcast-join back to the (doc, token)
  stream — the heavy stream never carries a vector;
- query-side token vectors fold into the plan as a literal matrix
  (the reference's client-side embed discipline, server.py:78);
- the per-token similarity row is a JVM ``transform`` over that
  matrix; the per-document reduction is ``max`` partials per query
  slot + a final rounded sum — map-side combine does the heavy
  lifting, and the shuffle carries (doc_id, Q floats), never vectors.

Determinism contract (what makes the row value-hashable): token
vectors come from the md5-seeded generator with a PURE-SEQUENTIAL
float64 normalization, similarities fold left-to-right exactly like
``functions.vector.dot``'s ``F.aggregate``, and every comparison
happens on HALF_UP-rounded values — the oracle-time replication
(`_maxsim_expected`) runs the identical arithmetic, so the oracle
literals are bit-faithful (the ``lifecycle`` dim-1536 rows prove this
device end to end).

Scale notes: token-level indexes are ~32× larger than doc-level ones —
the production layout stores token vectors cell-partitioned like the
IVF family and prunes candidates with a doc-level first stage; here
the corpus is scanned once (the honest exact form), and the plan's
only shuffles are the (doc, token) dedup and the Q-float per-doc
rollup.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import dot, matrix_lit
from ..registry import register
from ..sources.tables import load_table

__all__ = ["maxsim_topk", "token_unit", "query_token_matrix", "token_unit_udf_factory"]

# single-sourced in functions.embedder next to token_unit (r13 advisor:
# two separate dim constants would silently desync the query token
# matrix from the doc token vectors); re-exported under the family name
from ..functions.embedder import MAXSIM_DIM  # noqa: E402

MAXSIM_DOC_TOKENS = 32  # first-N truncation, the ColBERT doc_maxlen knob
MAXSIM_QUERY = "spark window query join"
MAXSIM_K = 10
SIM_DECIMALS = 6


from ..functions.train import round6 as _round6  # noqa: E402


# token_unit lives in functions.embedder (light-import home): the vocab
# UDF below is pickled as a CLOSURE (by value), and its worker-side body
# imports only functions.embedder — a top-level UDF here would pickle by
# module reference and make every fresh worker import this module and
# the operator modules it pulls in.
from ..functions.embedder import token_unit  # noqa: E402


def token_unit_udf_factory():
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _token_unit_udf(toks: pd.Series) -> pd.Series:
        from mcp_server_vector_search_spark.functions.embedder import (
            token_unit as tu,
        )

        return toks.map(lambda t: tu(t))

    return _token_unit_udf


def query_token_matrix(query: str = MAXSIM_QUERY) -> list[list[float]]:
    return [token_unit(t) for t in query.split(" ")]


def maxsim_topk(
    docs: DataFrame, query: str = MAXSIM_QUERY, k: int = MAXSIM_K
) -> DataFrame:
    """(doc_id, score) top-k by MaxSim.  Stage shape: explode first-N
    tokens → global token-vocabulary distinct → Arrow embed + JVM sims
    ONLY on the vocabulary → broadcast join back to the (doc, token)
    stream → per-doc max per query slot (map-side combine) → rounded
    sum → TakeOrderedAndProject."""
    qmat = query_token_matrix(query)
    # per-doc token SET via array_distinct BEFORE the explode: MaxSim
    # is duplicate-insensitive, and deduping inside the row is a
    # map-side array op — no shuffle, fewer join-probe rows.
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.slice(F.split("text", " "), 1, MAXSIM_DOC_TOKENS))
        ).alias("tok"),
    )
    # MaxSim against a LITERAL query factors through the token
    # vocabulary: sim(tok, q_i) depends only on the token string, so
    # embed + the Q rounded dots run once per DISTINCT token instead of
    # once per (doc, token) occurrence — at sf0.1 that is 31 Arrow-UDF
    # rows instead of 93k (r13 bench: 3.5 s → ~0.1 s steady, identical
    # values since the per-token arithmetic is unchanged).  The
    # broadcast side is the vocab × Q-floats sims table — same bounded
    # posture as the TF-IDF vocab broadcast (text_analysis.py); for a
    # corpus whose vocabulary outgrows broadcast limits, drop the hint
    # and AQE plans a shuffle join with the same semantics.
    vsims = (
        toks.select("tok")
        .distinct()
        .withColumn("vec", token_unit_udf_factory()("tok"))
        .select(
            "tok",
            F.transform(
                matrix_lit(qmat), lambda qv: F.round(dot("vec", qv), SIM_DECIMALS)
            ).alias("sims"),
        )
    )
    sims = toks.join(F.broadcast(vsims), "tok").select("doc_id", "sims")
    maxes = sims.groupBy("doc_id").agg(
        *[
            F.max(F.element_at("sims", i + 1)).alias(f"m{i}")
            for i in range(len(qmat))
        ]
    )
    score = F.round(
        sum(F.col(f"m{i}") for i in range(len(qmat))), SIM_DECIMALS
    )
    return (
        maxes.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _maxsim_expected() -> list[tuple[int, float]]:
    """Oracle-side replication: identical token vectors, identical
    sequential dot fold, identical HALF_UP rounding."""
    import pyarrow.parquet as pq

    from ..functions.train import ORACLE_SF_DIR
    from ..functions.train import seq_dot as _seq_dot

    t = pq.read_table(f"{ORACLE_SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    qmat = query_token_matrix()
    cache: dict[str, list[float]] = {}
    scored: list[tuple[float, int]] = []
    for doc_id, text in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        toks = set((text or "").split(" ")[:MAXSIM_DOC_TOKENS])
        if not toks:
            continue
        maxes = [-2.0] * len(qmat)
        for tok in toks:
            vec = cache.get(tok)
            if vec is None:
                vec = cache[tok] = token_unit(tok)
            for i, qv in enumerate(qmat):
                s = _round6(_seq_dot(vec, qv))
                if s > maxes[i]:
                    maxes[i] = s
        acc = 0.0  # sequential fold, mirroring the Column `+` chain
        for m in maxes:
            acc += m
        scored.append((-_round6(acc), int(doc_id)))
    scored.sort()
    return [(doc_id, -neg) for neg, doc_id in scored[:MAXSIM_K]]


def _maxsim_oracle() -> str:
    expected = _maxsim_expected()
    from ..functions.train import sql_float

    values = ",\n  ".join(
        f"({d}, {sql_float(s)})" for d, s in expected
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(score AS DOUBLE) AS score
FROM (VALUES
  {values}
) AS t(doc_id, score)
ORDER BY score DESC, doc_id
"""


@register("semantic_search_maxsim", oracle=_maxsim_oracle)
def q_semantic_search_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction end to end: distributed doc-token
    embed, literal query-token matrix, per-doc MaxSim reduction, top-k
    — value-hashed against the sequential-arithmetic replication."""
    docs = load_table(spark, sf_dir, "documents")
    return maxsim_topk(docs)
