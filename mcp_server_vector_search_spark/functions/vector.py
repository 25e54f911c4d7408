"""Vector distance column expressions — pure JVM higher-order functions.

This is the engine's replacement for the similarity scoring the
reference delegates to Neo4j's vector index
(reference: servers/mcp_neo4j_vector_search/server.py:87-88; cosine
configured at README.md:77).  Everything here is a Catalyst expression
built from ``zip_with`` / ``aggregate`` — whole-stage-codegen
eligible, no Python round trip, which is what keeps a 100 TB scoring
scan on the JVM fast path instead of a per-row Python UDF.

All arithmetic is done in DOUBLE (elements cast on entry) so results
are bit-comparable with the DuckDB oracle, which is also made to
compute in double (``embedding::DOUBLE[]``).
"""

from __future__ import annotations

from typing import Iterable, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _c(col: ColumnOrName) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def _sql_array(values: Iterable[float]) -> str:
    """SQL text of an array<double> literal.  ``repr`` emits shortest
    round-tripping decimals and the D suffix parses them as doubles, so
    the values are bit-identical to per-element ``F.lit(float(v))``."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in values) + ")"


def vector_lit(values: Iterable[float]) -> Column:
    """A literal query vector as an array<double> column.

    The Spark analog of the reference binding the prompt embedding as the
    ``$prompt_embeddings`` Cypher parameter (server.py:86,95): a constant
    folded into the plan, shipped once with the task binary, never joined.
    Built from ONE SQL-parsed expression (see ``matrix_lit``).
    """
    return F.expr(_sql_array(values))


def matrix_lit(rows: Iterable[Iterable[float]]) -> Column:
    """A literal array<array<double>> built from ONE SQL-parsed
    expression.  Per-element ``F.lit`` construction costs a py4j round
    trip each — a quantizer plan with 5k literal elements spends ~3-5 s
    of DRIVER time just building the plan; the JVM SQL parser does the
    same in milliseconds."""
    return F.expr("array(" + ",".join(_sql_array(row) for row in rows) + ")")


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two array<numeric> columns, computed in double.

    Sequential left-to-right summation (matches DuckDB's
    ``list_dot_product`` evaluation order, so doubles agree bitwise).
    """
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def l2_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    diffs = F.zip_with(
        _c(a),
        _c(b),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """cos(a, b) in [-1, 1]; null-safe on zero-norm vectors."""
    denom = l2_norm(a) * l2_norm(b)
    return dot(a, b) / F.nullif(denom, F.lit(0.0))


def _sql_dot(a: str, b: str) -> str:
    """SQL text of ``dot(a, b)``: the same zip_with/aggregate tree."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def neo4j_score(
    a: ColumnOrName, b: Union[ColumnOrName, Sequence[float]]
) -> Column:
    """Neo4j's cosine-index score normalization ``(1 + cos) / 2`` in [0, 1].

    A cosine-configured Neo4j vector index yields this normalized score
    (reference: README.md:77 `vector.similarity_function: 'cosine'`;
    public Neo4j 5.x docs).  Kept as a distinct function because the
    [0, 1] range and DESC ordering are semantic commitments of the
    reference's output (server.py:88-90).

    ``b`` is a column, or a literal query vector (a sequence of floats)
    scored against the column NAMED ``a``.  The literal form emits the
    same expression tree as the column form from one SQL string: one
    parse instead of ~100 py4j calls building six Python-lambda HOFs
    and a per-element literal array.
    """
    if isinstance(b, (Column, str)):
        return (F.lit(1.0) + cosine_similarity(a, b)) / F.lit(2.0)
    if not isinstance(a, str):
        raise TypeError("a literal query vector is scored against a column name")
    col, q = f"`{a}`", _sql_array(b)
    return F.expr(
        f"(1.0D + {_sql_dot(col, q)} / nullif(sqrt({_sql_dot(col, col)})"
        f" * sqrt({_sql_dot(q, q)}), 0.0D)) / 2.0D"
    )


def l2_normalize(a: ColumnOrName) -> Column:
    """Unit-normalize an array column (null on zero vectors).

    On unit vectors ``l2² = 2 - 2·cos``, a monotone map — this is what
    lets Euclidean LSH (MLlib BucketedRandomProjectionLSH) answer
    cosine-ANN queries (SURVEY.md §4.3.2).
    """
    n = F.nullif(l2_norm(a), F.lit(0.0))
    return F.transform(_c(a), lambda x: x.cast("double") / n)


def dim_check(a: ColumnOrName, dim: int) -> Column:
    """Boolean predicate: vector has exactly ``dim`` elements.

    Distributed analog of the reference's double dimension validation
    (server.py:55-56, server.py:80-84).
    """
    return F.size(_c(a)) == F.lit(dim)
