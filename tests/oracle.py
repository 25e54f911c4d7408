"""DuckDB oracle harness mimicking the driver's correctness gate.

The driver runs each ``queries()[name]`` on Spark and ``oracle_sql()[name]``
on DuckDB at sf0.01, then compares row-count + schema + order-insensitive
value-hash with columns sorted by name (``__spark_entry__.py`` docstring).
This module reproduces that comparison so every registered query is
validated in CI before the driver ever sees it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb

from mcp_server_vector_search_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # absorb -0.0 vs 0.0 only; values themselves must match exactly
        return v + 0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canonical(rows: list, colnames: list[str]):
    """Rows as a sorted multiset with columns ordered by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    mat = [tuple(_norm(row[i]) for i in order) for row in rows]
    return sorted(mat, key=repr)


def rows_digest(rows: list, colnames: list[str]) -> str:
    """sha256 of the canonical rows, with the sorted column names: equal
    digests mean the same result set under the driver's comparison."""
    payload = repr((sorted(colnames), canonical(rows, colnames)))
    return hashlib.sha256(payload.encode()).hexdigest()


# DuckDB result type → acceptable Spark simpleString()s.  The driver's
# value-hash is type-sensitive (round-2 lesson: DuckDB SUM over integers
# yields HUGEINT where Spark yields BIGINT — values equal, hash differed),
# so the rehearsal must enforce type parity, not just value parity.
# TIMESTAMP admits both Spark timestamp flavors (parquet readers differ);
# an empty set (HUGEINT, UHUGEINT) means "no Spark equivalent — always flag".
_DUCK_TO_SPARK: dict[str, set[str]] = {
    "TINYINT": {"tinyint"},
    "SMALLINT": {"smallint"},
    "INTEGER": {"int"},
    "BIGINT": {"bigint"},
    "HUGEINT": set(),
    "UHUGEINT": set(),
    "FLOAT": {"float"},
    "DOUBLE": {"double"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "BLOB": {"binary"},
}


def _spark_equiv(duck_type: str) -> set[str] | None:
    """Acceptable Spark types for a DuckDB type string; None = unmapped
    (complex/nested types — value comparison still covers them)."""
    t = str(duck_type).upper()
    if t in _DUCK_TO_SPARK:
        return _DUCK_TO_SPARK[t]
    if t.startswith("DECIMAL"):
        return {t.lower().replace(" ", "")}
    if t.endswith("[]"):
        inner = _spark_equiv(t[:-2])
        if inner is None:
            return None
        return {f"array<{i}>" for i in inner}
    return None


def type_problems(spark_df, rel) -> list[str]:
    """Strict type-parity: every DuckDB output column's type must map to
    the Spark column's type (the driver hashes values type-sensitively)."""
    problems: list[str] = []
    s_types = {f.name: f.dataType.simpleString() for f in spark_df.schema.fields}
    for name, dt_ in zip(rel.columns, rel.types):
        ok = _spark_equiv(dt_)
        if ok is None or name not in s_types:
            continue
        if s_types[name] not in ok:
            problems.append(
                f"type mismatch on '{name}': duckdb={dt_} (maps to {sorted(ok) or 'nothing'})"
                f" vs spark={s_types[name]}"
            )
    return problems


def compare(
    spark_df, con: duckdb.DuckDBPyConnection, sql: str
) -> tuple[list[str], str]:
    """Return the mismatch descriptions (empty = parity) and the
    :func:`rows_digest` of the DuckDB rows."""
    problems: list[str] = []
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    d_rows = rel.fetchall()
    digest = rows_digest(d_rows, d_cols)

    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        return problems, digest
    problems.extend(type_problems(spark_df, rel))
    if len(s_rows) != len(d_rows):
        problems.append(f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}")
    sc, dc = canonical(s_rows, s_cols), canonical(d_rows, d_cols)
    if sc != dc:
        diff_s = [r for r in sc if r not in dc][:3]
        diff_d = [r for r in dc if r not in sc][:3]
        problems.append(
            f"value mismatch: {len([r for r in sc if r not in dc])} spark-only rows, "
            f"e.g. spark-only={diff_s} duckdb-only={diff_d}"
        )
    return problems, digest
