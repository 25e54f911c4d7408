"""Query/oracle registry wired into ``__spark_entry__.py``.

Every operator registers a named query (``fn(spark, sf_dir) ->
DataFrame``) and the equivalent DuckDB oracle SQL.  Approximate
operators (IVF/PQ/SRP ANN) are oracle-checked too: their training
stages are deterministic driver-side numpy, re-run on the first
``oracle_sql()`` call and folded into the SQL as literals (see
functions/train.py).  A query registered with ``oracle=None``, or whose
oracle generator finds its testdata missing, falls back to the driver's
weaker rows-only record.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
OracleSource = Union[str, Callable[[], str]]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, OracleSource] = {}
_RESOLVED: dict[str, Optional[str]] = {}


def register(name: str, oracle: Optional[OracleSource] = None):
    """Decorator: register ``fn(spark, sf_dir)`` under ``name``.

    ``oracle`` is ANSI-ish SQL DuckDB can run against the pre-registered
    testdata views, or a zero-arg generator returning that SQL (run on
    the first :func:`oracles` call, never at import); column
    names/aliases MUST match the Spark result (the driver sorts columns
    by name before value-hashing).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def oracles() -> dict[str, str]:
    """name -> oracle SQL, in registration order; each generator runs
    once per process.

    A generator whose input files are missing (pyarrow's
    ``FileNotFoundError``, DuckDB ``read_parquet``'s ``IOException``)
    leaves its query rows-only; any other error propagates, so a broken
    generator cannot silently drop its oracle."""
    import duckdb

    for name, source in ORACLES.items():
        if name in _RESOLVED:
            continue
        try:
            _RESOLVED[name] = source() if callable(source) else source
        except (FileNotFoundError, duckdb.IOException):
            _RESOLVED[name] = None
    return {n: _RESOLVED[n] for n in ORACLES if _RESOLVED[n] is not None}


def load_all_operators() -> None:
    """Import every operator module so registrations run."""
    from .operators import (  # noqa: F401
        analytics,
        ann,
        clustering,
        components,
        coreset,
        curation,
        data_selection,
        dedup,
        engine_queries,
        extensions,
        graph_ann,
        hybrid,
        ivfpq,
        late_interaction,
        lifecycle,
        linalg,
        matryoshka,
        opq,
        pipeline,
        pq,
        relational,
        sampling,
        scale,
        similarity_join,
        sq,
        temporal,
        text_analysis,
        timeseries,
        topk,
        tpch_extra,
        tpch_wave4,
        tpch_wave5,
        vsearch_extra,
        web_curation,
        windows,
    )
    from .sources import (  # noqa: F401
        avro_source,
        formats,
        layout,
        multimodal,
        pysource,
    )
    from .streaming import ingest, stateful  # noqa: F401
