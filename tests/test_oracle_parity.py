"""The driver-gate rehearsal: every registered query vs its DuckDB oracle.

Parametrized over the registry so newly added operators are picked up
automatically; queries registered without an oracle get a rows-run
smoke check instead (mirroring the driver's weaker rows-only record).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from mcp_server_vector_search_spark import registry

from .conftest import SF_CORRECTNESS
from .oracle import compare, duckdb_connection

registry.load_all_operators()

# Oracle row digests (``scripts/gen_oracle_digests.py``): a rewrite of
# oracle text must leave every oracle's rows unchanged.
DIGESTS = json.loads(
    (Path(__file__).parent / "fixtures" / "oracle_digests.json").read_text()
)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_connection(SF_CORRECTNESS)
    yield con
    con.close()


def scalar_output_problems(df) -> list[str]:
    """Driver output contract (VERDICT r11 what's-wrong 1/2): the driver
    canonicalizes results via a pandas sort over all columns, which
    cannot factorize array/map/struct values — a top-level complex
    column errors the row even when the values match the oracle.
    Every registered query must emit pandas-sortable scalars only;
    serialize (to_json) or posexplode anything nested."""
    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_parity(name, spark, oracle_con):
    df = registry.QUERIES[name](spark, SF_CORRECTNESS)
    bad = scalar_output_problems(df)
    assert not bad, (
        f"{name}: top-level complex output columns break the driver's "
        f"canonicalizer (r11 red-row failure mode): {bad}"
    )
    oracle = registry.oracles().get(name)
    if oracle is not None:
        problems, digest = compare(df, oracle_con, oracle)
        assert not problems, f"{name}: " + "; ".join(problems)
        assert digest == DIGESTS.get(name), (
            f"{name}: oracle rows differ from tests/fixtures/oracle_digests.json"
        )
    else:
        # rows-only check (approximate operators) — must run and be well-formed
        rows = df.collect()
        assert rows is not None and len(df.columns) > 0


def test_scalar_output_guard_trips_on_complex_columns(spark):
    """The guard itself must go red on the r11 failure shape."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"))
    assert scalar_output_problems(df) == ["a: array<int>"]
    df2 = spark.range(1).select(F.struct(F.lit(1).alias("x")).alias("s"))
    assert scalar_output_problems(df2)
    df3 = spark.range(1).select(F.lit(1).alias("k"))
    assert scalar_output_problems(df3) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark).collect()
    assert len(out) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
