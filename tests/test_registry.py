"""Oracle registry contract: generators run on demand, once, and only a
missing-input error turns an oracle into a rows-only record."""

from __future__ import annotations

import json
import subprocess
import sys

import duckdb
import pytest

from mcp_server_vector_search_spark import registry

from .conftest import REPO_ROOT, SF_CORRECTNESS


def _fresh_python(code: str) -> dict:
    """Run ``code`` in a new interpreter at the repo root; it prints one
    JSON line as its last stdout line."""
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_load_all_operators_runs_no_oracle_generator():
    """Importing the operators reads no testdata and trains nothing: the
    oracle inputs (parquet reads, DuckDB, k-means) are trapped before
    import and must see zero calls."""
    got = _fresh_python("""
import json
import duckdb, pyarrow.dataset, pyarrow.parquet
from mcp_server_vector_search_spark.functions import train
calls = []
def trap(mod, name):
    real = getattr(mod, name)
    def f(*a, **k):
        calls.append(name)
        return real(*a, **k)
    setattr(mod, name, f)
for mod, name in ((train, "load_sorted_vectors"), (train, "kmeans"),
                  (pyarrow.parquet, "read_table"), (pyarrow.dataset, "dataset"),
                  (duckdb, "connect"), (duckdb, "sql")):
    trap(mod, name)
from mcp_server_vector_search_spark import registry
registry.load_all_operators()
print(json.dumps({"calls": calls,
                  "generators": sum(map(callable, registry.ORACLES.values()))}))
""")
    assert got["calls"] == [], f"oracle inputs touched at import: {got['calls']}"
    assert got["generators"] >= 72


def test_oracle_sql_without_testdata_keeps_static_oracles(tmp_path):
    """With the oracle testdata dir empty, ``oracle_sql()`` still returns:
    the generators that read it leave their queries rows-only, and every
    static-SQL oracle survives verbatim."""
    got = _fresh_python(f"""
import json
from mcp_server_vector_search_spark.functions import train
train.ORACLE_SF_DIR = {str(tmp_path)!r}
import __spark_entry__ as e
from mcp_server_vector_search_spark import registry
oracles = e.oracle_sql()
static = {{n: s for n, s in registry.ORACLES.items() if isinstance(s, str)}}
print(json.dumps({{"oracles": oracles, "static": static,
                  "registered": len(registry.ORACLES)}}))
""")
    oracles, static = got["oracles"], got["static"]
    assert static and all(oracles.get(n) == s for n, s in static.items())
    assert len(static) < len(oracles) < got["registered"]


@pytest.fixture
def scratch_registry(monkeypatch):
    """An empty registry, so test registrations never leak."""
    for attr in ("QUERIES", "ORACLES", "_RESOLVED"):
        monkeypatch.setattr(registry, attr, {})
    return registry


def _query(spark, sf_dir):  # never run
    raise AssertionError


@pytest.mark.parametrize(
    "exc", [FileNotFoundError("x.parquet"), duckdb.IOException("No files found")]
)
def test_missing_input_leaves_query_rows_only(scratch_registry, exc):
    def gen():
        raise exc

    scratch_registry.register("absent", oracle=gen)(_query)
    scratch_registry.register("static", oracle="SELECT 1 AS x")(_query)
    assert scratch_registry.oracles() == {"static": "SELECT 1 AS x"}
    assert set(scratch_registry.QUERIES) == {"absent", "static"}


def test_generator_error_propagates(scratch_registry):
    """A broken generator must fail loudly, not silently drop its oracle."""

    def gen():
        raise ValueError("bad literal")

    scratch_registry.register("broken", oracle=gen)(_query)
    with pytest.raises(ValueError, match="bad literal"):
        scratch_registry.oracles()


def test_generators_run_once(scratch_registry):
    calls = []

    def gen():
        calls.append(1)
        return "SELECT 2 AS y"

    scratch_registry.register("lazy", oracle=gen)(_query)
    assert calls == []
    assert scratch_registry.oracles() == scratch_registry.oracles() == {
        "lazy": "SELECT 2 AS y"
    }
    assert calls == [1]


def test_shared_oracle_inputs_are_read_only():
    from mcp_server_vector_search_spark.functions.train import load_sorted_vectors
    from mcp_server_vector_search_spark.operators.ann import oracle_centroids

    ids, x = load_sorted_vectors(SF_CORRECTNESS)
    assert load_sorted_vectors(SF_CORRECTNESS)[1] is x
    with pytest.raises(ValueError):
        x[0, 0] = 0.0
    with pytest.raises(TypeError):
        ids[0] = -1
    assert isinstance(oracle_centroids(), tuple)
