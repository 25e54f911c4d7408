"""Scratch ownership: every directory and memory-sink view a query
leaves behind is removed by ``cache.release_scratch()`` — also when the
query raised halfway — and no module outside ``cache.py`` hand-rolls
its own temp dirs or deletes them, or registers a fixed view, function
or variable name."""

from __future__ import annotations

import ast
import re
import tempfile
from pathlib import Path

import pytest

from mcp_server_vector_search_spark import cache
from mcp_server_vector_search_spark.registry import QUERIES, load_all_operators
from mcp_server_vector_search_spark.streaming import ingest

from .conftest import SF_SMOKE

PACKAGE = Path(cache.__file__).parent


@pytest.fixture
def scratch_roots(tmp_path, monkeypatch):
    """Point the scratch root and Python's temp dir at empty dirs, so
    anything a query leaves on disk shows up in one of them."""
    root, tmp = tmp_path / "root", tmp_path / "tmp"
    root.mkdir()
    tmp.mkdir()
    cache.release_scratch()
    monkeypatch.setattr(cache, "_ROOT", str(root), raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    load_all_operators()
    return root, tmp


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _leftovers(*dirs: Path) -> list[str]:
    return sorted(p.name for d in dirs for p in d.iterdir())


def test_release_scratch_leaves_no_dir_and_no_sink_view(spark, scratch_roots):
    views = _temp_views(spark)
    for name in (
        "streaming_tumbling_counts",
        "streaming_index_append",
        "source_roundtrip_formats",
    ):
        assert QUERIES[name](spark, SF_SMOKE).count() > 0
    cache.release_scratch()
    assert _leftovers(*scratch_roots) == []
    assert _temp_views(spark) == views


def test_release_scratch_after_a_query_that_raised(spark, scratch_roots, monkeypatch):
    monkeypatch.setattr(ingest, "data_batches", lambda q: 0)
    views = _temp_views(spark)
    with pytest.raises(AssertionError, match="span micro-batches"):
        QUERIES["streaming_join_static"](spark, SF_SMOKE)
    cache.release_scratch()
    assert _leftovers(*scratch_roots) == []
    assert _temp_views(spark) == views


def test_scratch_is_made_and_removed_only_by_its_owners():
    """``mkdtemp`` appears only in cache.py; ``rmtree`` only in cache.py,
    artifacts.py (its publish protocol) and ann.replace_partitions (an
    index layout's cell rewrite)."""
    found: dict[str, set[str]] = {"mkdtemp": set(), "rmtree": set()}
    for f in PACKAGE.rglob("*.py"):
        text = f.read_text()
        for word in found:
            if re.search(rf"\b{word}\b", text):
                found[word].add(f.relative_to(PACKAGE).as_posix())
    assert found["mkdtemp"] == {"cache.py"}
    assert found["rmtree"] == {"cache.py", "artifacts.py", "operators/ann.py"}
    tree = ast.parse((PACKAGE / "operators" / "ann.py").read_text())
    deleting = {
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(n, ast.Attribute) and n.attr == "rmtree" for n in ast.walk(fn)
        )
    }
    assert deleting == {"replace_partitions"}


def test_query_keeps_the_callers_view_of_the_same_name(spark):
    """A query's input views are scratch: a caller's own ``orders``
    view survives ``agg_grouping_sets``, which reads the orders table
    through SQL text, and the query's view is gone after release."""
    from mcp_server_vector_search_spark.operators.relational import agg_grouping_sets

    spark.range(3).createOrReplaceTempView("orders")
    try:
        before = _temp_views(spark)
        assert agg_grouping_sets(spark, SF_SMOKE).count() > 0
        assert spark.table("orders").count() == 3
        cache.release_scratch()
        assert _temp_views(spark) == before
    finally:
        spark.catalog.dropTempView("orders")


def test_temp_views_are_registered_only_by_their_owners():
    """Only cache.py (scratch views), sources/tables.register_views
    (registering table names is its job) and the search facade (its
    corpus view, dropped by ``close()``) register temp views; a query
    that registered a fixed name would replace the caller's view."""
    found = {
        f.relative_to(PACKAGE).as_posix()
        for f in PACKAGE.rglob("*.py")
        if re.search(r"\.create(OrReplace)?(Global)?TempView\(", f.read_text())
    }
    assert found == {"cache.py", "sources/tables.py", "engine.py"}


def test_query_keeps_the_callers_function_and_variable(spark):
    """A query's SQL UDF, session variable and UDTFs are scratch: a
    caller's own ``discounted`` function and ``var_avg_price`` variable
    survive the queries that once used those names, and none of the
    queries' functions or variables remain after release."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION discounted(p DOUBLE) "
        "RETURNS DOUBLE RETURN p * 2"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE var_avg_price DOUBLE DEFAULT 7.0")
    try:
        cache.release_scratch()
        for name in (
            "scalar_sql_udf",
            "scalar_session_variables",
            "udtf_tokenize",
            "udtf_polymorphic_schema",
            "udtf_table_argument",
        ):
            QUERIES[name](spark, SF_SMOKE).collect()
        made = [(kind, name) for kind, _, name in cache._OBJECTS if kind != "view"]
        assert sorted(kind for kind, _ in made) == ["function"] * 4 + ["variable"]
        row = spark.sql("SELECT discounted(1.5) AS d, var_avg_price AS v").first()
        assert (row["d"], row["v"]) == (3.0, 7.0)
        cache.release_scratch()
        for kind, name in made:
            with pytest.raises(Exception, match="NOT_FOUND"):
                spark.sql(f"DROP TEMPORARY {kind.upper()} {name}")
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS discounted")
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS var_avg_price")


def test_session_objects_are_named_only_by_their_owner():
    """Temporary functions, session variables and UDTF registrations
    take their names from ``cache.scratch_function`` /
    ``scratch_variable``: outside cache.py no fixed name follows
    ``TEMPORARY FUNCTION`` or ``DECLARE VARIABLE``, and no string
    literal is passed to ``udtf.register``."""
    fixed = re.compile(
        r"TEMPORARY\s+FUNCTION\s+(IF\s+NOT\s+EXISTS\s+)?\w"
        r"|DECLARE\s+(OR\s+REPLACE\s+)?VARIABLE\s+(IF\s+NOT\s+EXISTS\s+)?\w"
        r"|\.udtf\.register\(\s*[\"']"
    )
    found = {
        f.relative_to(PACKAGE).as_posix()
        for f in PACKAGE.rglob("*.py")
        if f.name != "cache.py" and fixed.search(f.read_text())
    }
    assert found == set()
