"""Custom Python data source: partition planning must mirror the
file's row groups and the scan must reproduce the JVM reader's rows."""

from __future__ import annotations

from mcp_server_vector_search_spark.cache import scratch_dir
from mcp_server_vector_search_spark.sources.pysource import (
    RowGroupReader,
    register_pysource,
)

from .conftest import SF_CORRECTNESS


def test_partitions_are_row_groups():
    import pyarrow.parquet as pq

    path = f"{SF_CORRECTNESS}/documents.parquet"
    reader = RowGroupReader(path)
    assert len(reader.partitions()) == pq.ParquetFile(path).metadata.num_row_groups


def test_pysource_rows_match_native_scan(spark):
    path = f"{SF_CORRECTNESS}/documents.parquet"
    register_pysource(spark)
    via_py = spark.read.format("pyrowgroup").option("path", path).load()
    native = spark.read.parquet(path)
    assert via_py.schema == native.schema
    a = {tuple(r) for r in via_py.collect()}
    b = {tuple(r) for r in native.collect()}
    assert a == b and len(a) > 0


def test_pysource_column_projection(spark):
    """The columns option must prune at the column-chunk level and
    reproduce the JVM reader's values for the projected columns, in
    option order."""
    path = f"{SF_CORRECTNESS}/documents.parquet"
    register_pysource(spark)
    via_py = (
        spark.read.format("pyrowgroup")
        .option("path", path)
        .option("columns", "lang,n_chars")
        .load()
    )
    assert via_py.columns == ["lang", "n_chars"]
    native = spark.read.parquet(path).select("lang", "n_chars")
    assert sorted(map(tuple, via_py.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_pysource_unknown_column_fails_at_planning(spark):
    import pytest as _pytest

    register_pysource(spark)
    with _pytest.raises(Exception, match="nope|KeyError|Field"):
        (
            spark.read.format("pyrowgroup")
            .option("path", f"{SF_CORRECTNESS}/documents.parquet")
            .option("columns", "lang,nope")
            .load()
            .collect()
        )


def test_pyjsonl_writer_abort_leaves_nothing_visible(spark):
    """A failed write job must call the writer's abort hook: no
    committed .jsonl files, no _MANIFEST — rename-on-commit means a
    crashed job can never expose partial output to readers."""
    import glob

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from mcp_server_vector_search_spark.sources.pysource import register_pyjsonl

    register_pyjsonl(spark)

    @F.udf(LongType())
    def boom(x):
        if x == 7:
            raise RuntimeError("planted task failure")
        return x

    out_dir = scratch_dir("pyjsonl_abort_")
    df = spark.range(0, 16, 1, 4).select(boom("id").alias("event_id"))
    with pytest.raises(Exception):
        df.write.format("pyjsonl").mode("append").option("path", out_dir).save()
    assert glob.glob(f"{out_dir}/*.jsonl") == []
    assert glob.glob(f"{out_dir}/_MANIFEST") == []


def test_pyjsonl_sweep_is_job_scoped():
    """Two concurrent append jobs on one path must not delete each
    other's in-flight temp files (ADVICE r11): each writer's sweep
    matches only its own per-job uuid prefix."""
    import glob

    from mcp_server_vector_search_spark.sources.pysource import JsonlSinkWriter

    out_dir = scratch_dir("pyjsonl_concurrent_")

    class _Row:
        def asDict(self):
            return {"x": 1}

    a = JsonlSinkWriter({"path": out_dir})
    b = JsonlSinkWriter({"path": out_dir})
    msg_a = a.write(iter([_Row()]))  # a's in-flight tmp
    b.write(iter([_Row()]))  # b's in-flight tmp
    # b finishes (commit with no surviving messages -> orphan sweep);
    # a's file must survive, b's own orphan must be gone
    b.commit([])
    assert glob.glob(f"{out_dir}/part-{a._job}-*.jsonl.tmp") == [msg_a.path]
    assert glob.glob(f"{out_dir}/part-{b._job}-*.jsonl.tmp") == []


def test_polymorphic_udtf_rejects_bad_arity(spark):
    """The analyze protocol runs at PLAN time: a non-positive n must
    fail resolution (AnalysisException), never reach executors."""
    import pytest
    from pyspark.errors import AnalysisException

    from mcp_server_vector_search_spark.operators.extensions import (
        _FirstTokensUDTF,
    )

    spark.udtf.register("first_tokens_neg_test", _FirstTokensUDTF)
    with pytest.raises(AnalysisException):
        spark.sql("SELECT * FROM first_tokens_neg_test('a b c', 0)").collect()


def test_python_datasource_lookup_survives_child_session(spark):
    """``createDataFrame`` on a child session sets the JVM
    thread-active session WITHOUT restoring it (pyspark
    session.py:1533), and Spark 4 resolves PYTHON data sources through
    ``SparkSession.getActiveSession`` — so a ``pyjsonl`` write issued
    after any child-session query on the same thread used to die with
    DATA_SOURCE_NOT_FOUND (caught by /verify r11: the
    transformWithState row before the sink row in one session).  The
    register_* helpers now pin the target session as active."""
    import glob

    from mcp_server_vector_search_spark.sources.pysource import register_pyjsonl

    child = spark.newSession()
    child.createDataFrame([(1,)], "x long").collect()  # leaks child as active
    register_pyjsonl(spark)
    out_dir = scratch_dir("pyjsonl_child_")
    spark.range(3).write.format("pyjsonl").mode("append").option(
        "path", out_dir
    ).save()
    assert len(glob.glob(f"{out_dir}/*.jsonl")) >= 1
