"""Custom Python data source (Spark 4 ``pyspark.sql.datasource`` API):
a parquet reader whose INPUT PARTITIONS are the file's row groups.

The reference's only "source" is a Neo4j driver call (reference
`server.py:60-78`); this module demonstrates the engine's extension
surface for sources Spark has no built-in reader for (proprietary
formats, services, feeds).  The contract mirrors what every scalable
connector must provide:

- ``partitions()`` — planning-time work division.  Here: one input
  partition per parquet ROW GROUP, the natural parallel unit a real
  columnar connector exposes (footer metadata only — no data read at
  planning).
- ``read(partition)`` — executor-side, yields **pyarrow record
  batches** (the Arrow fast path: batches cross the Python↔JVM
  boundary columnar, never row-at-a-time Python objects).

Python sources are the engine's escape hatch, not its default path —
a format parquet/ORC/CSV/JDBC already covers should use the JVM
reader (predicate pushdown, codegen).  The value here is the
*pattern*: partition planning + Arrow-batch emission is exactly how
one wraps e.g. a tile server, a tape archive, or a bespoke binary
format into distributed scans.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_ARROW_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "binary": "binary",
    "large_binary": "binary",
    "timestamp[us]": "timestamp",
    "timestamp[ms]": "timestamp",
    "timestamp[ns]": "timestamp",
    "date32[day]": "date",
}


def _ddl_schema(path: str, columns: list[str] | None = None) -> str:
    """DDL schema string from the parquet footer (planning-time
    metadata read; no row data touched).  ``columns`` restricts and
    orders the projection — the connector's explicit column-pruning
    contract (the Python DataSource API has no automatic pruning hook
    in Spark 4.1, so projection pushdown is by configuration, exactly
    like a JDBC ``query`` option)."""
    import pyarrow.parquet as pq

    schema_arrow = pq.ParquetFile(path).schema_arrow
    if columns is not None:
        # Schema.field raises KeyError for a name not in the file —
        # a misprojected option fails at planning, never mid-scan
        schema_arrow = [schema_arrow.field(c) for c in columns]
    fields = []
    for f in schema_arrow:
        t = str(f.type)
        if t.startswith("list<item: ") and t.endswith(">"):
            inner = _ARROW_TO_DDL.get(t[len("list<item: ") : -1])
            if inner is None:
                raise ValueError(f"unsupported arrow list type: {t}")
            ddl = f"array<{inner}>"
        else:
            ddl = _ARROW_TO_DDL.get(t)
            if ddl is None:
                raise ValueError(f"unsupported arrow type: {t}")
        fields.append(f"{f.name} {ddl}")
    return ", ".join(fields)


class RowGroupPartition(InputPartition):
    def __init__(self, row_group: int):
        self.row_group = row_group


class RowGroupReader(DataSourceReader):
    def __init__(self, path: str, columns: list[str] | None = None):
        self.path = path
        self.columns = columns

    def partitions(self):
        import pyarrow.parquet as pq

        n = pq.ParquetFile(self.path).metadata.num_row_groups
        return [RowGroupPartition(i) for i in range(n)]

    def read(self, partition):
        import pyarrow.parquet as pq

        # Column pruning happens HERE, at the parquet column-chunk
        # level: unprojected chunks are never decompressed and never
        # cross the Arrow boundary.  On the documents table the text
        # column is ~98% of the bytes — for the registered aggregate
        # (lang, n_chars) the projected scan moves ~2% of the file.
        table = pq.ParquetFile(self.path).read_row_group(
            partition.row_group, columns=self.columns
        )
        yield from table.to_batches()


class RowGroupDataSource(DataSource):
    """``spark.read.format("pyrowgroup").option("path", ...)``; an
    optional comma-separated ``columns`` option projects at the
    parquet column-chunk level (see ``_ddl_schema``)."""

    def _columns(self) -> list[str] | None:
        cols = self.options.get("columns")
        return [c.strip() for c in cols.split(",")] if cols else None

    @classmethod
    def name(cls) -> str:
        return "pyrowgroup"

    def schema(self) -> str:
        return _ddl_schema(self.options["path"], self._columns())

    def reader(self, schema) -> DataSourceReader:
        return RowGroupReader(self.options["path"], self._columns())


def _pin_active_session(spark) -> None:
    """Spark 4 resolves PYTHON data sources through the JVM
    thread-local ACTIVE session (``DataSource.lookupDataSource``
    consults ``SparkSession.getActiveSession`` for user-defined
    sources), while ``spark.dataSource.register`` writes to the
    SPECIFIC session's DataSourceManager.  A query body that ran a
    child ``spark.newSession()`` earlier on this py4j thread leaves
    the CHILD active, so a later ``format("pyjsonl")`` save/load
    would consult the child's empty registry and die with
    DATA_SOURCE_NOT_FOUND (caught by /verify r11: tws row before the
    sink row in one session).  Pin the target session as active
    before every registration/lookup."""
    try:
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:  # pragma: no cover - connect mode: server-side lookup
        pass


def register_pysource(spark) -> None:
    """Idempotent registration of the custom format on a session."""
    _pin_active_session(spark)
    key = "__pyrowgroup_registered__"
    if not getattr(spark, key, False):
        spark.dataSource.register(RowGroupDataSource)
        setattr(spark, key, True)


from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from ..registry import register  # noqa: E402


@register(
    "source_python_datasource",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table read through the CUSTOM Python source, then
    aggregated — hash-matching the oracle's direct parquet read proves
    the source's partition planning and Arrow-batch emission preserve
    every row and value exactly.

    The aggregate runs JVM-side on the Arrow-materialized scan; only
    the scan itself crosses the Python boundary (batched, columnar) —
    which is the honest cost model for any Python-backed connector.
    The ``columns`` option projects to the two aggregated columns at
    the column-chunk level, so the text column (~98% of the file's
    bytes) is never decompressed — full-schema row fidelity is covered
    separately by tests/test_pysource.py.

    Cost profile (r6 bench regression investigated, r7): the steady
    cost of this scan is ~0.45 s; the ~3-5 s bench number is one-time
    Python-source worker + plan bootstrap, paid by whichever pyrowgroup
    read runs first in the session.  bench.py therefore warms the
    Python-source pool in its warmup step, the same amortization it
    already applies to the JVM."""
    from pyspark.sql import functions as F

    register_pysource(spark)
    d = (
        spark.read.format("pyrowgroup")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("columns", "lang,n_chars")
        .load()
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# STREAMING Python data source: the same extension surface, pointed at
# a feed.  ``simpleStreamReader`` is the pull-based variant: the
# DRIVER tracks an offset, each trigger pulls the next chunk, and
# ``readBetweenOffsets`` replays a committed range after restart —
# exactly the contract of a queue consumer (Kafka-shaped, minus the
# broker).  The simple reader trades executor-parallel reads for
# simplicity (data lands via the driver), which is the right shape for
# control-plane feeds (manifests, CDC notices) — a data-plane firehose
# would implement the partitioned ``streamReader`` instead; same
# planning/read split as the batch source above.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class ParquetTailStreamReader(SimpleDataSourceStreamReader):
    """Tails a parquet file as an ordered row feed: offset = rows
    consumed so far; each ``read`` serves the next ``chunk_rows``."""

    def __init__(self, path: str, chunk_rows: int) -> None:
        self._path = path
        self._chunk = chunk_rows
        self._table = None  # lazy; the reader pickles before first use

    def _load(self):
        if self._table is None:
            import pyarrow.parquet as pq

            self._table = pq.read_table(self._path)
        return self._table

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _rows(self, start_row: int, end_row: int):
        table = self._load().slice(start_row, end_row - start_row)
        cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
        return iter(list(zip(*cols)) if cols else [])

    def read(self, start: dict):
        n = self._load().num_rows
        lo = start["row"]
        if lo >= n:
            return iter([]), {"row": lo}
        hi = min(n, lo + self._chunk)
        return self._rows(lo, hi), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["row"], end["row"])


class ParquetTailDataSource(DataSource):
    """``spark.readStream.format("pytail")`` with ``path`` and
    ``chunk_rows`` options."""

    @classmethod
    def name(cls) -> str:
        return "pytail"

    def schema(self) -> str:
        return _ddl_schema(self.options["path"])

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return ParquetTailStreamReader(
            self.options["path"], int(self.options.get("chunk_rows", "1000"))
        )


def register_pytail(spark) -> None:
    """Idempotent registration of the streaming format on a session."""
    _pin_active_session(spark)
    key = "__pytail_registered__"
    if not getattr(spark, key, False):
        spark.dataSource.register(ParquetTailDataSource)
        setattr(spark, key, True)


@register(
    "source_python_stream_tail",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def source_python_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table replayed through the CUSTOM STREAMING Python
    source in ≥3 pulled chunks (chunk_rows = floor(n/3), asserted from
    progress counters), appended raw to a memory sink, then aggregated
    and hash-matched against the direct batch oracle — proving the
    offset bookkeeping neither drops, duplicates, nor reorders-with-
    loss any row across triggers.  Values fold as integer cents so the
    match is exact.  This closes the extension-surface matrix: batch
    Python source (`source_python_datasource`) / streaming Python
    source (this row), both Arrow/driver-fed, both oracle-checked."""
    from pyspark.sql import functions as F

    from ..cache import scratch_dir, scratch_view

    register_pytail(spark)
    # row count from the parquet footer (driver-side metadata read, no
    # Spark job) — the chunk sizing needs only the cardinality (r16).
    # Fixtures are single files today; fall back to summing per-file
    # footers if events ever becomes a multi-file parquet directory
    # (ADVICE r16 — the single-file read would silently undercount).
    import os as _os

    import pyarrow.parquet as pq

    _events = f"{sf_dir}/events.parquet"
    if _os.path.isfile(_events):
        n = pq.ParquetFile(_events).metadata.num_rows
    else:
        n = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in pq.ParquetDataset(_events).files
        )
    # floor, not ceil: ceil(n/3) yields only 2 chunks for n=4 (ADVICE
    # r9); floor guarantees ceil(n/chunk) >= 3 for every n >= 3.
    chunk = max(1, n // 3)
    stream = (
        spark.readStream.format("pytail")
        .option("path", f"{sf_dir}/events.parquet")
        .option("chunk_rows", str(chunk))
        .load()
    )
    name = scratch_view(spark, "pytail_")
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", scratch_dir("pytail_ckpt_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    data_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert data_batches >= 3, f"expected >=3 pulled chunks, got {data_batches}"
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.sum(F.col("value").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Python data source WRITER — the remaining extension-point: executor-
# side write tasks returning WriterCommitMessages and a driver-side
# commit that finalizes atomically (rename-on-commit, the same temp->
# final discipline FileStreamSink uses).  Together with the batch
# reader (`pyrowgroup`) and streaming reader (`pytail`) this closes the
# Python DataSource matrix: read/write x batch(/stream read).
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage  # noqa: E402


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, n: int) -> None:
        self.path = path
        self.n = n


class JsonlSinkWriter(DataSourceWriter):
    """Each task writes its partition to a ``.tmp`` JSONL file and
    reports (path, row_count); the driver-side ``commit`` renames the
    non-empty files into place and writes a ``_MANIFEST`` with the
    total — readers of the layout can verify exactly-once delivery
    against it.  ``abort`` removes the temp files, so a failed job
    leaves nothing visible.

    SHARED-FILESYSTEM ASSUMPTION (ADVICE r10): ``write`` runs on
    executors while ``commit``/``abort`` run on the driver and
    ``os.rename``/``os.remove`` the executor-written paths — correct
    only when driver and executors see one filesystem (local mode,
    NFS, or a FUSE-mounted object store).  On a real cluster with
    executor-local disks, point ``path`` at shared storage or swap the
    rename for a driver-side copy of task-shipped bytes.  Because
    ``abort`` only receives commit messages from tasks that RETURNED
    one, both finalizers also sweep any leftover temp files OF THIS JOB
    — failed attempts that never reported a message cannot strand
    invisible temp files.  Temp names carry a per-job uuid prefix
    (minted once driver-side in ``__init__``, shipped to every task via
    writer serialization) and the sweep matches only that prefix, so
    two concurrent append jobs on the same path cannot delete each
    other's in-flight files (ADVICE r11)."""

    def __init__(self, options) -> None:
        import uuid as _uuid

        self._dir = options["path"]
        self._job = _uuid.uuid4().hex

    def _sweep_orphan_tmps(self) -> None:
        import glob as _glob
        import os as _os

        pat = _os.path.join(self._dir, f"part-{self._job}-*.jsonl.tmp")
        for p in _glob.glob(pat):
            try:
                _os.remove(p)
            except OSError:
                pass

    def write(self, it):
        import json as _json
        import os as _os
        import uuid as _uuid

        p = _os.path.join(
            self._dir, f"part-{self._job}-{_uuid.uuid4().hex}.jsonl.tmp"
        )
        n = 0
        with open(p, "w") as f:
            for row in it:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(p, n)

    def commit(self, messages):
        import json as _json
        import os as _os

        total = 0
        for m in messages:
            if m.n:
                _os.rename(m.path, m.path[: -len(".tmp")])
                total += m.n
            else:
                _os.remove(m.path)
        # Retried/zombie attempts that never returned a commit message
        # leave .tmp files no message points at — sweep them so the
        # committed layout holds exactly the renamed parts + _MANIFEST.
        self._sweep_orphan_tmps()
        with open(_os.path.join(self._dir, "_MANIFEST"), "w") as f:
            f.write(_json.dumps({"rows": total}))

    def abort(self, messages):
        import os as _os

        for m in messages:
            try:
                _os.remove(m.path)
            except OSError:
                pass
        self._sweep_orphan_tmps()


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyjsonl"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return JsonlSinkWriter(self.options)


def register_pyjsonl(spark) -> None:
    _pin_active_session(spark)
    key = "__pyjsonl_registered__"
    if not getattr(spark, key, False):
        spark.dataSource.register(JsonlSinkDataSource)
        setattr(spark, key, True)


@register(
    "sink_python_datasource",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table written through the CUSTOM PYTHON SINK (4
    parallel write tasks -> rename-on-commit -> _MANIFEST), read back
    from the committed JSONL files, and aggregated: the result must
    hash-match the direct GROUP BY oracle (a dropped, duplicated, or
    uncommitted partition shifts n_events and id_sum), and the
    manifest total must equal the rows read back — the exactly-once
    receipt the commit protocol exists to provide."""
    import json as _json

    from pyspark.sql import functions as F

    from ..cache import scratch_dir
    from .tables import load_table

    register_pyjsonl(spark)
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    out_dir = scratch_dir("pyjsonl_sink_")
    events.repartition(4).write.format("pyjsonl").mode("append").option(
        "path", out_dir
    ).save()
    back = spark.read.schema("event_id bigint, event_type string").json(
        f"{out_dir}/*.jsonl"
    )
    n_back = back.count()
    manifest = _json.loads(open(f"{out_dir}/_MANIFEST").read())
    assert manifest["rows"] == n_back, (
        f"manifest {manifest['rows']} != rows read back {n_back}"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )
