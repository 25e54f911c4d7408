"""Parquet table loaders for the driver testdata layout.

The reference's store is a Neo4j property graph, of which it uses one
logical table ``documents(name, description, embedding[1536])``
(reference: servers/mcp_neo4j_vector_search/server.py:85-91, README.md:72-79).
Our store is columnar Parquet — scans get column pruning and predicate
pushdown from the format, the two things a 100 TB scan lives on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EMBEDDING_DIM = 64  # testdata embedding dimension (reference uses 1536; dim is a parameter, not a constant — see SURVEY.md §1.4)


def table_path(sf_dir: str, name: str) -> str:
    """The parquet path of one testdata table."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one testdata table.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations, both normalized here to a session-tz TIMESTAMP so every
    downstream consumer (``unix_micros``, ``withWatermark``, ``F.window``)
    sees one type:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it by
      default; we read it as INT64 nanos (legacy conf, runtime-settable)
      and truncate to microseconds — matching how DuckDB reads the file.
    - parquet ``timestamp[us]`` (no tz): Spark infers TIMESTAMP_NTZ,
      which event-time and epoch functions reject.  Under the session's
      UTC timezone (session.py:48) a cast to TIMESTAMP is an exact
      relabel of the same wall-clock instant — identical to DuckDB's
      naive-timestamp reading — so no value shifts.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small-file scan across all cores BEFORE
    CPU-heavy per-row expressions (tokenize / shingle / hash / embed).

    The testdata tables are single parquet files → one input split, so
    without this every downstream map-side expression runs on one core.
    GATED on the actual split count: a 100 TB scan already has thousands
    of splits, and an unconditional repartition there would be a full
    corpus shuffle for nothing — wide scans pass through untouched.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-text operators can run."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
