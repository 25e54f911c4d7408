"""Source/sink format surface: CSV, JSON, ORC round-trips and the
partitioned-parquet sink + pruned scan.

The reference's only "source" is a Neo4j bolt result set and its only
"sink" a JSON string (reference server.py:60-64); a Spark-native engine
speaks the lake formats.  Each operator here WRITES with one format's
sink and READS it back before aggregating, so both directions are
exercised and the result stays oracle-checkable against the original
table (round-trip fidelity is part of what's being tested: schema-pinned
reads, not schema inference, so CSV/JSON types survive).

Scale notes: CSV/JSON are row formats — no column pruning, no predicate
pushdown, no min/max skipping; the same query on parquet/ORC scans a
fraction of the bytes.  They exist as interchange formats, and the
partitioned-parquet sink is the layout the engine actually serves from
(partition pruning = the poor man's index, same design as the IVF
layout in operators/ann.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import scratch_dir, scratch_persist
from ..registry import register
from ..sources.tables import load_table

_AGG_SQL = """
SELECT '{fmt}' AS fmt, l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY l_returnflag
"""

FORMATS = ("csv", "json", "orc")


def _roundtrip(df: DataFrame, fmt: str, path: str) -> DataFrame:
    """Write ``df`` with the ``fmt`` sink, read it back schema-pinned
    (schema inference would be a second source of truth)."""
    df.write.format(fmt).mode("overwrite").save(path)
    reader = df.sparkSession.read.format(fmt).schema(df.schema)
    return reader.load(path)


def _agg(df: DataFrame, fmt: str) -> DataFrame:
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias(
            "sum_qty"
        ),
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).cast("double").alias(
            "sum_price"
        ),
    ).select(F.lit(fmt).alias("fmt"), "*")


@register(
    "source_roundtrip_formats",
    oracle=" UNION ALL ".join(_AGG_SQL.format(fmt=f) for f in FORMATS),
)
def source_roundtrip_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read → aggregate through each row/column format; every
    per-format aggregate must equal the original table's (loss anywhere
    in a sink/source pair breaks the oracle match).

    The three sink jobs are independent, so they are submitted from
    threads — Spark's scheduler interleaves their tasks across the same
    executors (the standard concurrent-jobs pattern), turning three
    sequential I/O waits into one.  The projected input is persisted
    once: three writes + three read-back aggregates would otherwise
    re-scan the source six times."""
    from concurrent.futures import ThreadPoolExecutor

    cols = ["l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols).transform(scratch_persist)
    li.count()  # materialize once before the concurrent writers fork
    tmp = scratch_dir("fmt_roundtrip_")
    with ThreadPoolExecutor(max_workers=len(FORMATS)) as pool:
        back = list(
            pool.map(lambda fmt: _roundtrip(li, fmt, f"{tmp}/{fmt}"), FORMATS)
        )
    parts = [_agg(df, fmt) for df, fmt in zip(back, FORMATS)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "sink_partitioned_pruned_scan",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def sink_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-parquet sink, then a scan that prunes to ONE
    partition directory (PartitionFilters in the plan — asserted in
    tests/test_plans.py).  At 100 TB this is the difference between
    reading a status's slice and reading the table."""
    o = load_table(spark, sf_dir, "orders")
    tmp = scratch_dir("part_sink_")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(f"{tmp}/orders")
    back = spark.read.parquet(f"{tmp}/orders")
    return (
        back.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias(
                "sum_price"
            ),
        )
    )


@register(
    "source_schema_evolution",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_priority
FROM (
  SELECT o_orderkey, o_orderstatus, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderstatus
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet generations: generation 1 writes
    two columns, generation 2 adds ``o_orderpriority``; a
    ``mergeSchema`` read unions the physical schemas and fills the
    missing column with nulls for old files — the standard lake
    pattern for adding a column without rewriting history.  The
    aggregate proves both generations arrived intact (row counts per
    status, null count localized to generation 1).  At scale the
    merged-schema read costs one footer pass; no data rewrite."""
    o = load_table(spark, sf_dir, "orders")
    tmp = scratch_dir("schema_evo_")
    gen1 = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    gen2 = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    gen1.write.mode("overwrite").parquet(f"{tmp}/t/gen=1")
    gen2.write.mode("overwrite").parquet(f"{tmp}/t/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{tmp}/t/gen=1", f"{tmp}/t/gen=2"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.col("o_orderpriority").isNull().cast("bigint")
        ).alias("n_missing_priority"),
    )


@register(
    "source_csv_quoted_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(LENGTH(SUBSTR(text, 1, 20) || '",' || CHR(10) || SUBSTR(text, 21, 20))
            AS INTEGER) AS n_chars,
       md5(SUBSTR(text, 1, 20) || '",' || CHR(10) || SUBSTR(text, 21, 20))
         AS content_md5
FROM documents
ORDER BY doc_id
""",
)
def source_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV EDGE semantics: every row's text is rebuilt to contain an
    embedded double quote, a comma, and a NEWLINE — the three things
    naive CSV handling corrupts — then written through the CSV sink and
    read back with ``multiLine`` + schema pinning.  The oracle computes
    length + md5 of the constructed string directly from the source
    table, so any quoting/escaping/line-splitting defect in the
    write→read pair breaks the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    tricky = F.concat(
        F.substring("text", 1, 20),
        F.lit('",\n'),
        F.substring("text", 21, 20),
    ).alias("tricky")
    df = docs.select("doc_id", tricky)
    tmp = scratch_dir("csv_quoted_")
    # the CSV WRITER trims leading/trailing whitespace by default
    # (ignore*WhiteSpace default true on write, false on read) — a
    # trailing-space field would silently shrink through the roundtrip
    (
        df.write.format("csv")
        .mode("overwrite")
        .option("header", "false")
        .option("quoteAll", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .save(tmp)
    )
    back = (
        spark.read.format("csv")
        .schema("doc_id long, tricky string")
        .option("multiLine", "true")
        .load(tmp)
    )
    return back.select(
        "doc_id",
        F.length("tricky").alias("n_chars"),
        F.md5(F.encode("tricky", "utf-8")).alias("content_md5"),
    ).orderBy("doc_id")


@register(
    "source_xml_roundtrip",
    oracle="""
SELECT n_nationkey,
       n_name,
       comment_text,
       CAST(nk_xpath AS BIGINT) AS nk_xpath
FROM (
  SELECT n_nationkey, n_name,
         '&<>"' || n_name AS comment_text,
         n_nationkey AS nk_xpath
  FROM nation
)
ORDER BY n_nationkey
""",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink (built into Spark 4 — no external
    package): nation rows with a deliberately hostile text column
    (leading ``&<>\"`` forces entity escaping) are written as XML
    documents and read back with SCHEMA INFERENCE, so the roundtrip
    certifies writer escaping, reader unescaping, and type recovery
    (n_nationkey must come back integral, not string).  A second
    extraction path re-parses the written markup with ``xpath_long``
    — the query-time XML path API — and must agree with the typed
    column it rode in on.  XML is the interchange format of the
    feeds a 100 TB curation pipeline actually ingests (sitemaps,
    Wikipedia dumps, PubMed); the scan parallelizes per-file like any
    other FileFormat scan."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.concat(F.lit('&<>"'), F.col("n_name")).alias("comment_text"),
    )
    tmp = scratch_dir("xml_roundtrip_")
    n.write.mode("overwrite").option("rowTag", "nation").format("xml").save(tmp)
    back = spark.read.option("rowTag", "nation").format("xml").load(tmp)
    return (
        back.select(
            # inference widens integrals to bigint; cast back to the
            # table's int so the type-parity gate sees the same shape
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            "n_name",
            "comment_text",
            F.xpath_long(
                F.to_xml(F.struct(F.col("n_nationkey").alias("nk"))),
                F.lit("/ROW/nk"),
            ).alias("nk_xpath"),
        )
        .orderBy("n_nationkey")
    )
