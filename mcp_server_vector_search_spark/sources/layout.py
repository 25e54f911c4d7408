"""Physical data layout at scale: sort-within-files for row-group
skipping, and small-file compaction.

Neither exists in the reference (its storage is Neo4j's; SURVEY.md
§2.3), but both are what makes a 100 TB parquet lake queryable:

- **Sorted layout.** Parquet row groups carry min/max stats per column;
  a range predicate can skip a row group only if the column's values
  are CLUSTERED within files.  ``write_sorted_layout`` range-partitions
  by the cluster key (``repartitionByRange`` — contiguous key ranges
  per file) then sorts within partitions, so every file covers a
  narrow, non-overlapping slice and a date filter touches few of them.
  This is the same layout idea as the IVF index (operators/ann.py):
  make the pruning the storage's job, not the executor's.

- **Compaction.** Streaming ingest and partitioned writes leave many
  small files; footer-reading and task-scheduling overhead then
  dominates scans.  ``compact`` rewrites a directory into
  size-targeted files with one distributed pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_sorted_layout(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int
) -> None:
    """Write ``df`` as parquet clustered on ``cluster_cols``: range-
    partition into ``n_files`` contiguous key slices, sort each slice,
    one file per slice.  Files end up with narrow, non-overlapping
    min/max ranges on the cluster key — the precondition for row-group
    and file skipping on range predicates.

    At 100 TB ``n_files`` comes from target_bytes (e.g. 1 GiB/file);
    the range exchange samples the key distribution so slices are
    balanced even when the key is skewed.
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(
    spark: SparkSession, src_path: str, dst_path: str, target_rows_per_file: int
) -> int:
    """Rewrite ``src_path`` into ``dst_path`` with ~``target_rows_per_file``
    rows per file; returns the file count chosen.  One shuffle-free
    coalesce when shrinking the file count (the common case), which at
    scale is the nightly compaction job over a streaming landing zone.
    """
    df = spark.read.parquet(src_path)
    n = df.count()
    n_files = max(1, (n + target_rows_per_file - 1) // target_rows_per_file)
    # coalesce cannot INCREASE partition count: if the scan bin-packed
    # the small files into fewer splits than the target (low-core
    # machines shrink maxSplitBytes' denominator), fall back to a
    # repartition so the written file count always equals n_files
    if df.rdd.getNumPartitions() >= n_files:
        df = df.coalesce(n_files)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    return n_files


def file_minmax_ranges(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of ``column`` straight from the parquet
    footers — the metadata a scan's file/row-group skipping reads.
    Test/inspection helper: proves clustering without scanning data.
    """
    from pathlib import Path

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = md.schema.names.index(column)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return []  # stats missing: cannot prove anything
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        ranges.append((lo, hi))
    return ranges


def zorder_value(scaled_cols, bits: int = 12):
    """Morton (Z-order) interleave of pre-scaled integer columns.

    ``scaled_cols`` are Column exprs already scaled to ``[0, 2**bits)``.
    Pure JVM bit arithmetic (shifts + masks folded in codegen): bit b of
    column i lands at position ``b * len(cols) + i`` of the z-value, so
    nearby (x, y) pairs share z-prefixes — sorting by z clusters BOTH
    dimensions at once.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(scaled_cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(scaled_cols) + i))
    return z


def write_zorder_layout(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int, bits: int = 12
) -> None:
    """Write ``df`` clustered on the Z-order curve of ``cluster_cols``.

    One tiny min/max aggregate scales each column to ``[0, 2**bits)``
    (linear scaling — no rank shuffle), then the write range-partitions
    and sorts by the interleaved z-value.  Every output file covers a
    compact z-range = a bounded rectangle in key space, so range
    predicates on ANY of the cluster columns skip most files — the
    multi-column generalization of ``write_sorted_layout``, which
    clusters only its leading key.  Same technique Delta/Iceberg expose
    as OPTIMIZE ZORDER BY (public docs); here it is plain DataFrame ops.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cluster_cols],
        *[F.max(c).alias(f"__max_{c}") for c in cluster_cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cluster_cols:
        lo, hi = stats[f"__min_{c}"], stats[f"__max_{c}"]
        span = max(float(hi) - float(lo), 1.0)
        scaled.append(
            F.floor((F.col(c).cast("double") - F.lit(float(lo))) / span * top)
        )
    zdf = df.withColumn("__z", zorder_value(scaled, bits))
    (
        zdf.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


from ..registry import register  # noqa: E402

COMPACT_FRAGMENTS = 64
COMPACT_TARGET_ROWS = 100


@register(
    "sink_compaction_certificate",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(CEIL(COUNT(*) / {COMPACT_TARGET_ROWS}.0) AS INTEGER)
         AS n_files_compacted,
       TRUE AS rows_preserved,
       TRUE AS files_reduced
FROM documents
""",
)
def sink_compaction_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction MAINTENANCE, certified through real files:
    fragment ``documents`` into many tiny parquet files (the state a
    streaming landing zone reaches), run ``compact`` to size-targeted
    files, then read the compacted layout back and emit a certificate
    row the oracle predicts independently.

    The certificate pins the exact contract: no rows lost
    (``rows_preserved``), the file count is exactly
    ``ceil(n_rows / target)`` (the oracle recomputes it from COUNT(*)
    alone — a compaction that dropped or duplicated files changes the
    value), and the count went DOWN (``files_reduced``).  The compact
    pass itself is a shuffle-free ``coalesce`` — at 100 TB the nightly
    compaction job reads only the landing zone's small files and never
    reshuffles rows, so its cost is IO-proportional.
    """
    from pathlib import Path

    from pyspark.sql import functions as F

    from ..cache import scratch_dir
    from .tables import load_table

    d = load_table(spark, sf_dir, "documents")
    scratch = scratch_dir("compaction_")
    small, compacted = f"{scratch}/small", f"{scratch}/compacted"
    d.repartition(COMPACT_FRAGMENTS).write.mode("overwrite").parquet(small)
    compact(spark, small, compacted, COMPACT_TARGET_ROWS)

    n_in = spark.read.parquet(small).count()
    files_in = len(list(Path(small).glob("*.parquet")))
    files_out = len(list(Path(compacted).glob("*.parquet")))
    return (
        spark.read.parquet(compacted)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "n_rows",
            F.lit(files_out).cast("int").alias("n_files_compacted"),
            (F.col("n_rows") == F.lit(n_in)).alias("rows_preserved"),
            F.lit(files_out < files_in).alias("files_reduced"),
        )
    )


ZORDER_FILES = 16
ZORDER_PART_LO, ZORDER_PART_HI = 100, 400
ZORDER_SUPP_LO, ZORDER_SUPP_HI = 10, 40


def _zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Z-order-clustered lineitem layout on
    (l_partkey, l_suppkey)."""
    from ..artifacts import load_or_build
    from .tables import load_table, table_path

    def build(out: str) -> dict:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        write_zorder_layout(li, out, ["l_partkey", "l_suppkey"], ZORDER_FILES)
        return {}

    sources = [table_path(sf_dir, "lineitem")]
    return load_or_build("zorder", {"files": ZORDER_FILES, "v": 1}, sources, build)[0]


@register(
    "sink_zorder_pruned_scan",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem
WHERE l_partkey BETWEEN {ZORDER_PART_LO} AND {ZORDER_PART_HI}
  AND l_suppkey BETWEEN {ZORDER_SUPP_LO} AND {ZORDER_SUPP_HI}
""",
)
def sink_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional range predicate over the Z-ORDER-clustered
    layout (Morton interleave of l_partkey × l_suppkey —
    ``write_zorder_layout``): because every file covers a compact
    rectangle in BOTH key dimensions, the two range predicates skip
    most files/row-groups from footer stats alone; a single-key sorted
    layout can prune on only its leading column.  The rows themselves
    hash-match the oracle's direct scan — proving the clustered rewrite
    lost nothing — while tests/test_layout.py proves the bounding-box
    shrink that makes the skipping real.  Build-once cached layout
    (IVF-index discipline); at 100 TB this is the OPTIMIZE ZORDER job
    every lakehouse runs on its fact tables."""
    from pyspark.sql import functions as F

    z = spark.read.parquet(_zorder_layout(spark, sf_dir))
    return (
        z.where(
            F.col("l_partkey").between(ZORDER_PART_LO, ZORDER_PART_HI)
            & F.col("l_suppkey").between(ZORDER_SUPP_LO, ZORDER_SUPP_HI)
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # exact decimal sum (double→long would TRUNCATE in Spark but
            # round in DuckDB — the repo-wide decimal-sum convention)
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_qty"),
        )
    )
