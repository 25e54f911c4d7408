"""Relational operator breadth over the TPC-H-ish star schema.

The reference delegates ALL relational computation to Neo4j and uses
none of it beyond project/sort/limit (SURVEY.md §2.3 — no joins, no
aggregates, no windows anywhere in the tree).  A drop-in engine for
its users still needs the full relational surface, so every operator
family is implemented here as an oracle-checked query:

- scans with pushed filters + pruned columns
- broadcast + shuffle joins, semi/anti joins, multi-way star joins
- hash aggregates (partial+final), distinct aggregates, rollup/cube/
  grouping sets
- window functions (rank, lag, running frames)
- set operations, conditional aggregation, pivot
- scalar function library: string / date / math / array / json

Determinism & oracle-parity rules used throughout:
- money arithmetic is cast to DECIMAL before SUM (exact, engine-order
  independent), then the result cast to DOUBLE — identical bits in
  Spark and DuckDB regardless of partial-aggregation order;
- AVG is expressed as CAST(SUM AS DOUBLE)/COUNT (both engines do the
  same IEEE division);
- every LIMIT sits under a total order (explicit tie-break keys).

Scale notes: all joins here either broadcast a dimension (region,
nation, supplier — tiny by definition) or shuffle on the natural key
(orders/lineitem on orderkey), which is exactly the plan a 1000-node
cluster wants; AQE handles post-shuffle coalescing and skew.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import scratch_function, scratch_table, scratch_variable
from ..registry import register
from ..sources.tables import load_table


def _dec(col: str, prec: int = 12, scale: int = 2) -> Column:
    """Exact-decimal view of a money/quantity double column."""
    return F.col(col).cast(f"decimal({prec},{scale})")


def _dsum(col: Column) -> Column:
    """Order-independent exact sum surfaced as DOUBLE."""
    return F.sum(col).cast("double")


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

Q1_CUTOFF = "1998-09-02"


@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final hash aggregate.

    The filter is pushed to the parquet scan (min/max row-group skip on
    l_shipdate); the groupBy is 6 groups so the map-side partial
    aggregate reduces ~all rows before the shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec("l_discount", 4, 2)
    tax = _dec("l_tax", 4, 2)
    price = _dec("l_extendedprice")
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_dec("l_quantity")).alias("sum_qty"),
            _dsum(price).alias("sum_base_price"),
            _dsum(price * (F.lit(1) - disc)).alias("sum_disc_price"),
            _dsum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).alias("sum_charge"),
            (_dsum(_dec("l_quantity")) / n).alias("avg_qty"),
            (_dsum(price) / n).alias("avg_price"),
            (_dsum(disc) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "agg_distinct_counts",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates — Catalyst plans the expand+two-phase
    distinct aggregation; at scale this is the expand-operator pattern,
    not a per-group hash set on the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_rollup_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(_dec("o_totalprice")).alias("total_price"),
    )


@register(
    "agg_cube_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _dsum(_dec("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (same Catalyst Expand plan as
    rollup/cube; the SQL form is the idiomatic spelling)."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "orders_")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "agg_conditional_pivot",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_finished,
       COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot expressed as conditional aggregation (what .pivot() lowers
    to) — map-side combinable, no extra shuffle vs a plain groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    return li.groupBy("l_returnflag").agg(
        _dsum(F.when(F.col("l_linestatus") == "O", qty)).alias("qty_open"),
        _dsum(F.when(F.col("l_linestatus") == "F", qty)).alias("qty_finished"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


# ---------------------------------------------------------------------------
# Scans & filters
# ---------------------------------------------------------------------------


@register(
    "filter_scan_pushdown",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 400000.0
""",
)
def filter_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective predicate + narrow projection: both reach the parquet
    reader (PushedFilters + ReadSchema pruning — asserted in
    tests/test_plans.py)."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 400000.0)
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "top_n_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def top_n_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N — TakeOrderedAndProject (no full sort at any scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_star_broadcast",
    oracle="""
SELECT r.r_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def join_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dims star join: nation (25 rows) and region (5 rows) are
    broadcast, so the fact table never shuffles for the join — the only
    shuffle is the tiny 5-group aggregate."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(_dec("c_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact-fact join on the
    natural key → aggregate → top-N.  customer(BUILDING) carries no
    broadcast hint — customers scale with the corpus, so AQE broadcasts
    only when the filtered side is genuinely small at runtime;
    orders⋈lineitem shuffles on orderkey (co-partitioned, no skew);
    the top-10 is TakeOrderedAndProject over the aggregate."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum(rev).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_regional_revenue",
    oracle="""
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with a cross-dimension equality
    (customer and supplier in the same nation).  nation/region broadcast
    by hint (bounded, 25/5 rows at any scale); customer and supplier
    join unhinted — AQE broadcasts them only when runtime-small.  The
    region filter prunes nations before the fact join touches them
    (dynamic filter at scale)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(rev).alias("revenue"))
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
SELECT c.c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_mktsegment
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS — emits each customer at most once, never
    multiplies rows, and only the join key crosses the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
SELECT c.c_nationkey, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_outer_order_counts",
    oracle="""
SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
""",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders (COUNT of a
    nullable column skips the null-extended rows)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "setops_nation_presence",
    oracle="""
SELECT 'customers_only' AS tag, k AS nationkey FROM (
  SELECT c_nationkey AS k FROM customer
  EXCEPT
  SELECT s_nationkey AS k FROM supplier
)
UNION ALL
SELECT 'both' AS tag, k AS nationkey FROM (
  SELECT c_nationkey AS k FROM customer
  INTERSECT
  SELECT s_nationkey AS k FROM supplier
)
UNION ALL
SELECT 'any' AS tag, k AS nationkey FROM (
  SELECT c_nationkey AS k FROM customer
  UNION
  SELECT s_nationkey AS k FROM supplier
)
""",
)
def setops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION(distinct) / UNION ALL in one result."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    tag = lambda df, t: df.select(F.lit(t).alias("tag"), "nationkey")  # noqa: E731
    return (
        tag(c.subtract(s), "customers_only")
        .unionAll(tag(c.intersect(s), "both"))
        .unionAll(tag(c.union(s).distinct(), "any"))
    )


@register(
    "setops_multiset_all",
    oracle="""
SELECT 'except_all' AS tag, k AS nationkey, COUNT(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer
  EXCEPT ALL
  SELECT s_nationkey AS k FROM supplier
) GROUP BY k
UNION ALL
SELECT 'intersect_all' AS tag, k AS nationkey, COUNT(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer
  INTERSECT ALL
  SELECT s_nationkey AS k FROM supplier
) GROUP BY k
""",
)
def setops_multiset_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL): multiplicity
    matters — a nation with 40 customers and 3 suppliers keeps 37 rows
    under EXCEPT ALL and 3 under INTERSECT ALL, where the distinct
    variants collapse to membership.  Both engines implement these as a
    counted anti/semi aggregation, one shuffle on the key."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )

    def counted(df: DataFrame, t: str) -> DataFrame:
        return df.groupBy("nationkey").agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(t).alias("tag"), "nationkey", "n"
        )

    return counted(c.exceptAll(s), "except_all").unionAll(
        counted(c.intersectAll(s), "intersect_all")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank_top3_per_priority",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 3
""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group — Spark turns rank-filter into WindowGroupLimit
    (per-partition heaps), so the full partition never materializes."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


@register(
    "window_running_and_lag",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend,
       LAG(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
FROM orders
""",
)
def window_running_and_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@register(
    "window_moving_frame",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS qty_3row
FROM lineitem
WHERE l_suppkey < 20
""",
)
def window_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame (3-row moving sum) under a total order."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 20)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-2, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(_dec("l_quantity")).over(w).cast("double").alias("qty_3row"),
    )


@register(
    "window_range_frame",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS spend_30d
FROM orders
WHERE o_custkey < 100
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based (RANGE) frame: each order sees the customer's total
    spend over the trailing 30 DAYS of event time — a different
    physical operator from the ROWS frame (the frame boundary slides by
    ordering VALUE, and peers with equal timestamps are always in-frame
    together, which also makes the result tie-stable without a
    tie-break column)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(_dec("o_totalprice", 14, 2)).over(w).cast("double").alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# Scalar function library
# ---------------------------------------------------------------------------


@register(
    "scalar_string_functions",
    oracle="""
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       SUBSTR(p_type, 1, 4) AS type_prefix,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
       CONCAT(p_brand, ':', p_type) AS brand_type,
       REPLACE(p_name, ' ', '_') AS name_snake,
       CASE WHEN p_name LIKE '%widget%' THEN 1 ELSE 0 END AS is_widget,
       REGEXP_REPLACE(p_brand, '[0-9]+', '#') AS brand_norm
FROM part
""",
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.when(F.col("p_name").like("%widget%"), 1).otherwise(0).alias("is_widget"),
        F.regexp_replace("p_brand", "[0-9]+", "#").alias("brand_norm"),
    )


@register(
    "scalar_date_functions",
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS order_day,
       CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
       CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
FROM orders
WHERE o_orderkey < 1000
""",
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
    )


@register(
    "scalar_math_functions",
    oracle="""
SELECT s_suppkey,
       ABS(s_acctbal) AS bal_abs,
       ROUND(s_acctbal, 1) AS bal_round,
       CAST(FLOOR(s_acctbal) AS DOUBLE) AS bal_floor,
       CAST(CEIL(s_acctbal) AS DOUBLE) AS bal_ceil,
       ROUND(SQRT(ABS(s_acctbal)), 6) AS bal_sqrt,
       ROUND(LN(ABS(s_acctbal) + 1), 6) AS bal_ln,
       CAST(s_suppkey % 7 AS BIGINT) AS key_mod
FROM supplier
""",
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.abs("s_acctbal").alias("bal_abs"),
        F.round("s_acctbal", 1).alias("bal_round"),
        F.floor("s_acctbal").cast("double").alias("bal_floor"),
        F.ceil("s_acctbal").cast("double").alias("bal_ceil"),
        F.round(F.sqrt(F.abs("s_acctbal")), 6).alias("bal_sqrt"),
        F.round(F.log(F.abs(F.col("s_acctbal")) + 1), 6).alias("bal_ln"),
        (F.col("s_suppkey") % 7).alias("key_mod"),
    )


@register(
    "scalar_array_functions",
    oracle="""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
       STRING_SPLIT(text, ' ')[1] AS first_token,
       LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS has_spark,
       LIST_SORT(STRING_SPLIT(text, ' '))[1] AS min_token
FROM documents
""",
)
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_min(toks).alias("min_token"),
    )


@register(
    "scalar_json_functions",
    oracle="""
SELECT event_id,
       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_value,
       event_type,
       CASE WHEN CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) >= 50
            THEN 'high' ELSE 'low' END AS k_bucket
FROM events
WHERE event_id < 2000
""",
)
def scalar_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id",
        k.alias("k_value"),
        "event_type",
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


_CORRELATED_SQL = """
SELECT o.o_orderkey, o.o_custkey,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
FROM {orders} o
WHERE o.o_totalprice > 2 * (
  SELECT AVG(o2.o_totalprice) FROM {orders} o2
  WHERE o2.o_custkey = o.o_custkey
)
"""


@register(
    "subquery_correlated_above_avg", oracle=_CORRELATED_SQL.format(orders="orders")
)
def subquery_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL-TEXT entry path (the
    engine's second API surface next to the DataFrame builders; same
    Catalyst plan either way).  Catalyst decorrelates the subquery into
    an aggregate + join — never a per-row re-execution, which is what
    makes correlated predicates survive at 100 TB.  Identical SQL runs
    on the DuckDB oracle."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "orders_")
    return spark.sql(_CORRELATED_SQL.format(orders=orders))


@register(
    "unpivot_lineitem_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, CAST(val AS DOUBLE) AS val
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey < 300
)
UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
""",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``stack``'s typed cousin): each measure column
    becomes a (measure, val) row — map-side Expand operator, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM {customer} c,
LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 2) t
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_SQL.format(customer="customer", orders="orders"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    SQL-standard spelling of "top-N per key"), through the SQL-text
    path; identical SQL runs on the DuckDB oracle.

    Catalyst DECORRELATES the lateral: the per-customer top-2 becomes
    one windowed rank over orders partitioned by ``o_custkey`` joined
    back to customers — a set-at-a-time plan, never a per-customer
    re-execution of the subquery.  That rewrite is what makes lateral
    top-N survive at 100 TB: cost is one shuffle of orders on the
    correlation key, not |customer| subqueries."""
    return spark.sql(
        _LATERAL_SQL.format(
            customer=scratch_table(load_table(spark, sf_dir, "customer"), "customer_"),
            orders=scratch_table(load_table(spark, sf_dir, "orders"), "orders_"),
        )
    )


_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT DATE_TRUNC('year', MIN(o_orderdate)) AS lo,
         DATE_TRUNC('year', MAX(o_orderdate)) AS hi
  FROM {orders}
),
years(y) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT y + INTERVAL 1 YEAR FROM years WHERE y < (SELECT hi FROM bounds)
),
per_year AS (
  SELECT DATE_TRUNC('year', o_orderdate) AS y, COUNT(*) AS n_orders
  FROM {orders} GROUP BY 1
)
SELECT CAST(years.y AS DATE) AS year_start,
       CAST(COALESCE(per_year.n_orders, 0) AS BIGINT) AS n_orders
FROM years LEFT JOIN per_year ON per_year.y = years.y
"""


@register("recursive_year_spine", oracle=_RECURSIVE_SPINE_SQL.format(orders="orders"))
def recursive_year_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's ``WITH RECURSIVE``) building a calendar
    SPINE — the warehouse pattern that guarantees a row for every
    period even when the fact table has gaps; identical SQL runs on the
    DuckDB oracle.

    Scale discipline for recursion in a distributed engine: the
    recursive part must touch only the FRONTIER (here: one row per
    step, the next period), never re-scan the corpus — the corpus
    aggregate is a separate non-recursive CTE joined AFTER the spine
    exists.  Iteration count is the recursion's real cost driver
    (each step is a plan execution), so the spine is built at the
    coarsest granularity the report needs; the same shape covers
    org-hierarchy / BOM closures where the frontier is the newly
    reached nodes."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "orders_")
    return spark.sql(_RECURSIVE_SPINE_SQL.format(orders=orders))


@register(
    "scalar_lambda_functions",
    oracle="""
SELECT doc_id,
       CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> strlen(x) > 3))
            AS INTEGER) AS n_long,
       CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> strlen(x)))
            AS BIGINT) AS total_chars,
       LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = 'the')) > 0 AS has_the,
       CAST(LIST_MAX(LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> strlen(x)))
            AS INTEGER) AS max_tok_len
FROM documents
""",
)
def scalar_lambda_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-facing lambda higher-order functions — transform / filter /
    exists / aggregate over array columns, the API surface behind the
    engine's own vector math (functions/vector.py).  All four evaluate
    JVM-side inside one projection; no shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    lengths = F.transform(toks, F.length)
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 3)).alias("n_long"),
        F.aggregate(
            lengths, F.lit(0), lambda acc, x: acc + x
        ).cast("bigint").alias("total_chars"),
        F.exists(toks, lambda x: x == "the").alias("has_the"),
        F.array_max(lengths).alias("max_tok_len"),
    )


# ---------------------------------------------------------------------------
# Slowly-changing dimension (Type 2): the warehouse-maintenance sibling
# of merge_upsert_orders — history rows are CLOSED (valid_to set), new
# versions OPENED, untouched rows carried forward.
# ---------------------------------------------------------------------------

SCD2_OPEN = "1995-01-01"  # initial load effective date
SCD2_CHANGE = "1996-06-01"  # the change batch's effective date
SCD2_EVERY = 13  # customers with c_custkey % 13 == 0 change balance


@register(
    "scd2_customer_update",
    oracle=f"""
WITH changed AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {SCD2_EVERY} = 0
)
SELECT c.c_custkey,
       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
       DATE '{SCD2_OPEN}' AS valid_from,
       CAST(DATE '{SCD2_CHANGE}' AS DATE) AS valid_to,
       FALSE AS is_current
FROM customer c JOIN changed USING (c_custkey)
UNION ALL
SELECT c.c_custkey,
       CAST(-c.c_acctbal AS DOUBLE) AS c_acctbal,
       DATE '{SCD2_CHANGE}' AS valid_from,
       CAST(NULL AS DATE) AS valid_to,
       TRUE AS is_current
FROM customer c JOIN changed USING (c_custkey)
UNION ALL
SELECT c.c_custkey,
       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
       DATE '{SCD2_OPEN}' AS valid_from,
       CAST(NULL AS DATE) AS valid_to,
       TRUE AS is_current
FROM customer c WHERE c.c_custkey % {SCD2_EVERY} <> 0
ORDER BY c_custkey, valid_from
""",
)
def q_scd2_customer_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD apply: a deterministic change batch (every
    {SCD2_EVERY}th customer re-states its balance) closes the current
    version (``valid_to`` stamped, ``is_current`` false) and opens a
    new one; untouched customers carry forward.  One broadcast-able
    changed-keys semi/anti split — the dimension is never shuffled on
    a non-key column, and at 100 TB the write side pairs with the
    partition-targeted ``replace_partitions`` maintenance the ANN
    family uses."""
    c = load_table(spark, sf_dir, "customer")
    changed = F.col("c_custkey") % SCD2_EVERY == 0
    bal = F.col("c_acctbal").cast("double")
    closed = c.where(changed).select(
        "c_custkey",
        bal.alias("c_acctbal"),
        F.lit(SCD2_OPEN).cast("date").alias("valid_from"),
        F.lit(SCD2_CHANGE).cast("date").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = c.where(changed).select(
        "c_custkey",
        (-bal).alias("c_acctbal"),
        F.lit(SCD2_CHANGE).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    carried = c.where(~changed).select(
        "c_custkey",
        bal.alias("c_acctbal"),
        F.lit(SCD2_OPEN).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(opened).unionByName(carried).orderBy(
        "c_custkey", "valid_from"
    )


@register(
    "join_shuffle_hash_hint",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy CONTROL: the SHUFFLE_HASH hint forces a
    ShuffledHashJoin where the planner would default to sort-merge —
    the right call when one side is modest-but-above-broadcast and
    sorting the big side would dominate (hash build beats sort when
    the build side fits the per-task budget).  Plan-asserted in
    tests/test_plans.py; at 100 TB this is the fact-to-mid-dimension
    join shape AQE cannot always pick on its own."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# CDC change feed: the diff of two table snapshots as typed change rows
# — what a lakehouse emits to downstream consumers after a merge.
# ---------------------------------------------------------------------------

CDC_DELETE_EVERY = 17  # o_orderkey % 17 == 3 rows vanish in the new snapshot
CDC_UPDATE_EVERY = 10  # o_orderkey % 10 == 0 rows re-state o_totalprice
CDC_INSERT_EVERY = 23  # copies of % 23 == 7 rows arrive under fresh keys


@register(
    "cdc_table_diff",
    oracle=f"""
WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
old AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {CDC_UPDATE_EVERY} = 0
              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1.00
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
  FROM orders WHERE o_orderkey % {CDC_DELETE_EVERY} <> 3
  UNION ALL
  SELECT o_orderkey + mx.m + 1 AS o_orderkey,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders, mx WHERE o_orderkey % {CDC_INSERT_EVERY} = 7
)
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CAST(o.price AS DOUBLE) AS old_price,
       CAST(n.price AS DOUBLE) AS new_price
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.price <> n.price
ORDER BY o_orderkey
""",
)
def q_cdc_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture feed between two snapshots of ``orders``
    (the new snapshot applies a deterministic delete/update/insert
    batch): a single FULL OUTER join on the key classifies every row
    as insert / update / delete, and unchanged rows are filtered OUT —
    the feed is proportional to the churn, never the table.  Prices
    compare as DECIMAL so float representation can't fake an update.
    At 100 TB both snapshots shuffle once on the join key (or not at
    all if both are bucketed by it — ``join_bucketed_colocated``'s
    layout); the reference has no notion of history at all (its Neo4j
    store is overwrite-only), so this is pure engine breadth."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    old = o.select("o_orderkey", price.alias("price"))
    mx = o.agg(F.max("o_orderkey")).first()[0]
    survivors = o.where(F.col("o_orderkey") % CDC_DELETE_EVERY != 3).select(
        "o_orderkey",
        # decimal literal: a double 1.00 would promote the sum to DOUBLE
        # and fl(fl(x)+1.0) can differ from the oracle's exact decimal
        # x+1 in the last bit near binade boundaries (e.g. 131071.02)
        F.when(
            F.col("o_orderkey") % CDC_UPDATE_EVERY == 0,
            price + F.lit(Decimal("1.00")),
        )
        .otherwise(price)
        .alias("price"),
    )
    inserts = o.where(F.col("o_orderkey") % CDC_INSERT_EVERY == 7).select(
        (F.col("o_orderkey") + F.lit(mx + 1)).alias("o_orderkey"),
        price.alias("price"),
    )
    new = survivors.unionByName(inserts)
    j = old.alias("o").join(
        new.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    op = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        j.where(
            F.col("o.o_orderkey").isNull()
            | F.col("n.o_orderkey").isNull()
            | (F.col("o.price") != F.col("n.price"))
        )
        .select(
            op.alias("op"),
            F.coalesce("o.o_orderkey", "n.o_orderkey").alias("o_orderkey"),
            F.col("o.price").cast("double").alias("old_price"),
            F.col("n.price").cast("double").alias("new_price"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "scalar_variant_functions",
    oracle="""
SELECT event_id,
       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_int,
       CAST(NULL AS VARCHAR) AS missing_str,
       'OBJECT<k: BIGINT>' AS props_schema,
       user_id AS second_elem
FROM events
WHERE event_id < 2000
""",
)
def scalar_variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: the engine's semi-structured column path.
    ``parse_json`` ingests the raw JSON props into the binary VARIANT
    encoding ONCE at scan time; ``variant_get`` then does typed path
    extraction (including array indexing through a synthesized nested
    document) without re-parsing text per access — the reason VARIANT
    beats string-JSON at 100 TB: shredded binary access instead of
    O(fields) text scans per row.  ``try_variant_get`` pins the
    missing-path → NULL contract and ``schema_of_variant`` the inferred
    shape.  DuckDB oracle computes the same values via its JSON path
    functions (the missing path and inferred schema fold to literals).
    """
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    v = F.parse_json("props")
    nested = F.parse_json(
        F.concat(
            F.lit('{"a":{"b":['),
            F.col("event_id"),
            F.lit(","),
            F.col("user_id"),
            F.lit("]}}"),
        )
    )
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_str"),
        F.schema_of_variant(v).alias("props_schema"),
        F.variant_get(nested, "$.a.b[1]", "bigint").alias("second_elem"),
    )


@register(
    "scalar_try_arithmetic",
    oracle="""
SELECT event_id,
       CASE WHEN user_id % 2 = 0 THEN NULL
            ELSE value / CAST(user_id % 2 AS DOUBLE) END AS td,
       CASE WHEN event_id * 600 > 1000 THEN NULL
            ELSE 9223372036854774807 + event_id * 600 END AS ta,
       CASE WHEN event_id % 2 = 0 THEN CAST(12.34 AS DOUBLE)
            ELSE NULL END AS tn,
       CASE WHEN event_id % 4 + 1 <= 2 THEN event_id % 4 + 1
            ELSE NULL END AS te
FROM events
WHERE event_id < 2000
""",
)
def q_scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe arithmetic: this engine runs with
    ``spark.sql.ansi.enabled=true`` (the Spark 4 default), where
    division by zero, integer overflow, malformed casts, and
    out-of-bounds array access RAISE rather than silently NULLing —
    the correct default for a 100 TB pipeline, since a silent NULL in
    one of a trillion rows is undebuggable.  The ``try_*`` family is
    the explicit, per-expression opt-out: ``try_divide`` (zero
    divisor), ``try_add`` (BIGINT overflow, exercised on real rows —
    event_id*600 crosses the bound mid-column), ``try_to_number``
    (malformed numeric text vs a format mask), ``try_element_at``
    (index past the array) each fold the error case to NULL while
    non-error rows compute exactly.  The DuckDB oracle reconstructs
    every NULL boundary with CASE arms, so a shifted overflow
    threshold or a NULL on the wrong side hash-mismatches."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    idx = (F.col("event_id") % 4 + 1).cast("int")
    return e.select(
        "event_id",
        F.try_divide(F.col("value"), (F.col("user_id") % 2).cast("double")).alias(
            "td"
        ),
        F.try_add(
            F.lit(9223372036854774807).cast("long"), F.col("event_id") * 600
        ).alias("ta"),
        F.try_to_number(
            F.when(F.col("event_id") % 2 == 0, F.lit("12.34")).otherwise(
                F.lit("oops")
            ),
            F.lit("99.99"),
        )
        .cast("double")
        .alias("tn"),
        F.try_element_at(F.array(F.lit(1), F.lit(2)), idx).cast("bigint").alias("te"),
    )


@register(
    "scalar_collation_functions",
    oracle="""
SELECT LOWER(n_name) AS name_lc,
       MIN(n_name) AS min_variant,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM (
  SELECT n_name FROM nation
  UNION ALL
  SELECT UPPER(SUBSTR(n_name, 1, 1)) || LOWER(SUBSTR(n_name, 2)) FROM nation
) t(n_name)
GROUP BY LOWER(n_name)
ORDER BY name_lc
""",
)
def q_scalar_collation_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS: case-insensitive equality as a property of
    the COLUMN, not of every expression touching it.  The corpus is
    each nation name in two case variants (original upper-case +
    initcap); ``F.collate(name, 'UTF8_LCASE')`` makes the groupBy hash
    and compare under the case-insensitive collation, so both variants
    land in one group WITHOUT rewriting the key through lower() — at
    100 TB the difference is that collation-aware comparison happens
    inside codegen'd hash/compare on the original bytes instead of
    materializing a second normalized column through every shuffle.
    Output normalizes the (nondeterministic) group representative away:
    lower() key, binary MIN over the variants, and the variant count
    (2 for every nation).  Oracle replicates with GROUP BY LOWER()."""
    n = load_table(spark, sf_dir, "nation").select("n_name")
    # first-letter-upper + rest-lower, the EXACT string the oracle's
    # UPPER(SUBSTR(..,1,1)) || LOWER(SUBSTR(..,2)) builds — initcap
    # would diverge on multi-word names ('United States' vs
    # 'United states') and only be masked by the binary MIN
    sentence_case = F.concat(
        F.upper(F.substring("n_name", 1, 1)),
        F.lower(F.expr("substring(n_name, 2)")),
    )
    variants = n.unionAll(n.select(sentence_case.alias("n_name")))
    return (
        variants.groupBy(F.collate("n_name", "UTF8_LCASE").alias("cname"))
        .agg(
            F.min(F.col("n_name").cast("string")).alias("min_variant"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .select(
            F.lower(F.col("cname").cast("string")).alias("name_lc"),
            "min_variant",
            "n_variants",
        )
        .orderBy("name_lc")
    )


@register(
    "scalar_sql_udf",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.9 AS DECIMAL(3,2)))
            AS DOUBLE) AS total_discounted
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_scalar_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDF (Spark 4 ``CREATE FUNCTION ... RETURN <expr>``):
    user extension WITHOUT leaving the JVM.  Unlike a Python UDF, a SQL
    UDF's body is INLINED into the calling plan by the analyzer — the
    aggregate below whole-stage-codegens exactly as if the expression
    were written in place, so user abstractions cost nothing at 100 TB
    (no serialization boundary, no black box blocking predicate
    pushdown through it).  The oracle inlines the same arithmetic,
    which is precisely the claim being certified."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "sqludf_orders_")
    discounted = scratch_function(spark, "discounted_")
    spark.sql(
        f"CREATE TEMPORARY FUNCTION {discounted}("
        "p DECIMAL(12,2)) RETURNS DECIMAL(16,4) "
        "RETURN p * CAST(0.9 AS DECIMAL(3,2))"
    )
    return spark.sql(
        f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM({discounted}(CAST(o_totalprice AS DECIMAL(12,2)))) AS DOUBLE)
           AS total_discounted
FROM {orders}
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
    )


@register(
    "sql_pipe_syntax",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4 ``|>``): the linear FROM → WHERE →
    AGGREGATE → ORDER BY form that reads in execution order instead of
    inside-out.  Pipe operators are pure SYNTAX — each stage lowers to
    the same logical operators as classic SQL, so the plan (pushed
    filter, partial/final hash aggregate) and every value must be
    identical to the oracle's classic formulation.  Matters for an
    engine meant to host generated queries: pipes compose by string
    append, no re-nesting."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "pipe_orders_")
    return spark.sql(
        f"""
FROM {orders}
|> WHERE o_orderstatus = 'O'
|> AGGREGATE COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                 AS total_price
   GROUP BY o_orderpriority
|> SELECT o_orderpriority, n_orders, total_price
|> ORDER BY o_orderpriority
"""
    )


@register(
    "scalar_parameterized_sql",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       CAST(o_totalprice AS DOUBLE) AS price
FROM orders
WHERE o_orderstatus = 'F'
  AND o_totalprice >= 350000.0
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
ORDER BY o_orderkey
""",
)
def q_scalar_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED-PARAMETER SQL (``spark.sql(..., args={...})``): values bind
    as literal parameters in the parser, never by string interpolation
    — the reference's own query does exactly this through Neo4j's
    ``$prompt_embeddings``/``$top_k`` binds (reference server.py:86,95),
    and this is the engine's equivalent surface.  Binding beats
    interpolation twice over at scale: injection is impossible by
    construction, and the parameterized plan is cache-reusable across
    values.  The bound markers cover an equality, a numeric range, and
    an IN-list (array parameter expanded by element_at/array_contains
    semantics)."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "param_orders_")
    return spark.sql(
        f"""
SELECT o_orderkey,
       o_orderpriority,
       CAST(o_totalprice AS DOUBLE) AS price
FROM {orders}
WHERE o_orderstatus = :status
  AND o_totalprice >= :minprice
  AND array_contains(:prios, o_orderpriority)
ORDER BY o_orderkey
""",
        args={
            "status": "F",
            "minprice": 350000.0,
            "prios": ["1-URGENT", "2-HIGH"],
        },
    )


@register(
    "agg_listagg_ordered",
    oracle="""
SELECT r.r_name,
       STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS members,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def q_agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LISTAGG ... WITHIN GROUP (ORDER BY ...)`` (Spark 4, the ANSI
    string-concatenation aggregate): per-region nation rosters as one
    deterministic string.  WITHIN GROUP matters at scale — without the
    mandated order the concatenation inherits partition arrival order
    and no two runs hash alike; with it the aggregate buffers sort
    locally per group before emitting.  DuckDB's STRING_AGG with
    ORDER BY is the exact oracle."""
    nation = scratch_table(load_table(spark, sf_dir, "nation"), "la_nation_")
    region = scratch_table(load_table(spark, sf_dir, "region"), "la_region_")
    return spark.sql(
        f"""
SELECT r.r_name,
       LISTAGG(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS members,
       COUNT(*) AS n_members
FROM {nation} n JOIN {region} r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""
    )


@register(
    "scalar_session_variables",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_above_avg
FROM orders
WHERE o_orderstatus = 'O'
  AND o_totalprice > (SELECT AVG(o_totalprice) FROM orders
                      WHERE o_orderstatus = 'O')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_scalar_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION VARIABLES (Spark 4 ``DECLARE VARIABLE`` / ``SET VAR``):
    typed, session-scoped state a client sets ONCE — including FROM a
    query result (``SET VAR avg_price = (SELECT AVG(...))``) — and
    every later statement references by name.  This is the stateful
    sibling of `scalar_parameterized_sql`: parameters bind per
    statement, variables persist across statements, and both are
    injection-proof because values never enter SQL text.  The variable
    here carries a computed aggregate into a second query; the oracle
    inlines the same scalar subquery."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "var_orders_")
    avg_price = scratch_variable(spark, "var_avg_price_")
    spark.sql(f"DECLARE VARIABLE {avg_price} DOUBLE DEFAULT 0.0")
    spark.sql(
        f"SET VAR {avg_price} = (SELECT AVG(o_totalprice) FROM {orders} "
        "WHERE o_orderstatus = 'O')"
    )
    return spark.sql(
        f"""
SELECT o_orderpriority,
       COUNT(*) AS n_above_avg
FROM {orders}
WHERE o_orderstatus = 'O' AND o_totalprice > {avg_price}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
    )


SCRIPT_START_THRESH = 100000.0
SCRIPT_TARGET = 500


@register(
    "sql_scripting_control_flow",
    oracle=f"""
WITH cnts AS (
  SELECT k,
         CAST({SCRIPT_START_THRESH} * POWER(2, k) AS DOUBLE) AS thresh,
         (SELECT COUNT(*) FROM orders
          WHERE o_totalprice > {SCRIPT_START_THRESH} * POWER(2, k)) AS c
  FROM (SELECT UNNEST(generate_series(0, 40)) AS k)
)
SELECT thresh, CAST(c AS BIGINT) AS n_above
FROM cnts WHERE c <= {SCRIPT_TARGET} ORDER BY k LIMIT 1
""",
)
def q_sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 ``BEGIN ... END`` with DECLARE / WHILE /
    SET): procedural control flow executed INSIDE the engine — the
    loop below doubles a price threshold until at most SCRIPT_TARGET
    orders exceed it, each iteration a real aggregate over the table.  This is what replaces the driver-side
    collect-check-resubmit loop (and its per-iteration session
    round-trip) for search/convergence procedures; powers of two keep
    the double arithmetic exact.  The DuckDB oracle finds the same
    fixpoint declaratively: the first k in an enumerated ladder whose
    exceed-count reaches the target."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "script_orders_")
    return spark.sql(
        f"""
BEGIN
  DECLARE thresh DOUBLE DEFAULT {SCRIPT_START_THRESH};
  DECLARE c BIGINT DEFAULT 0;
  SET c = (SELECT COUNT(*) FROM {orders} WHERE o_totalprice > thresh);
  WHILE c > {SCRIPT_TARGET} DO
    SET thresh = thresh * 2;
    SET c = (SELECT COUNT(*) FROM {orders} WHERE o_totalprice > thresh);
  END WHILE;
  SELECT thresh, c AS n_above;
END
"""
    )


@register(
    "scalar_dynamic_sql",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
WHERE o_totalprice >= 200000.0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_scalar_dynamic_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC SQL done safely (Spark 4): the table name binds through
    the ``IDENTIFIER(:tbl)`` clause — parsed as an identifier, so a
    hostile value cannot smuggle SQL — and the statement itself runs
    through ``EXECUTE IMMEDIATE ... USING`` with positional parameter
    markers.  Together with `scalar_parameterized_sql` (named binds)
    and `scalar_session_variables` this completes the
    generated-query-safety surface: every dynamic piece of a statement
    — values, identifiers, whole statements — has a binding mechanism
    that never concatenates user input into SQL text.  Values match
    the oracle's static formulation exactly."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "dyn_orders_")
    inner = (
        "SELECT o_orderstatus, COUNT(*) AS n_orders, "
        "CAST(MAX(o_totalprice) AS DOUBLE) AS max_price "
        "FROM IDENTIFIER(:tbl) WHERE o_totalprice >= :minp "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :stmt USING :tbl AS tbl, 200000.0 AS minp",
        args={"stmt": inner, "tbl": orders},
    )


@register(
    "scalar_null_semantics",
    oracle="""
SELECT e1.event_id,
       (p1 IS NOT DISTINCT FROM p2) AS nullsafe_eq,
       (p1 IS DISTINCT FROM p2) AS is_distinct,
       CASE WHEN p1 = p2 THEN 'T' WHEN NOT (p1 = p2) THEN 'F'
            ELSE 'U' END AS three_valued,
       (p1 IN (1.0, 2.0)) IS NULL AND p1 IS NULL AS null_in_unknown,
       NULLIF(COALESCE(p1, -1.0), -1.0) IS NULL AS roundtrip_null
FROM (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN NULL
              ELSE CAST(event_id % 5 AS DOUBLE) END AS p1,
         CASE WHEN event_id % 4 = 0 THEN NULL
              ELSE CAST(event_id % 5 AS DOUBLE) END AS p2
  FROM events WHERE event_id < 2000
) e1
ORDER BY event_id
""",
)
def q_scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-VALUED LOGIC, pinned: the NULL behaviors every filter and
    join in a 100 TB pipeline silently depends on.  Null-safe equality
    (``<=>`` / IS NOT DISTINCT FROM — the only equality that can serve
    as a join key over nullable columns without dropping NULL matches),
    its negation, the UNKNOWN outcome of plain ``=`` surfaced as a
    CASE arm (a WHERE clause drops UNKNOWN rows — the classic NOT-IN
    trap), ``NULL IN (...)`` evaluating to UNKNOWN rather than false,
    and a NULLIF/COALESCE round trip.  Both engines implement ANSI
    three-valued logic; the certificate makes the agreement a hash,
    not an assumption."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    p1 = F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
        (F.col("event_id") % 5).cast("double")
    )
    p2 = F.when(F.col("event_id") % 4 == 0, F.lit(None)).otherwise(
        (F.col("event_id") % 5).cast("double")
    )
    base = e.select("event_id", p1.alias("p1"), p2.alias("p2"))
    eq = F.col("p1") == F.col("p2")
    return base.select(
        "event_id",
        F.col("p1").eqNullSafe(F.col("p2")).alias("nullsafe_eq"),
        (~F.col("p1").eqNullSafe(F.col("p2"))).alias("is_distinct"),
        F.when(eq, "T").when(~eq, "F").otherwise("U").alias("three_valued"),
        (
            F.col("p1").isin(1.0, 2.0).isNull() & F.col("p1").isNull()
        ).alias("null_in_unknown"),
        F.nullif(F.coalesce(F.col("p1"), F.lit(-1.0)), F.lit(-1.0))
        .isNull()
        .alias("roundtrip_null"),
    ).orderBy("event_id")


@register(
    "scalar_struct_surgery",
    oracle="""
SELECT o_orderkey,
       o_orderkey AS s_key,
       CAST(o_totalprice * 1.1 AS DOUBLE) AS s_adjusted,
       'v2' AS s_version,
       3 AS n_fields_after_drop
FROM orders
WHERE o_orderkey < 2000
ORDER BY o_orderkey
""",
)
def q_scalar_struct_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct SURGERY without rebuild: ``withField`` updates one
    field and adds another inside an existing struct column,
    ``dropFields`` removes one, and ``struct.*`` star-expands the
    result — the Column-API path for evolving nested records in place.
    At 100 TB this is the difference between rewriting a projection of
    every nested field (and re-listing them each schema change) and a
    targeted field edit that Catalyst compiles to the same efficient
    CreateStruct.  The oracle states the expected flattened values."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    s = F.struct(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    edited = (
        s.withField("adjusted", F.col("o_totalprice") * 1.1)
        .withField("version", F.lit("v2"))
        .dropFields("price", "status")
    )
    return (
        o.select("o_orderkey", edited.alias("s"))
        .select(
            "o_orderkey",
            F.col("s.key").alias("s_key"),
            F.col("s.adjusted").cast("double").alias("s_adjusted"),
            F.col("s.version").alias("s_version"),
            # honest arity measurement: serialize the struct and count
            # its keys — dropFields must leave exactly {key, adjusted,
            # version}, so a silently-retained field shifts the count
            F.size(
                F.map_keys(F.from_json(F.to_json(F.col("s")), "map<string,string>"))
            )
            .cast("int")
            .alias("n_fields_after_drop"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# scalar_sql_sugar — the modern-SQL resolution sugar, one row: GROUP BY
# ALL (group by every non-aggregate select item), lateral column alias
# references (a SELECT item reading an alias defined earlier in the
# same list — Spark 3.4+), and ORDER BY ALL.  These are resolver
# features, not functions, so nothing else in the registry pins them;
# the certificate is the IDENTICAL query text executing on both
# engines (DuckDB grew the same sugar) and hash-matching.
# ---------------------------------------------------------------------------

SQL_SUGAR_QUERY = """
SELECT o_orderpriority,
       o_orderstatus,
       n,
       CAST(n * 100 AS BIGINT) AS n_hundred,
       CAST(n_hundred + n AS BIGINT) AS n_chained
FROM (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
  FROM {orders}
  GROUP BY ALL
)
ORDER BY ALL
"""


@register(
    "scalar_sql_sugar",
    oracle=SQL_SUGAR_QUERY.format(orders="orders").replace(
        "CAST(n_hundred + n AS", "CAST(n * 100 + n AS"
    ),
)
def q_scalar_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + chained LATERAL COLUMN ALIASES + ORDER BY ALL in
    one statement: the resolver must (a) derive the grouping set from
    the non-aggregate select items, (b) resolve ``n_hundred`` laterally
    in the outer SELECT and then ``n_chained`` through it (an alias
    reading an alias — Spark rejects this inside a GROUP BY ALL
    aggregate, so the lateral chain lives in the projection above it),
    and (c) order by the full output row.  The oracle expands the
    chained alias, so a resolution drift in any of the three shifts
    values or order."""
    orders = scratch_table(load_table(spark, sf_dir, "orders"), "sugar_orders_")
    return spark.sql(SQL_SUGAR_QUERY.format(orders=orders))
