"""Second wave of relational/analytic breadth: selective scan-aggregates,
multi-join top-N, deterministic sampling, merge/upsert, hierarchical
rollup reuse, and distribution window functions.

The reference delegates all relational work to Neo4j and exercises none
of these shapes (SURVEY.md §2.3 — the only query in the tree is
`server.py:85-91`, a vector index scan + project + sort).  A drop-in
engine still needs them; each is registered with a DuckDB oracle.

Scale notes baked into each operator:
- `q6_revenue_forecast` is the pure scan-dominated shape: every
  predicate reaches the parquet reader (row-group min/max skipping on
  l_shipdate), and the aggregate is a single partial+final pair — the
  100 TB plan is "read only matching row groups, one tiny shuffle".
- `q10_returned_revenue` shuffles the two fact tables on o_orderkey
  only, broadcasts the dims, and ends in TakeOrderedAndProject — no
  global sort at any scale.
- `sample_hash_deterministic` replaces rand()-sampling (which is
  neither reproducible across retries nor pushdown-friendly) with an
  md5-prefix filter: a pure row-local predicate that yields the SAME
  sample on any cluster size, any retry, any engine — the property a
  100 TB training-data pipeline needs for auditable subsampling.
- `merge_upsert_orders` is latest-wins SCD-1 merge as union + window
  dedup: one shuffle on the merge key; at scale both sides would be
  bucketed on o_orderkey so the merge is shuffle-free.
- `rollup_hourly_daily` re-aggregates the hourly rollup into the daily
  one (hypertable-style continuous aggregation): the second aggregate
  reads |hours| rows, not |events| — the cheap path at 100 TB.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import scratch_table
from ..registry import register
from ..sources.tables import load_table
from .relational import _dec, _dsum

# ---------------------------------------------------------------------------
# Selective scan + single aggregate (TPC-H Q6 shape)
# ---------------------------------------------------------------------------


@register(
    "q6_revenue_forecast",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive filter → ungrouped aggregate.

    All four predicates are simple comparisons on scanned columns, so
    they appear in PushedFilters and prune parquet row groups before a
    single partial+final SUM/COUNT — the canonical scan-bound query.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(_dec("l_extendedprice") * _dec("l_discount", 4, 2)).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-join aggregate with pushed top-N (TPC-H Q10 shape)
# ---------------------------------------------------------------------------


@register(
    "q10_returned_revenue",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.

    Plan shape at any scale: orders filtered on date (pushed) joins
    lineitem filtered on returnflag (pushed) shuffling on o_orderkey;
    customer joins on c_custkey; 25-row nation broadcasts; the final
    ORDER+LIMIT compiles to TakeOrderedAndProject (partition-local
    top-20 + driver merge — no global sort).  Exact decimal revenue
    makes the top-20 cut deterministic for the oracle hash.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 4, 2))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Deterministic (hash-bucket) sampling
# ---------------------------------------------------------------------------


@register(
    "sample_hash_deterministic",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sampled_price
FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                 || CAST(l_linenumber AS VARCHAR)), 1, 2) < '14'
GROUP BY l_returnflag
""",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~7.8% deterministic sample (md5 prefix < 0x14) + per-flag summary.

    Unlike ``df.sample()`` (seeded per-partition RNG — resample on
    repartition/retry, never portable across engines), an md5-prefix
    predicate on the row key is engine-independent, retry-stable, and
    embarrassingly parallel: the property an auditable training-data
    subsample needs.  Rate tuning = widening the hex prefix bound.
    """
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return (
        li.where(F.substring(F.md5(key), 1, 2) < "14")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            _dsum(_dec("l_extendedprice")).alias("sampled_price"),
        )
    )


# ---------------------------------------------------------------------------
# Merge / upsert (latest-wins SCD-1)
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_orders",
    oracle="""
WITH updates AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
           2 AS src
    FROM orders WHERE o_orderkey % 10 = 3
), merged AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS src FROM orders
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, src FROM updates
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
    FROM merged
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
FROM ranked WHERE rn = 1
GROUP BY o_orderstatus
""",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (latest-wins upsert) as union + window dedup.

    An update batch (10% of keys, price bumped) is merged into the base
    table: UNION ALL both sides with a source priority, keep row_number
    1 per key ordered by priority.  One shuffle on the merge key; with
    both sides bucketed on o_orderkey at scale the exchange disappears.
    The +100.0 bump is an exact IEEE op so both engines agree bit-wise.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        o.where(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("src", F.lit(2))
    )
    merged = o.withColumn("src", F.lit(1)).unionByName(updates)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("src"))
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice", 14, 2)).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical rollup reuse (hypertable-style continuous aggregate)
# ---------------------------------------------------------------------------


@register(
    "rollup_hourly_daily",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)
def rollup_hourly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily aggregate computed FROM the hourly rollup, not the raw table.

    The hypertable / continuous-aggregate pattern: materialize the
    finest rollup once (|hours| rows), derive coarser grains from it.
    At 100 TB the daily query reads thousands of hourly rows instead of
    re-scanning raw events; counts and decimal sums re-aggregate
    losslessly (the reason AVG is never stored — only sum+count are).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value", 18, 6)).alias("value_dec"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution window functions
# ---------------------------------------------------------------------------


@register(
    "window_distribution_ranks",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / PERCENT_RANK / CUME_DIST per market segment.

    Rank-family windows depend only on the sort order, so the explicit
    (c_acctbal, c_custkey) total order makes every value engine-exact.
    One shuffle on the partition key; each segment sorts locally.
    """
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Distributed vector aggregate: per-label centroid
# ---------------------------------------------------------------------------


@register(
    "vector_centroid_per_label",
    oracle="""
WITH expl AS (
    SELECT label, CAST(r.i AS INT) AS pos,
           CAST(FLOOR(CAST(embedding[CAST(r.i AS INT)] AS DOUBLE)
                      * 1099511627776.0) AS BIGINT) AS val
    FROM embeddings CROSS JOIN range(1, 65) AS r(i)
)
SELECT label, pos,
       CAST(SUM(val) AS DOUBLE) / (COUNT(*) * 1099511627776.0) AS cval
FROM expl GROUP BY label, pos
""",
)
def vector_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label — the distributed reduce
    behind every coarse quantizer / class prototype.

    The scalable shape: posexplode to (label, pos, val) rows, partial+
    final aggregate per (label, pos) — a shuffle of |labels|·dim GROUPS,
    never of vectors.  Elements are fixed-point quantized (×2^40,
    floored — both exact IEEE ops with no rounding-mode dependence,
    unlike decimal casts whose half-up vs half-even ties engines
    disagree on) so the elementwise sums are integer-exact under any
    partial-aggregation order; one double division at the end restores
    the scale.

    Output is the exploded scalar form ``(label, pos, cval)`` rather
    than a reassembled ``array<double>`` column: scalar cells are the
    canonical hashable exchange format (the same reason columnar
    engines keep vectors decomposed until the boundary), and callers
    that want the dense array apply one ``collect_list`` group-by —
    see :func:`centroid_arrays`.
    """
    q = 2.0**40
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(F.col("v").cast("double") * q).alias("val"),
        )
        .groupBy("label", "pos")
        .agg((F.sum("val").cast("double") / (F.count(F.lit(1)) * q)).alias("cval"))
    )


def centroid_arrays(per: DataFrame) -> DataFrame:
    """Reassemble exploded ``(label, pos, cval)`` rows into one
    ``centroid: array<double>`` per label — the dense form consumed by
    quantizer builds (``ann.py``).  Kept separate from the registered
    query so the driver-facing output stays scalar-typed."""
    return per.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))), lambda x: x.cval
        ).alias("centroid")
    )


# ---------------------------------------------------------------------------
# Fuzzy dedup: banded edit-distance pairs
# ---------------------------------------------------------------------------

_ED_BUCKET = 16  # length-band width; |len diff| <= 10 => adjacent band
_ED_MAXDIFF = 10
_ED_THRESHOLD = 30


@register(
    "dedup_editdistance_pairs",
    oracle=f"""
WITH d AS (
    SELECT doc_id, text, lang, n_chars,
           CAST(FLOOR(CAST(n_chars AS DOUBLE) / {_ED_BUCKET}) AS BIGINT) AS b
    FROM documents
), a AS (
    SELECT d.*, b + o.off AS jb
    FROM d CROSS JOIN (VALUES (-1), (0), (1)) AS o(off)
)
SELECT a.doc_id AS a_id, d2.doc_id AS b_id,
       CAST(levenshtein(a.text, d2.text) AS INTEGER) AS dist
FROM a JOIN d AS d2
  ON a.lang = d2.lang AND a.jb = d2.b AND a.doc_id < d2.doc_id
WHERE abs(a.n_chars - d2.n_chars) <= {_ED_MAXDIFF}
  AND levenshtein(a.text, d2.text) <= {_ED_THRESHOLD}
""",
)
def dedup_editdistance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by Levenshtein distance with length banding.

    Naive fuzzy dedup is an O(n²) cross join of O(len²) comparisons.
    The banding makes it tractable at scale: candidates must share
    (lang, length-band) — an EQUI-join key, so Spark shuffles both
    sides on it instead of broadcasting a cross product — and a pair
    within the |len diff| <= 10 gate always lands in adjacent bands of
    width 16, so one side expands to its 3 neighboring bands and no
    pair is missed or double-counted (the other side keeps exactly one
    band).  The distance itself uses Spark's THRESHOLD variant —
    ``levenshtein(a, b, t)`` early-exits once the running distance
    exceeds t (O(len·t) per pair instead of O(len²); ~16x here), the
    difference between a banded scan that survives 100 TB and one that
    does not.  All JVM builtins — no Python in the hot loop.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.floor(F.col("n_chars").cast("double") / _ED_BUCKET)
        .cast("bigint")
        .alias("b"),
    )
    # The probe side carries ALL the levenshtein work (the build side is
    # broadcast), so its partition count IS the parallelism.  A small
    # corpus arrives as one parquet split → one task doing every
    # comparison; round-robin repartition spreads the probe rows over
    # every core (broadcast joins need no co-partitioning, and
    # round-robin is immune to band skew).  At 100 TB the scan already
    # has thousands of splits and this repartition is a no-op cost-wise.
    a = d.repartition(spark.sparkContext.defaultParallelism).withColumn(
        "jb", F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1))
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
        F.col("lang").alias("b_lang"),
        F.col("n_chars").alias("b_n_chars"),
        F.col("b").alias("b_b"),
    )
    bounded = F.levenshtein(F.col("text"), F.col("b_text"), _ED_THRESHOLD)
    return (
        a.join(
            b,
            (F.col("lang") == F.col("b_lang"))
            & (F.col("jb") == F.col("b_b"))
            & (F.col("doc_id") < F.col("b_id")),
        )
        .where(F.abs(F.col("n_chars") - F.col("b_n_chars")) <= _ED_MAXDIFF)
        .withColumn("dist", bounded)
        .where(F.col("dist") >= 0)  # threshold variant returns -1 past t
        .select(F.col("doc_id").alias("a_id"), "b_id", "dist")
    )


# ---------------------------------------------------------------------------
# Aggregate-filtered join (TPC-H Q18 shape: HAVING + top-N)
# ---------------------------------------------------------------------------


@register(
    "q18_large_orders",
    oracle="""
SELECT c_name, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       big.sum_qty
FROM (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200
) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate → HAVING filter → join → top-N.

    The HAVING runs where the data is (post-aggregate filter on the
    grouped side, BEFORE the joins — only ~1% of orders survive to be
    joined), and the final ORDER+LIMIT is TakeOrderedAndProject.  At
    100 TB the lineitem aggregate is the only big shuffle; orders joins
    the small survivor set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qdec"))
        .where(F.col("qdec") > 200)
        .select("l_orderkey", F.col("qdec").cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Map-typed column functions
# ---------------------------------------------------------------------------


@register(
    "scalar_map_functions",
    oracle="""
SELECT event_id,
       2 AS n_keys,
       CAST(json_extract(props, '$.k') AS INT) AS k_val,
       'k,uid_mod' AS keys_csv,
       CAST(json_extract(props, '$.k') AS INT)
         + CAST(user_id % 100 AS INT) AS vals_sum,
       (CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50 THEN 1 ELSE 0 END)
         + (CASE WHEN user_id % 100 > 50 THEN 1 ELSE 0 END) AS n_big
FROM events
""",
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType function family: JSON → map, construction, concat,
    lookup, keys/values, lambda filter, and a fold over values.

    The map stays inside codegen'd JVM expressions end to end (no
    Python, no shuffle — this is a pure projection).  The oracle
    computes the same scalars straight from the JSON because the
    CONTRACT is the values, not the intermediate representation.
    """
    ev = load_table(spark, sf_dir, "events")
    m = F.map_concat(
        F.from_json("props", "map<string,int>"),
        F.create_map(F.lit("uid_mod"), (F.col("user_id") % 100).cast("int")),
    )
    return ev.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_csv"),
        F.aggregate(F.map_values(m), F.lit(0), lambda acc, x: acc + x).alias(
            "vals_sum"
        ),
        F.size(F.map_filter(m, lambda k, v: v > 50)).alias("n_big"),
    )


BASKET_TOP = 15


@register(
    "agg_market_basket_pairs",
    oracle=f"""
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY n_orders DESC, part_a, part_b
LIMIT {BASKET_TOP}
""",
)
def agg_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the part pairs most often bought in
    the same order (the support counts behind association-rule mining,
    Agrawal/Srikant's Apriori setting — public).

    Scale shape: ONE shuffle on the basket id builds each order's part
    array (partial-aggregated collect), then the i<j pair fan-out is a
    row-local array expression — bounded by items-per-order², a
    per-ORDER constant, never corpus-quadratic.  A self-join
    formulation would shuffle the fact table twice (both join sides);
    the collect form shuffles it once, which is why the ORACLE is kept
    as the independent self-join — two different algorithms must agree
    on the counts.  The pair aggregate is map-side combined and the
    top-N collapses to ``TakeOrderedAndProject``.  The strict
    ``part_a < part_b`` filter reproduces the join's semantics exactly,
    including duplicate-part multiplicities."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 2)
    )
    arr = F.col("parts")
    n = F.size(arr)
    pair_lists = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(arr, i + 1, n - i),
                lambda y: F.struct(
                    F.element_at(arr, i).alias("part_a"), y.alias("part_b")
                ),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_lists).alias("pr"))
        .select("pr.part_a", "pr.part_b")
        .where(F.col("part_a") < F.col("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(BASKET_TOP)
    )


@register(
    "agg_gini_concentration",
    oracle="""
WITH ranked AS (
  SELECT c.c_mktsegment AS segment,
         CAST(o.o_totalprice AS DECIMAL(12,2)) AS x,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice, o.o_orderkey) AS i
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
seg AS (
  SELECT segment,
         COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS s,
         CAST(SUM(i * x) AS DOUBLE) AS ws
  FROM ranked GROUP BY segment
)
SELECT segment, n AS n_orders,
       ROUND(((2.0 * ws) / (n * s)) - ((n + 1.0) / n), 6) AS gini
FROM seg
""",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per market segment — the
    inequality statistic a data curator runs on source/domain revenue
    (or token-count) distributions to spot over-concentration.

    Exact despite being rank-weighted: order values are DECIMAL, so
    the rank-weighted sum Σi·xᵢ and the total Σxᵢ are both EXACT
    (associative) aggregates — the only float math is the final
    two-division formula, identically parenthesized in both engines.
    Rank ties (equal x) cannot change Σi·xᵢ, so the orderkey tie-break
    is for determinism of the window, not the result.  Plan: one
    segment-partitioned sort window (range exchange at scale), then a
    ≤n_segments aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ranked = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
            F.row_number()
            .over(
                W.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
            )
            .alias("i"),
        )
    )
    seg = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s"),
        F.sum(F.col("i") * F.col("x")).cast("double").alias("ws"),
    )
    return seg.select(
        "segment",
        F.col("n").alias("n_orders"),
        F.round(
            ((F.lit(2.0) * F.col("ws")) / (F.col("n") * F.col("s")))
            - ((F.col("n") + F.lit(1.0)) / F.col("n")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Statistical moments the hash-exact way: ONE pass of integer power
# sums (map-side combinable bigints), moments derived in the projection
# with explicit identical arithmetic on both engines.  The builtin
# stddev/corr aggregates compute the same values but accumulate doubles
# in partition order, which no cross-engine hash can pin; power sums
# are the scale-correct AND exact formulation (quantity <= 50 and
# discount-hundredths <= 10 keep every sum in bigint range at any SF).
# ---------------------------------------------------------------------------


@register(
    "agg_statistical_moments",
    oracle="""
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS sx,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sx2,
         SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS sy,
         SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
             * CAST(ROUND(l_discount * 100) AS BIGINT)) AS sy2,
         SUM(CAST(l_quantity AS BIGINT)
             * CAST(ROUND(l_discount * 100) AS BIGINT)) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
       SQRT(CAST(n * sx2 - sx * sx AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE)) AS stddev_qty,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * (n - 1) AS DOUBLE) AS covar_qty_disc,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(n * sx2 - sx * sx AS DOUBLE)
                * CAST(n * sy2 - sy * sy AS DOUBLE)) AS corr_qty_disc
FROM sums
ORDER BY l_returnflag
""",
)
def q_agg_statistical_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag mean/stddev/covariance/correlation of quantity vs
    discount, via exact bigint power sums (Σx, Σx², Σy, Σy², Σxy) in a
    single partial+final hash aggregate; the moment formulas then run
    on identical integers in identical order on both engines, so the
    doubles match bitwise.  At 100 TB this is one map-side-combined
    pass — the same shuffle profile as any SUM."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(qty * qty).alias("sx2"),
        F.sum(disc).alias("sy"),
        F.sum(disc * disc).alias("sy2"),
        F.sum(qty * disc).alias("sxy"),
    )
    n, sx, sx2 = F.col("n"), F.col("sx"), F.col("sx2")
    sy, sy2, sxy = F.col("sy"), F.col("sy2"), F.col("sxy")
    return sums.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        (sx.cast("double") / n.cast("double")).alias("mean_qty"),
        F.sqrt(
            (n * sx2 - sx * sx).cast("double") / (n * (n - 1)).cast("double")
        ).alias("stddev_qty"),
        (
            (n * sxy - sx * sy).cast("double") / (n * (n - 1)).cast("double")
        ).alias("covar_qty_disc"),
        (
            (n * sxy - sx * sy).cast("double")
            / F.sqrt(
                (n * sx2 - sx * sx).cast("double")
                * (n * sy2 - sy * sy).cast("double")
            )
        ).alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# A/B experiment readout: Welch's unequal-variance t-test per event
# type — the statistical certificate an event-analytics engine emits
# for experimentation dashboards.  Deterministic hash-bucket variant
# assignment (user_id parity), exact integer sufficient statistics.
# ---------------------------------------------------------------------------

# Shared SQL executed verbatim by BOTH engines (Spark over a temp
# view, DuckDB over the parquet view): identical expression text means
# identical IEEE op order, so the rounded doubles hash bit-for-bit.
# Sufficient statistics are exact BIGINTs (floor(value*1000) millis):
# mv <= ~5.6e5 here, mv^2 <= ~3.2e11, so the per-group SS sum stays
# 2^63-safe up to ~2.9e7 rows per (event_type, variant) cell; past
# that the accumulator widens to DECIMAL(38,0) with the plan unchanged.
# Split into stats + tail so the streaming row can run the IDENTICAL
# tail over incrementally-merged statistics.
_WELCH_STATS_SQL = """m AS (
  SELECT event_type,
         -- ((x % 2) + 2) % 2: non-negative for negative ids (both
         -- engines keep the dividend's sign on %); NULL ids land in
         -- bucket 0 rather than silently dropping out of both arms
         ((COALESCE(user_id, 0) % 2) + 2) % 2 AS v,
         CAST(FLOOR(value * 1000) AS BIGINT) AS mv
  FROM {events}
  -- NULL metrics are excluded from BOTH n and the sums: without this
  -- filter n counts the row while SUM drops its NULL mv, biasing the
  -- means and potentially driving the corrected variance negative
  WHERE value IS NOT NULL
),
g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN v = 0 THEN mv ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN v = 1 THEN mv ELSE 0 END) AS BIGINT) AS s_b,
         CAST(SUM(CASE WHEN v = 0 THEN mv * mv ELSE 0 END) AS BIGINT) AS ss_a,
         CAST(SUM(CASE WHEN v = 1 THEN mv * mv ELSE 0 END) AS BIGINT) AS ss_b
  FROM m
  GROUP BY event_type
)"""

_WELCH_TAIL_SQL = """w AS (
  -- guard: a variant cell with fewer than 2 rows has no variance; the
  -- CASE makes the degenerate output an explicit NULL row on BOTH
  -- engines (unguarded x/0 is NULL here but Infinity on engines with
  -- IEEE division, so the guard is also what keeps the hash stable)
  SELECT event_type, n_a, n_b,
         CASE WHEN n_a > 1 AND n_b > 1
              THEN (CAST(s_a AS DOUBLE) / 1000.0) / n_a END AS mean_a,
         CASE WHEN n_a > 1 AND n_b > 1
              THEN (CAST(s_b AS DOUBLE) / 1000.0) / n_b END AS mean_b,
         CASE WHEN n_a > 1 AND n_b > 1
              THEN (CAST(ss_a AS DOUBLE) / 1000000.0
                    - n_a * ((CAST(s_a AS DOUBLE) / 1000.0) / n_a)
                          * ((CAST(s_a AS DOUBLE) / 1000.0) / n_a)) / (n_a - 1)
         END AS var_a,
         CASE WHEN n_a > 1 AND n_b > 1
              THEN (CAST(ss_b AS DOUBLE) / 1000000.0
                    - n_b * ((CAST(s_b AS DOUBLE) / 1000.0) / n_b)
                          * ((CAST(s_b AS DOUBLE) / 1000.0) / n_b)) / (n_b - 1)
         END AS var_b
  FROM {stats}
)
SELECT event_type, n_a, n_b,
       ROUND(mean_a, 6) AS mean_a,
       ROUND(mean_b, 6) AS mean_b,
       -- zero-variance guard: a constant-valued cell has
       -- var_a/n_a + var_b/n_b = 0, and x/0 is NULL on Spark (non-ANSI)
       -- but Inf/NaN on IEEE-division engines — the explicit CASE keeps
       -- the degenerate output NULL on BOTH engines
       CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
         ROUND((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b), 6)
       END AS t_stat,
       CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
         ROUND((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
               / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                  + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 6)
       END AS welch_df,
       CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
         ABS((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b)) > 1.96
       END AS significant_95
FROM w
ORDER BY event_type
"""


def welch_sql(events_rel: str) -> str:
    """The full batch query: stats CTEs over ``events_rel`` + tail."""
    return (
        "WITH "
        + _WELCH_STATS_SQL.replace("{events}", events_rel)
        + ",\n"
        + _WELCH_TAIL_SQL.replace("{stats}", "g")
    )


def welch_tail_sql(stats_rel: str) -> str:
    """The tail alone, over a relation already holding the per-type
    sufficient statistics (the streaming row's merged state)."""
    return "WITH " + _WELCH_TAIL_SQL.replace("{stats}", stats_rel)


@register("stats_ab_welch", oracle=functools.partial(welch_sql, "events"))
def q_stats_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test per event type over a deterministic
    A/B split (user_id parity — reproducible on any cluster size, any
    retry, unlike rand() assignment).

    Scale shape: ONE corpus pass — the sufficient statistics (n, sum,
    sum-of-squares per variant) collapse in a 5-key hash aggregate with
    map-side partials, so the only exchange is 5 rows x 6 longs no
    matter the corpus size; every t/df/mean derives from those integers
    in a final projection.  Cross-engine determinism: both engines run
    THIS identical SQL text (Spark over a temp view), so every IEEE op
    sequence matches and the ROUND(6) outputs value-hash exactly; the
    accumulators are exact milli-unit BIGINTs, immune to partition
    order.  The Welch form (unequal variances, Satterthwaite df) is the
    standard experimentation readout; |t| > 1.96 flags ~95% two-sided
    significance."""
    events = scratch_table(load_table(spark, sf_dir, "events"), "ab_events_")
    return spark.sql(welch_sql(events))


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng, Xu, Kohavi, Walker, WSDM 2013 —
# "Improving the Sensitivity of Online Controlled Experiments"): adjust
# each user's experiment-period metric by their PRE-period metric,
# y' = y - theta * (x - x_bar), theta = cov(x,y)/var(x) — the standard
# trick every experimentation platform runs to shrink A/B confidence
# intervals.  Same engine contract as stats_ab_welch: exact integer
# sufficient statistics, one shared SQL text on both engines.
# ---------------------------------------------------------------------------

_CUPED_SQL = """
WITH u AS (
  -- user-level metrics: milli-exact sums floored to whole units, so
  -- the squared/cross sums below stay far inside BIGINT (x,y <= ~1e5
  -- per user; ~1e17 pooled headroom at 1e7 users — widen to
  -- DECIMAL(38,0) past that, plan unchanged)
  SELECT ((COALESCE(user_id, 0) % 2) + 2) % 2 AS v,
         CAST(FLOOR(CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END)
                    AS DOUBLE) / 1000) AS BIGINT) AS x,
         CAST(FLOOR(CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                    THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END)
                    AS DOUBLE) / 1000) AS BIGINT) AS y
  FROM {events}
  GROUP BY user_id
),
g AS (
  SELECT v,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM u
  GROUP BY v
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(sx) AS BIGINT) AS sx,
         CAST(SUM(sy) AS BIGINT) AS sy,
         CAST(SUM(sxy) AS BIGINT) AS sxy,
         CAST(SUM(sxx) AS BIGINT) AS sxx,
         CAST(SUM(syy) AS BIGINT) AS syy
  FROM g
),
th AS (
  -- pooled theta and pooled variances, every op in DOUBLE over the
  -- exact integers (identical expression text on both engines); the
  -- CASE guards make degenerate cells (n<2 users, zero pre-period
  -- variance) explicit NULLs on BOTH engines — unguarded x/0 is NULL
  -- on Spark but Infinity on IEEE-division engines
  SELECT CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
         THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS theta,
         CAST(sx AS DOUBLE) / n AS mean_x_all,
         CASE WHEN n > 1 THEN
           (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (n - 1) END AS var_y,
         CASE WHEN n > 1 THEN
           (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
           / (n - 1) END AS var_x,
         CASE WHEN n > 1 THEN
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (n - 1) END AS cov_xy
  FROM tot
)
SELECT g.v AS variant,
       g.n AS n_users,
       ROUND(CAST(g.sx AS DOUBLE) / g.n, 6) AS mean_pre,
       ROUND(CAST(g.sy AS DOUBLE) / g.n, 6) AS mean_post,
       ROUND(CAST(g.sy AS DOUBLE) / g.n
             - th.theta * (CAST(g.sx AS DOUBLE) / g.n - th.mean_x_all), 6)
         AS mean_adjusted,
       ROUND(th.theta, 6) AS theta,
       CASE WHEN th.var_y <> 0.0 THEN
         ROUND(100.0 * (1.0 - (th.var_y - 2.0 * th.theta * th.cov_xy
                             + th.theta * th.theta * th.var_x) / th.var_y), 2)
       END AS var_reduction_pct
FROM g CROSS JOIN th
ORDER BY variant
"""


@register("stats_ab_cuped", oracle=_CUPED_SQL.format(events="events"))
def q_stats_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout: pre-period covariate adjustment with
    pooled theta, per-variant adjusted means, and the realized pooled
    variance-reduction percentage (the quantity that decides whether
    the adjustment was worth running).

    Scale shape: TWO hash aggregates — user-level metric rollup (keyed
    by user, map-side combined) then the 2-key variant rollup; the only
    data-sized exchange is the user grouping every sessionization
    already pays.  Cross-engine: same device as stats_ab_welch — exact
    BIGINT sufficient statistics, one shared SQL text, so theta and the
    adjusted means hash bit for bit; the variant split is the same
    sign-safe user-parity rule."""
    events = scratch_table(load_table(spark, sf_dir, "events"), "cuped_events_")
    return spark.sql(_CUPED_SQL.format(events=events))


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail: before reading ANY experiment
# metric, check that the variant assignment itself is healthy — a
# 50/50 split whose realized counts deviate beyond chance means the
# bucketing or logging is broken and every downstream readout is
# invalid (standard first gate in experimentation platforms; Fabijan
# et al. 2019 describe the practice).  One-sample chi-square against
# the expected 1/2 ratio, per event type and overall.
# ---------------------------------------------------------------------------

_SRM_SQL = """
WITH m AS (
  SELECT event_type, ((COALESCE(user_id, 0) % 2) + 2) % 2 AS v
  FROM {events}
),
g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM m GROUP BY event_type
),
a AS (
  SELECT event_type, n_a, n_b FROM g
  UNION ALL
  SELECT 'ALL' AS event_type,
         CAST(SUM(n_a) AS BIGINT) AS n_a, CAST(SUM(n_b) AS BIGINT) AS n_b
  FROM g
)
SELECT event_type, n_a, n_b,
       -- chi-square vs expected 50/50: (n_a-n_b)^2 / (n_a+n_b),
       -- exact integers until the final division
       ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)
         AS chi2,
       -- truly integer cross-multiplied alarm (100*diff^2 stays BIGINT
       -- up to ~3e8-row imbalances; widen to DECIMAL(38,0) past that)
       CAST(100 * (n_a - n_b) * (n_a - n_b) > 384 * (n_a + n_b) AS BOOLEAN)
         AS srm_alarm_95
FROM a
ORDER BY event_type
"""


@register("stats_ab_srm_check", oracle=_SRM_SQL.format(events="events"))
def q_stats_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRM guardrail for the user-parity A/B split: per-event-type and
    pooled chi-square of the realized variant counts against the
    designed 50/50 ratio; alarm at the 3.84 one-degree-of-freedom 95%
    critical value, evaluated as an integer-heavy cross-multiplication
    so the flag is engine-exact.  One corpus pass, 5-key agg + a 5-row
    rollup — the cheapest query in the experimentation family, and the
    one that must run FIRST."""
    events = scratch_table(load_table(spark, sf_dir, "events"), "srm_events_")
    return spark.sql(_SRM_SQL.format(events=events))


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (the production bootstrap for
# data too large to resample by index — each row enters replicate b
# with an independent Poisson(1) weight, so one scan serves all
# replicates; public descriptions e.g. Chamandy et al., "Estimating
# Uncertainty for Massive Data Streams", Google research 2012).
# Weights are DERIVED DETERMINISTICALLY from the shared md5-60 hash via
# the MinHash permutation family, so both engines draw the identical
# "random" weights and the whole row value-hashes exactly.
# ---------------------------------------------------------------------------

BOOT_B = 16  # replicates = the shared permutation family's size
# cumulative Poisson(1) thresholds scaled to the MERSENNE31 hash range.
# Eight terms: the ELSE branch (weight 8) absorbs only the P(X >= 8)
# ~1.1e-6 tail, so the inverse-CDF weights are Poisson(1) to within
# ~1e-6 total mass (a 5-term table left ~5.9e-4 of rows truncated at 5,
# a visible systematic under-weighting).
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]


def _boot_thresholds() -> list[int]:
    from ..functions.hashing import MERSENNE31

    return [int(c * MERSENNE31) for c in _POIS_CDF]


def _bootstrap_oracle() -> str:
    from ..functions.hashing import MINHASH_A, MINHASH_B, MERSENNE31
    from ..functions.hashing import duckdb_hash60_mod

    t = _boot_thresholds()
    h = duckdb_hash60_mod("CAST(event_id AS VARCHAR)")
    w_cols = []
    for b in range(BOOT_B):
        u = f"(({MINHASH_A[b]} * h + {MINHASH_B[b]}) % {MERSENNE31})"
        w = (
            f"CASE WHEN {u} < {t[0]} THEN 0 WHEN {u} < {t[1]} THEN 1 "
            f"WHEN {u} < {t[2]} THEN 2 WHEN {u} < {t[3]} THEN 3 "
            f"WHEN {u} < {t[4]} THEN 4 WHEN {u} < {t[5]} THEN 5 "
            f"WHEN {u} < {t[6]} THEN 6 WHEN {u} < {t[7]} THEN 7 ELSE 8 END"
        )
        w_cols.append(f"{w} AS w{b}")
    sums = ",\n         ".join(
        f"CAST(SUM(w{b}) AS BIGINT) AS sw{b},\n"
        f"         CAST(SUM(w{b} * mv) AS BIGINT) AS swx{b}"
        for b in range(BOOT_B)
    )
    means = ",\n       ".join(
        f"CASE WHEN sw{b} > 0 THEN (CAST(swx{b} AS DOUBLE) / 1000.0) / sw{b} END AS m{b}"
        for b in range(BOOT_B)
    )
    msum = " + ".join(f"m{b}" for b in range(BOOT_B))
    vsum = " + ".join(
        f"(m{b} - ({msum}) / {BOOT_B}.0) * (m{b} - ({msum}) / {BOOT_B}.0)"
        for b in range(BOOT_B)
    )
    w_block = ",\n         ".join(w_cols)
    return f"""
WITH m AS (
  SELECT event_type,
         CAST(FLOOR(value * 1000) AS BIGINT) AS mv,
         {h} AS h
  FROM events
  -- keep n and the weighted sums over the same row set (a NULL value
  -- would be counted by n but dropped by SUM, biasing every replicate)
  WHERE value IS NOT NULL
),
wts AS (
  SELECT event_type, mv,
         {w_block}
  FROM m
),
g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mv) AS BIGINT) AS smv,
         {sums}
  FROM wts
  GROUP BY event_type
),
bm AS (
  SELECT event_type, n,
       (CAST(smv AS DOUBLE) / 1000.0) / n AS exact_mean,
       {means}
  FROM g
)
SELECT event_type, n,
       ROUND(exact_mean, 6) AS exact_mean,
       ROUND(SQRT(({vsum}) / {BOOT_B - 1}.0), 6) AS boot_se,
       ROUND(exact_mean - 1.96 * SQRT(({vsum}) / {BOOT_B - 1}.0), 6) AS ci_lo,
       ROUND(exact_mean + 1.96 * SQRT(({vsum}) / {BOOT_B - 1}.0), 6) AS ci_hi
FROM bm
ORDER BY event_type
"""


@register("stats_bootstrap_poisson_ci", oracle=_bootstrap_oracle)
def q_stats_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean with a Poisson-bootstrap 95% CI in ONE
    corpus pass: each row carries BOOT_B deterministic Poisson(1)
    weights (inverse-CDF over MinHash permutations of the shared
    md5-60 row hash — reproducible on any cluster, any retry, any
    engine, unlike rand()), the per-type aggregate folds all
    replicates as 2xBOOT_B integer sums, and the standard error is an
    expression over the BOOT_B mean columns in a FIXED left-to-right
    order (no float reduction whose order an engine could choose).
    At 100 TB the exchange stays 5 rows x 34 longs; this is how
    production systems attach uncertainty to metrics without a second
    pass or index resampling."""
    from ..functions.hashing import MERSENNE31, MINHASH_A, MINHASH_B, md5_hash60_mod

    t = _boot_thresholds()
    ev = load_table(spark, sf_dir, "events")
    h = md5_hash60_mod(F.col("event_id").cast("string"))
    base = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("mv"),
        h.alias("h"),
    )
    wcols = []
    for b in range(BOOT_B):
        u = (F.lit(MINHASH_A[b]) * F.col("h") + F.lit(MINHASH_B[b])) % F.lit(
            MERSENNE31
        )
        w = (
            F.when(u < t[0], 0)
            .when(u < t[1], 1)
            .when(u < t[2], 2)
            .when(u < t[3], 3)
            .when(u < t[4], 4)
            .when(u < t[5], 5)
            .when(u < t[6], 6)
            .when(u < t[7], 7)
            .otherwise(8)
        )
        wcols.append(w.alias(f"w{b}"))
    wts = base.select("event_type", "mv", *wcols)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("mv").alias("smv"),
    ]
    for b in range(BOOT_B):
        aggs.append(F.sum(F.col(f"w{b}")).cast("long").alias(f"sw{b}"))
        aggs.append(F.sum(F.col(f"w{b}") * F.col("mv")).alias(f"swx{b}"))
    g = wts.groupBy("event_type").agg(*aggs)
    exact_mean = (F.col("smv").cast("double") / F.lit(1000.0)) / F.col("n")
    bm = g.select(
        "event_type",
        "n",
        exact_mean.alias("exact_mean"),
        *[
            # zero weight-sum guard (P = 0.368^n per replicate for an
            # n-row cell): an explicit NULL on both engines, where an
            # unguarded x/0 would be NULL here but Inf under IEEE
            F.when(
                F.col(f"sw{b}") > 0,
                (F.col(f"swx{b}").cast("double") / F.lit(1000.0))
                / F.col(f"sw{b}"),
            ).alias(f"m{b}")
            for b in range(BOOT_B)
        ],
    )
    msum = None
    for b in range(BOOT_B):
        msum = F.col(f"m{b}") if msum is None else msum + F.col(f"m{b}")
    # materialize the replicate grand mean once: inlining it into all
    # 16 squared terms (x3 output columns) balloons the Catalyst tree
    # ~100x and costs ~15 s of cold codegen for zero runtime benefit
    bm = bm.select("*", (msum / F.lit(float(BOOT_B))).alias("mbar"))
    vsum = None
    for b in range(BOOT_B):
        term = (F.col(f"m{b}") - F.col("mbar")) * (F.col(f"m{b}") - F.col("mbar"))
        vsum = term if vsum is None else vsum + term
    bm = bm.select("*", F.sqrt(vsum / F.lit(float(BOOT_B - 1))).alias("se"))
    se = F.col("se")
    return bm.select(
        "event_type",
        "n",
        F.round("exact_mean", 6).alias("exact_mean"),
        F.round(se, 6).alias("boot_se"),
        F.round(F.col("exact_mean") - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(F.col("exact_mean") + F.lit(1.96) * se, 6).alias("ci_hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quartiles): the
# classic customer-analytics rollup — one pass to user-level metrics,
# then NTILE ranks over the bounded user table.  Exercises NTILE,
# which no other registered row covers.
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH u AS (
  SELECT user_id,
         CAST(MAX(event_id) AS BIGINT) AS last_event_id,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS monetary_milli
  FROM {events}
  WHERE event_type = 'purchase'
  GROUP BY user_id
),
scored AS (
  SELECT user_id, last_event_id, frequency, monetary_milli,
         NTILE(4) OVER (ORDER BY last_event_id DESC, user_id NULLS LAST) AS r_quartile,
         NTILE(4) OVER (ORDER BY frequency DESC, user_id NULLS LAST) AS f_quartile,
         NTILE(4) OVER (ORDER BY monetary_milli DESC, user_id NULLS LAST) AS m_quartile
  FROM u
)
SELECT CAST(r_quartile AS INTEGER) AS r_quartile,
       CAST(f_quartile AS INTEGER) AS f_quartile,
       CAST(m_quartile AS INTEGER) AS m_quartile,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(monetary_milli) AS BIGINT) AS segment_milli
FROM scored
GROUP BY r_quartile, f_quartile, m_quartile
ORDER BY r_quartile, f_quartile, m_quartile
"""


@register("events_rfm_segments", oracle=_RFM_SQL.format(events="events"))
def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over purchase events: user-level recency
    (latest event_id — a monotone proxy with deterministic ties,
    unlike raw timestamps), frequency, and exact milli monetary sums,
    quartiled by three NTILE windows with (metric DESC, user_id) tie
    breaks, rolled up to segment sizes.

    Scale shape: the corpus collapses to ONE row per purchasing user
    in a map-side-combined agg before any window runs; the NTILEs
    then rank the bounded user table (unpartitioned by design — RFM
    quartiles are global statements; at 1e9 users you shard by a
    coarse user-hash band and ntile within band, same plan shape).
    The identical SQL text runs on both engines, so the quartile cuts
    — which depend on exact rank arithmetic — hash bit for bit."""
    events = scratch_table(load_table(spark, sf_dir, "events"), "rfm_events_")
    return spark.sql(_RFM_SQL.format(events=events))
