"""Scale-technique operators: the physical-strategy surface a 100 TB
deployment leans on, each demonstrated as a correct (oracle-checked)
query so the technique is exercised, not just described.

- **Salted aggregation**: two-phase agg for skewed keys.  ``l_returnflag``
  has 3 values — at 100 TB a naive groupBy sends a third of the table
  to one reducer.  Salting fans each hot key over SALT buckets
  (partials), then merges the partials (3×SALT rows).  Results are
  identical because the aggregates are associative/commutative (counts
  + DECIMAL sums; decimal addition is exact so re-association is safe —
  this is why the sums are decimal-typed, not double).
- **Bucketed co-located join**: both fact tables written bucketed+sorted
  on the join key; a join between them needs NO shuffle — the
  sort-merge join reads co-bucketed files directly.  This is the
  Spark-native analog of the reference delegating layout to an index
  (reference server.py:87 leans on Neo4j's index layout the same way).
- **Exact grouped quantiles** via ``percentile`` (exact, sort-based) —
  and a sketch variant via ``percentile_approx`` (t-digest-style, one
  pass, mergeable) for the scale path where exact sorting is
  unaffordable.
- **Fixed-width histogram**: bin = floor(x / width) — a pure map-side
  expression + small hash agg, the scan-friendly way to profile a
  100 TB column.
- **Sketch distincts**: HyperLogLog++ ``approx_count_distinct`` — sub-%
  error, constant memory, mergeable across partitions (exact distinct
  shuffles every key).  Approximate ⇒ registered without an oracle
  (rows-only driver check); tests assert relative error vs exact.
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..artifacts import load_or_build
from ..registry import register
from ..sources.tables import load_table, spread, table_path
from ..cache import scratch_persist

N_SALTS = 16
PRICE_BIN = 5000.0
N_BUCKETS = 8
R = 6


def _ddl(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def load_or_build_bucketed(
    spark: SparkSession, sf_dir: str, table: str, key: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """Return ``table`` from ``sf_dir`` as a bucketed+sorted catalog
    table.  Bucketed layouts are ingest-time artifacts reused across
    queries (the build-once discipline of the IVF index store).

    The build writes the bucketed files once, through a temporary
    catalog entry that it drops again.  The bucket spec lives in table
    metadata, so every session attaches the published files with one
    CREATE TABLE over them — a metadata operation, not a re-shuffle of
    the data."""
    df = load_table(spark, sf_dir, table)

    def build(out: str) -> dict:
        scratch = f"bucketed_build_{uuid.uuid4().hex}"
        writer = df.write.bucketBy(n_buckets, key).sortBy(key).option("path", out)
        writer.saveAsTable(scratch)
        spark.sql(f"DROP TABLE {scratch}")  # external: the files stay
        return {}

    params = {"table": table, "key": key, "buckets": n_buckets, "v": 1}
    path, _ = load_or_build("bucketed", params, [table_path(sf_dir, table)], build)
    name = f"bucketed_{table}_{Path(path).parent.name}"  # the entry's key
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} ({_ddl(df)}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(name)


@register(
    "agg_salted_skew",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value (maximally skewed)
    key.  Phase 1 groups on (key, salt) — SALT-way parallel even for a
    single hot key; phase 2 merges the tiny partials.  The salt comes
    from a uniform column (l_orderkey) so partials are balanced."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("__salt", F.pmod(F.col("l_orderkey"), F.lit(N_SALTS)))
    partial = salted.groupBy("l_returnflag", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("pq"),
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("pp"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        F.sum("pq").cast("double").alias("sum_qty"),
        F.sum("pp").cast("double").alias("sum_price"),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketed layout.

    Both tables are written ``bucketBy(N, key).sortBy(key)``; reading
    them back, the sort-merge join's Exchange is elided on BOTH sides
    (asserted in tests/test_plans.py).  At 100 TB this layout decision
    is the difference between re-shuffling the largest table on every
    join and never shuffling it at all; the write cost is paid once at
    ingest.  (The tiny post-join agg still shuffles 5 groups.)
    """
    # MERGE hint: at correctness scale Catalyst would broadcast the
    # small side (also correct); the hint pins the strategy this
    # operator demonstrates — the co-located sort-merge join neither
    # side of which shuffles, which is the only viable plan when both
    # facts are 100 TB-class.
    ob = load_or_build_bucketed(spark, sf_dir, "orders", "o_orderkey").hint("merge")
    lb = load_or_build_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    revenue = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    return (
        ob.join(lb, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


@register(
    "agg_quantiles_exact",
    oracle=f"""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), {R}) AS q25,
       ROUND(quantile_cont(l_extendedprice, 0.50), {R}) AS q50,
       ROUND(quantile_cont(l_extendedprice, 0.75), {R}) AS q75,
       ROUND(quantile_cont(l_extendedprice, 0.99), {R}) AS q99
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the definition)."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = {"q25": 0.25, "q50": 0.50, "q75": 0.75, "q99": 0.99}
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_extendedprice, {p})"), R).alias(name)
            for name, p in qs.items()
        ]
    )


@register(
    "agg_histogram_prices",
    oracle=f"""
SELECT CAST(FLOOR(l_extendedprice / {PRICE_BIN}) AS BIGINT) AS bin,
       COUNT(*) AS n,
       ROUND(MIN(l_extendedprice), {R}) AS lo,
       ROUND(MAX(l_extendedprice), {R}) AS hi
FROM lineitem
GROUP BY 1
""",
)
def agg_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = F.floor(F.col("l_extendedprice") / PRICE_BIN).cast("long")
    return li.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), R).alias("lo"),
        F.round(F.max("l_extendedprice"), R).alias("hi"),
    )


# Sketch parameters + acceptance bounds for the accuracy certificate.
HLL_RSD = 0.01          # approx_count_distinct relative standard deviation
HLL_TOLERANCE = 3 * HLL_RSD   # 3σ — deterministic per fixture, never flaky
PCTL_ACCURACY = 10000   # percentile_approx: rank error ≤ 1/accuracy
PCTL_RANK_SLACK = 10.0 / PCTL_ACCURACY  # 10× the documented rank error


@register(
    "agg_approx_sketches",
    oracle="""
SELECT COUNT(DISTINCT l_partkey)  AS nd_partkey,
       COUNT(DISTINCT l_suppkey)  AS nd_suppkey,
       COUNT(DISTINCT l_orderkey) AS nd_orderkey,
       TRUE AS hll_partkey_ok, TRUE AS hll_suppkey_ok, TRUE AS hll_orderkey_ok,
       TRUE AS p50_ok, TRUE AS p99_ok
FROM lineitem
""",
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass mergeable sketches — HLL++ distinct counts + quantile
    sketch — emitted as an ACCURACY CERTIFICATE so the row is
    hash-verifiable (VERDICT r4 #1): raw sketch values are not
    SQL-reproducible, but "the sketch is within its documented error of
    the exact answer" is a deterministic boolean both engines can state.
    The query computes approx AND exact in one pass and returns the
    exact counts (hash-checked against DuckDB's exact counts) plus one
    boolean per sketch: HLL within 3σ of its configured rsd; the
    percentile value inside the exact-quantile band at ±10× the
    documented rank error.  The oracle asserts the booleans TRUE — a
    sketch drifting out of bounds flips a bit and fails the hash.

    At 100 TB only the sketch half of this pass survives (the exact
    distincts/percentiles here exist to certify it); the sketches are
    mergeable map-side partials — O(1) state per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    lo50, hi50 = 0.5 - PCTL_RANK_SLACK, 0.5 + PCTL_RANK_SLACK
    lo99, hi99 = 0.99 - PCTL_RANK_SLACK, 0.99 + PCTL_RANK_SLACK
    agg = li.agg(
        F.countDistinct("l_partkey").alias("nd_partkey"),
        F.countDistinct("l_suppkey").alias("nd_suppkey"),
        F.countDistinct("l_orderkey").alias("nd_orderkey"),
        F.approx_count_distinct("l_partkey", rsd=HLL_RSD).alias("a_pk"),
        F.approx_count_distinct("l_suppkey", rsd=HLL_RSD).alias("a_sk"),
        F.approx_count_distinct("l_orderkey", rsd=HLL_RSD).alias("a_ok"),
        F.percentile_approx("l_extendedprice", 0.5, PCTL_ACCURACY).alias("ap50"),
        F.percentile_approx("l_extendedprice", 0.99, PCTL_ACCURACY).alias("ap99"),
        F.expr(
            f"percentile(l_extendedprice, array({lo50!r}, {hi50!r}, {lo99!r}, {hi99!r}))"
        ).alias("bands"),
    )

    def hll_ok(approx: str, exact: str) -> F.Column:
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= F.lit(HLL_TOLERANCE) * F.col(exact)
        )

    return agg.select(
        "nd_partkey",
        "nd_suppkey",
        "nd_orderkey",
        hll_ok("a_pk", "nd_partkey").alias("hll_partkey_ok"),
        hll_ok("a_sk", "nd_suppkey").alias("hll_suppkey_ok"),
        hll_ok("a_ok", "nd_orderkey").alias("hll_orderkey_ok"),
        F.col("ap50").between(F.col("bands")[0], F.col("bands")[1]).alias("p50_ok"),
        F.col("ap99").between(F.col("bands")[2], F.col("bands")[3]).alias("p99_ok"),
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT l_returnflag AS flag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(f.weight AS DECIMAL(8,4))) AS DOUBLE) AS sum_weight
FROM lineitem
JOIN (VALUES ('A', 1.5), ('N', 2.25), ('R', 0.75)) AS f(flag, weight)
  ON l_returnflag = f.flag
GROUP BY l_returnflag
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SKEW JOIN: the fact side's join key has 3 values (maximal
    skew — a plain shuffle join lands ~1/3 of the table on one task).

    The salting pattern: the fact side appends ``salt = uniform mod S``
    to its key; the (tiny but assume-unbroadcastable) build side is
    replicated S times via explode so every (key, salt) pair exists.
    The join key becomes (key, salt) — S-way parallelism per hot key,
    bit-identical result.  This is what you reach for when AQE's
    runtime skew splitting isn't available (e.g. the build side is big
    enough to shuffle but a few probe keys are hot).  Salt comes from
    l_orderkey (uniform, deterministic — never rand(), which breaks
    retry idempotence).
    """
    li = load_table(spark, sf_dir, "lineitem")
    weights = spark.createDataFrame(
        [("A", 1.5), ("N", 2.25), ("R", 0.75)], ["flag", "weight"]
    )
    replicated = weights.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)]))
    )
    salted = li.withColumn("__salt", F.pmod(F.col("l_orderkey"), F.lit(N_SALTS)))
    return (
        salted.join(
            replicated.hint("shuffle_hash"),  # forbid broadcast: demo the shuffle path
            (F.col("l_returnflag") == F.col("flag"))
            & (salted["__salt"] == replicated["__salt"]),
        )
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("weight").cast("decimal(8,4)")).cast("double").alias(
                "sum_weight"
            ),
        )
    )


@register(
    "agg_mode_deterministic",
    oracle="""
WITH counts AS (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus
        ORDER BY n DESC, o_orderpriority) AS rn
    FROM counts
)
SELECT o_orderstatus, o_orderpriority AS modal_priority, n AS modal_count
FROM ranked WHERE rn = 1
""",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group (most frequent value, ties broken by
    value).  Built-in mode() leaves tie order engine-defined — the
    count+window formulation pins it, and its plan is two partial/final
    aggregates plus a WindowGroupLimit, all scale-safe."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("modal_count"),
        )
    )


N_RANGE_PARTS = 8


@register(
    "sort_global_rank",
    oracle="""
SELECT o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
FROM orders
WHERE o_totalprice > 400000
""",
)
def sort_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed global rank (dense total order) WITHOUT the
    single-partition window.

    ``ROW_NUMBER() OVER (ORDER BY ...)`` with no PARTITION BY collapses
    the whole input into ONE task — the classic scale cliff.  This
    operator gets the identical answer with bounded parallelism and NO
    window operator anywhere:

    1. ``repartitionByRange`` on the sort key → partition i holds keys
       strictly ordered before partition i+1 (range exchange, sampled
       boundaries), then ``sortWithinPartitions`` (narrow);
    2. ``monotonically_increasing_id`` encodes (partition, row-offset)
       as ``pid << 33 | offset`` in row order — a pure projection, so
       the local rank costs NO shuffle and no window exchange;
    3. per-partition row counts (tiny: N_RANGE_PARTS rows) → offsets
       via a nested-loop self-join on the tiny side, broadcast back;
    4. global rank = local rank + rows in all earlier partitions.

    The persist pins the sampled range boundaries so steps 2 and 3 see
    the SAME partitioning.  Ties are broken by the unique key so the
    rank is deterministic and oracle-hashable.
    """
    o = load_table(spark, sf_dir, "orders")
    mask = (1 << 33) - 1
    keyed = (
        o.where(F.col("o_totalprice") > 400000)
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .repartitionByRange(N_RANGE_PARTS, F.desc("o_totalprice"), F.asc("o_orderkey"))
        .sortWithinPartitions(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .withColumn("mid", F.monotonically_increasing_id())
        .withColumn("pid", F.shiftright("mid", 33))
        .withColumn("local_rn", F.col("mid").bitwiseAND(F.lit(mask)) + 1)
        .transform(scratch_persist)
    )
    counts = keyed.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    earlier = counts.select(F.col("pid").alias("b_pid"), F.col("n").alias("b_n"))
    offsets = (
        counts.join(F.broadcast(earlier), F.col("b_pid") < F.col("pid"), "left")
        .groupBy("pid")
        .agg(F.coalesce(F.sum("b_n"), F.lit(0)).alias("offset"))
    )
    return (
        keyed.join(F.broadcast(offsets), "pid")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("local_rn") + F.col("offset")).cast("long").alias("rnk"),
        )
    )


# Heavy-hitters support threshold for the frequent-items certificate.
FI_SUPPORT = 0.0335


@register(
    "agg_freq_items_certificate",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
tot AS (SELECT COUNT(*) AS n_total FROM toks)
SELECT tok, COUNT(*) AS n, TRUE AS in_sketch
FROM toks, tot
GROUP BY tok, tot.n_total
HAVING COUNT(*) > {FI_SUPPORT} * tot.n_total
""",
)
def agg_freq_items_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitters (``DataFrame.stat.freqItems`` — the
    Karp/Papadimitriou/Shenker one-pass algorithm) certified the same
    way as ``agg_approx_sketches``: the sketch's documented guarantee
    is ONE-SIDED (every item with frequency > support·n is returned;
    false positives allowed), so the hash-verifiable statement is
    "every EXACT heavy hitter is in the sketch result".  The query
    computes the exact heavy hitters (hash-checked against DuckDB) and
    flags each with its sketch membership; the oracle asserts TRUE —
    a sketch that ever drops a true heavy hitter fails the hash.

    At 100 TB the KPS pass is the map-side O(1/support)-state scan you
    run INSTEAD of the exact token aggregate; the exact side here
    exists to certify it (and is itself just the word-frequency
    aggregate — O(vocab) shuffle, map-side combined)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    total = toks.count()  # scalar table stat; the oracle recomputes it
    sketch_items = set(toks.stat.freqItems(["tok"], support=FI_SUPPORT).first()[0])
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > F.lit(FI_SUPPORT) * F.lit(float(total)))
    )
    return exact.withColumn(
        "in_sketch", F.col("tok").isin(*sorted(sketch_items))
    )


@register(
    "join_bloom_runtime_filter",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderpriority
""",
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join: Catalyst's ``InjectRuntimeFilter``
    builds a bloom filter over the FILTERED build side's join keys and
    pushes ``might_contain`` into the probe side's scan — probe rows
    whose key cannot match are dropped at the scan, before the shuffle.

    This is THE mechanism that makes selective fact-fact joins viable
    at 100 TB: a shuffle join moves both full tables; with the runtime
    filter the probe side sheds (1 - selectivity) of its rows pre-
    shuffle for the cost of an 8 MB bitmap broadcast.  Unlike a semi
    join rewrite it is best-effort (false positives only re-admit rows
    the join then drops), so plan correctness never depends on it.

    The injection thresholds are SQL confs; to avoid mutating the
    shared session (any query planned concurrently would compile with
    broadcast joins disabled), the plan is built in a CHILD session
    (``spark.newSession()`` — same SparkContext, isolated SQLConf)
    where the thresholds are set permanently and harmlessly.  At local
    test scale the probe scan is below the default 10 GB application-
    side threshold that would enable the rule untouched on a real
    cluster.  The plan is asserted in tests/test_plans.py
    (``might_contain`` present)."""
    child = spark.newSession()
    # isolated conf: bloom on with zeroed size thresholds, broadcast
    # off while planning — a broadcast join already prunes via its
    # build-side relation, so the rule only fires for shuffle joins
    child.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    child.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    o = load_table(child, sf_dir, "orders")
    li = load_table(child, sf_dir, "lineitem")
    sel = o.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        sel.join(li, sel.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


DPP_DIM_ROWS = [("R", "returned"), ("A", "accepted"), ("N", "none")]


def _dpp_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once l_returnflag-partitioned lineitem layout (the
    partitioned-fact precondition DPP prunes against)."""

    def build(out: str) -> dict:
        li = load_table(spark, sf_dir, "lineitem")
        li.select(
            "l_orderkey", "l_extendedprice", "l_returnflag"
        ).repartition("l_returnflag").write.partitionBy("l_returnflag").parquet(
            out
        )
        return {}

    return load_or_build("dpp", {"v": 1}, [table_path(sf_dir, "lineitem")], build)[0]


@register(
    "join_dpp_partitioned",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_returnflag
""",
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a filter on the DIMENSION side prunes
    the partitioned FACT scan at runtime — the broadcast join's build
    side doubles as a `dynamicpruning` subquery on the fact's partition
    column, so unneeded partitions are never read.

    This is the partitioned-lake sibling of the runtime bloom filter
    (`join_bloom_runtime_filter`): bloom sheds ROWS pre-shuffle, DPP
    sheds whole PARTITIONS pre-scan.  At 100 TB with a date- or
    category-partitioned fact table, DPP is routinely the difference
    between scanning 3 partitions and 3000 — and it composes with
    static pruning and pushdown for free.  Plan-asserted in
    tests/test_plans.py (`dynamicpruningexpression` on the fact scan).

    The fact layout builds once per sf_dir (cached like the IVF index);
    the dim is a genuinely separate table — DPP does not fire on a
    self-derived dim (Catalyst collapses it), which is itself the
    honest contract: pruning needs an independent filter source."""
    fact = spark.read.parquet(_dpp_layout(spark, sf_dir))
    dim = spark.createDataFrame(DPP_DIM_ROWS, "flag string, label string")
    return (
        fact.join(F.broadcast(dim), fact.l_returnflag == dim.flag)
        .where(F.col("label") == "returned")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


HLL_REL_ERR = 0.05  # default lgK=12 gives ~1.6% standard error; 3σ bound


@register(
    "agg_hll_mergeable_certificate",
    oracle="""
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_exact,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_sketches_merged,
       TRUE AS union_estimate_ok
FROM documents
""",
)
def agg_hll_mergeable_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL MERGEABILITY, certified: per-language
    sketches (`hll_sketch_agg`) union into one corpus sketch
    (`hll_union_agg`) whose estimate must land within the documented
    error of the exact distinct count — computed in the same query so
    the oracle can hash-check the whole statement.

    Mergeability is the property that makes sketches THE 100 TB
    distinct-count answer: each partition/day/source sketches
    independently (map-side, constant memory), and any grouping of the
    binary sketches unions later without re-reading data — the exact
    distinct here exists only to certify the estimate (same device as
    `agg_approx_sketches` / `agg_freq_items_certificate`)."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.expr("hll_sketch_agg(doc_id)").alias("sk"))
    unioned = per_lang.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_sketches_merged"),
    )
    exact = d.agg(F.countDistinct("doc_id").alias("n_exact"))
    return exact.crossJoin(unioned).select(
        "n_exact",
        "n_sketches_merged",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= F.lit(HLL_REL_ERR) * F.col("n_exact")
        ).alias("union_estimate_ok"),
    )


MAD_K = 3.0  # outlier cut: |x - median| > K * MAD


@register(
    "agg_mad_outliers",
    oracle=f"""
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), {R}) AS m
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, med.m,
         ROUND(ABS(e.value - med.m), {R}) AS ad
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(ad, 0.5), {R}) AS mad
  FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       COUNT(*) AS n_events,
       MIN(dev.m) AS median_value,
       MIN(mad.mad) AS mad_value,
       CAST(SUM(CASE WHEN dev.ad > {MAD_K} * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
""",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: median-absolute-deviation outlier
    counts per event type — the monitoring pass a pipeline runs over
    metrics where mean/stddev are poisoned by the very outliers being
    hunted (MAD's breakdown point is 50% vs 0% for z-scores).

    Plan shape: two exact grouped medians (sort-based within ≤n_types
    groups, the `agg_quantiles_exact` machinery) chained by BROADCAST
    joins of the tiny per-type stats back onto the stream — the corpus
    is scanned twice but never shuffled on anything wider than
    event_type.  At 100 TB the exact medians swap for
    `percentile_approx` sketches with the same query shape (the
    certificate device of `agg_approx_sketches` then bounds the
    error).

    Cross-engine determinism: the median and the absolute deviations
    are ROUNDED to R decimals BEFORE the MAD and the K*MAD comparison
    on both sides (Spark's `percentile` interpolates lower*(1-f)+
    upper*f, DuckDB's `quantile_cont` lower+(upper-lower)*f — same
    value mathematically, different last-ULP), so the outlier count
    compares identical rounded doubles in both engines — the repo's
    round-before-compare convention."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), R).alias("m")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.round(F.abs(F.col("value") - F.col("m")), R)
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(ad, 0.5)"), R).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("m").alias("median_value"),
            F.min("mad").alias("mad_value"),
            F.sum(
                (F.col("ad") > F.lit(MAD_K) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmap aggregates
    (Spark's ``bitmap_bit_position`` / ``bitmap_construct_agg`` /
    ``bitmap_count`` — the mechanism ClickHouse/Druid/Iceberg use for
    fast exact distincts over dense integer keys).

    Two-level shape: ids bucket into 32768-bit segments
    (``bitmap_bucket_number``), each (group, bucket) partial-aggregates
    its ids into ONE bitmap (bytes, not a set of longs — the shuffle
    carries ≤4 KB per bucket regardless of how many ids it holds), and
    the per-group distinct is the SUM of per-bucket bit counts.
    Against ``count(distinct)``'s expand-dedup (which shuffles every
    distinct id), the bitmap form's shuffle volume is data-bounded by
    id-RANGE/8 bytes — the 100 TB answer when keys are dense integers;
    HLL (`agg_hll_mergeable_certificate`) remains the answer when they
    are not.  Exact ⇒ plain equality oracle, no certificate needed."""
    e = load_table(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("n"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_users")
    )


# AQE skew-join demonstration: the RUNTIME sibling of join_salted_skew.
SKEW_HOT_MOD = 10  # l_orderkey % 10 > 0 -> hot key 0 (~90% of rows)
SKEW_KEYS = 5      # matches region's 5 rows


@register(
    "join_aqe_skew_rewrite",
    oracle=f"""
WITH lk AS (
  SELECT CASE WHEN l_orderkey % {SKEW_HOT_MOD} > 0 THEN 0
              ELSE 1 + (l_orderkey // {SKEW_HOT_MOD}) % ({SKEW_KEYS} - 1)
              END AS skew_key,
         l_extendedprice
  FROM lineitem
)
SELECT lk.skew_key,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(lk.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
         AS revenue,
       MIN(r.r_name) AS region_name
FROM lk JOIN region r ON r.r_regionkey = lk.skew_key
GROUP BY lk.skew_key
""",
)
def join_aqe_skew_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE's runtime skew-join rewrite (``OptimizeSkewedJoin``) —
    completing the skew story next to MANUAL salting
    (``join_salted_skew``): a 90%-hot derived key would land one
    straggler sort-merge partition; AQE splits it at runtime into
    advisory-sized map-range chunks (replicating the matching build
    rows per chunk), marking the join ``skew=true`` with an
    ``AQEShuffleRead skewed`` child — asserted post-execution in
    tests/test_plans.py.

    The demonstration encodes three real preconditions of the rule:
    (1) both SMJ children must be bare Sort(shuffle) stages — a dim
    built by aggregation puts a HashAggregate between Sort and shuffle
    and the rule cannot split through it, so the dim here is the plain
    5-row region table with broadcast disabled; (2) skew chunks are
    MAP-RANGE splits, so a single-mapper scan (one parquet file)
    cannot be split — the fact scan is spread across mappers first
    (the tables.spread discipline; a 100 TB scan has thousands of
    mappers already); (3) a downstream agg keyed on the join key
    requires the join's partitioning, so splitting needs
    ``forceOptimizeSkewedJoin`` (or no such consumer).

    Plan-scoped confs via a CHILD session (the bloom-filter query's
    discipline — the shared session is never mutated): thresholds
    lowered to fixture bytes; at 100 TB the DEFAULTS (256 MB
    partitions, 5x median) fire on real skew untouched.  Result values
    are AQE-invariant (splitting reorders work, not arithmetic), so
    the certificate is a plain grouped aggregate both engines compute
    exactly."""
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "true")
    child.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    child.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    child.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k"
    )
    child.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    child.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
    # keep the post-shuffle coalescer from merging the skew splits back
    child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    li = spread(load_table(child, sf_dir, "lineitem"))
    reg = load_table(child, sf_dir, "region")
    hot = F.when(
        F.col("l_orderkey") % SKEW_HOT_MOD > 0, F.lit(0).cast("long")
    ).otherwise(
        F.lit(1)
        + (F.col("l_orderkey") / SKEW_HOT_MOD).cast("long") % (SKEW_KEYS - 1)
    )
    lk = li.select(hot.alias("skew_key"), "l_extendedprice")
    dim = reg.select(
        F.col("r_regionkey").cast("long").alias("skew_key"), "r_name"
    )
    return (
        lk.join(dim, "skew_key")
        .groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("revenue"),
            F.min("r_name").alias("region_name"),
        )
    )


# AQE runtime SMJ→broadcast conversion: the planner's STATIC size
# estimate cannot see how selective the dim filter is; the runtime
# shuffle statistics can.
AQE_BCAST_MOD = 1009  # o_orderkey % 1009 = 0 -> a few hundred orders


@register(
    "join_aqe_broadcast_conversion",
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem l
JOIN (SELECT * FROM orders WHERE o_orderkey % {AQE_BCAST_MOD} = 0) o
  ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_join_aqe_broadcast_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE's runtime join-strategy demotion of a shuffle: with STATIC
    broadcast disabled (the planner's pre-filter size estimate cannot
    prove the dim side small) the initial plan is sort-merge; after the
    dim side's shuffle stage materializes, its ACTUAL bytes sit far
    under the runtime broadcast threshold and
    ``OptimizeShuffleWithLocalRead``/``AQEOptimizer`` replans the join
    as BroadcastHashJoin — asserted post-execution (isFinalPlan=true)
    in tests/test_plans.py.  At 100 TB this is the filter-heavy
    fact-to-dim join AQE wins without any manual hint; values are
    strategy-invariant so the certificate is a plain aggregate."""
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "true")
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
    child.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    li = load_table(child, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load_table(child, sf_dir, "orders")
        .where(F.col("o_orderkey") % AQE_BCAST_MOD == 0)
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
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
# Count-min sketch certificate: point-frequency estimation joins the
# sketch family (HLL = distinct, freqItems = heavy hitters, bitmap =
# exact dense ids, CMS = per-key counts)
# ---------------------------------------------------------------------------

CMS_EPS = 0.001  # overestimate bound: est - exact <= eps * total_tokens
CMS_CONF = 0.999
CMS_SEED = 42
CMS_TOP = 12  # probe the top-N tokens (deterministic: count DESC, tok ASC)


@register(
    "agg_count_min_certificate",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (
  SELECT tok, COUNT(*) AS n_exact FROM toks GROUP BY tok
)
SELECT tok, CAST(n_exact AS BIGINT) AS n_exact,
       TRUE AS cms_ge_exact, TRUE AS cms_within_eps
FROM counts
ORDER BY n_exact DESC, tok
LIMIT {CMS_TOP}
""",
)
def q_agg_count_min_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built by
    ``DataFrame.stat.countMinSketch`` in ONE distributed pass (map-side
    partial sketches, constant memory per task, merged by +), then
    certified against exact counts for the corpus's top tokens: the
    estimate can never undercount (``cms_ge_exact``) and the seeded
    sketch's overestimate stays within the published ``eps·N`` bound
    (``cms_within_eps``).  Like the HLL/freqItems certificates, the
    exact aggregate exists only to certify the sketch — at 100 TB the
    sketch is the answer (a few KB shuffled instead of the token
    stream), and two corpora's sketches ADD to answer union queries
    without re-reading either."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    # one distributed pass; the merged sketch is a few KB of binary
    sk_bytes = bytes(
        toks.agg(
            F.count_min_sketch(
                "tok", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
            ).alias("sk")
        ).first()["sk"]
    )
    jvm = spark._jvm  # noqa: SLF001 — deserializing Spark's own sketch binary
    jin = jvm.java.io.ByteArrayInputStream(sk_bytes)
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(jin)
    total = cms.totalCount()  # the sketch carries the exact stream length
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(CMS_TOP)
        .collect()  # bounded: CMS_TOP rows
    )
    bound = CMS_EPS * total
    rows = [
        (
            r["tok"],
            int(r["n_exact"]),
            cms.estimateCount(r["tok"]) >= r["n_exact"],
            cms.estimateCount(r["tok"]) - r["n_exact"] <= bound,
        )
        for r in top
    ]
    return spark.createDataFrame(
        rows, "tok string, n_exact long, cms_ge_exact boolean, cms_within_eps boolean"
    )


KLL_RANK_TOL = 0.05  # default k=200 gives ~1.65% rank error at 99% conf


@register(
    "agg_kll_quantile_certificate",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_sketches_merged,
       TRUE AS median_rank_ok
FROM events
""",
)
def q_agg_kll_quantile_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches KLL quantile MERGEABILITY, certified:
    per-event-type sketches (``kll_sketch_agg_double``) merge into one
    corpus sketch (``kll_sketch_merge_double``) whose median estimate
    must land within the documented rank error of the true median —
    the rank of the estimate among the exact values is recomputed in
    the same statement, so the oracle hash-checks the certificate.
    KLL is the 100 TB quantile answer for the same reason HLL is the
    distinct answer: constant-memory map-side sketches, any grouping
    merges later without re-reading data, and the error bound is on
    RANK (distribution-free), unlike ``approx_percentile``'s
    accuracy parameter."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.expr("kll_sketch_agg_double(value)").alias("sk")
    )
    # kll_sketch_merge_double is a PAIRWISE scalar merge; fold the
    # (bounded: one per event_type) sketches in deterministic key order
    merged = per_type.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(event_type, sk))),"
            " x -> x.sk)"
        ).alias("sks")
    ).select(
        F.expr(
            "kll_sketch_get_quantile_double("
            " aggregate("
            "  slice(sks, 2, greatest(size(sks) - 1, 0)),"
            "  element_at(sks, 1),"
            "  (acc, x) -> kll_sketch_merge_double(acc, x)),"
            " 0.5D)"
        ).alias("est"),
        F.size("sks").cast("long").alias("n_sketches_merged"),
    )
    return (
        e.crossJoin(F.broadcast(merged))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.first("n_sketches_merged").alias("n_sketches_merged"),
            (
                F.abs(
                    F.sum((F.col("value") <= F.col("est")).cast("long"))
                    / F.count(F.lit(1))
                    - F.lit(0.5)
                )
                <= F.lit(KLL_RANK_TOL)
            ).alias("median_rank_ok"),
        )
    )


# ---------------------------------------------------------------------------
# AQE shuffle coalescing: the third runtime-replan mechanism (with the
# skew rewrite and the SMJ→broadcast conversion) as a gate row
# ---------------------------------------------------------------------------

COALESCE_OVERPARTITION = 200  # deliberately oversized static shuffle width


@register(
    "agg_aqe_coalesced_partitions",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_aqe_coalesced_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE partition COALESCING: the static conf asks for an absurd
    200-partition shuffle for a 5-group aggregate; at runtime
    ``CoalesceShufflePartitions`` measures the actual map output and
    collapses the read into a handful of partitions
    (``AQEShuffleRead coalesced``, asserted post-execution in
    tests/test_plans.py).  This is the mechanism that makes a global
    `spark.sql.shuffle.partitions` setting survivable at 100 TB: the
    cluster-wide width is sized for the biggest shuffle, and AQE
    shrinks every smaller exchange instead of scheduling thousands of
    near-empty reducers.  Values are width-invariant, so the
    certificate is a plain aggregate."""
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "true")
    child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    child.conf.set("spark.sql.shuffle.partitions", str(COALESCE_OVERPARTITION))
    o = load_table(child, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch: mergeable distinct-count AND set
# intersection — the set operation HLL cannot do
# ---------------------------------------------------------------------------

KMV_K = 64


def _kmv_sketch(base: DataFrame, flag: str) -> DataFrame:
    """K smallest hashes of one side — ``orderBy(h).limit(K)`` compiles
    to TakeOrderedAndProject: per-partition top-K, then a K-row merge,
    never a global sort."""
    return base.where(F.col(flag)).select("h").orderBy("h").limit(KMV_K)


def _kmv_oracle() -> str:
    from ..functions.hashing import duckdb_hex15_to_bigint

    h_sql = duckdb_hex15_to_bigint(
        "md5('kmv:' || CAST(user_id AS VARCHAR) || ':' || CAST(eday AS VARCHAR))"
    )
    return f"""
WITH days AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
         MAX(event_type = 'purchase') AS in_a,
         MAX(event_type = 'error') AS in_b
  FROM events
  WHERE event_type IN ('purchase', 'error')
  GROUP BY 1, 2
),
base AS (
  SELECT in_a, in_b, {h_sql} AS h FROM days
),
exacts AS (
  SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a_exact,
         CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b_exact,
         CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS inter_exact,
         CAST(COUNT(*) AS BIGINT) AS union_exact
  FROM base
),
sk_a AS (SELECT h FROM base WHERE in_a ORDER BY h LIMIT {KMV_K}),
sk_b AS (SELECT h FROM base WHERE in_b ORDER BY h LIMIT {KMV_K}),
merged AS (
  SELECT DISTINCT h FROM (SELECT h FROM sk_a UNION ALL SELECT h FROM sk_b)
  ORDER BY h LIMIT {KMV_K}
),
metrics AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size,
         CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sketch_agree,
         CAST(MAX(m.h) AS BIGINT) AS h_k
  FROM merged m
  LEFT JOIN sk_a a ON a.h = m.h
  LEFT JOIN sk_b b ON b.h = m.h
)
SELECT CAST({KMV_K} AS BIGINT) AS k,
       e.n_a_exact, e.n_b_exact, e.inter_exact, e.union_exact,
       CAST(e.inter_exact * 1000000 // e.union_exact AS BIGINT) AS jaccard_exact_micro,
       m.sketch_size, m.sketch_agree,
       CAST(m.sketch_agree * 1000000 // m.sketch_size AS BIGINT) AS jaccard_kmv_micro,
       CAST(CASE WHEN m.sketch_size < {KMV_K} THEN m.sketch_size
                 ELSE CAST(FLOOR(({KMV_K - 1}.0e0 * 1152921504606846976.0e0)
                                 / CAST(m.h_k AS DOUBLE)) AS BIGINT)
            END AS BIGINT) AS union_est,
       ABS(CAST(m.sketch_agree * 1000000 // m.sketch_size AS BIGINT)
           - CAST(e.inter_exact * 1000000 // e.union_exact AS BIGINT)) <= 250000
         AS kmv_within_bounds
FROM exacts e CROSS JOIN metrics m
"""


@register("agg_kmv_jaccard_certificate", oracle=_kmv_oracle)
def agg_kmv_jaccard_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketch over two user-day sets (days a user
    purchased vs days a user hit an error): mergeable distinct-union
    estimate AND a Jaccard/intersection estimate — the set algebra HLL
    structurally cannot answer (agg_hll_mergeable_certificate
    certifies union only).

    Unlike the HLL row (whose sketch internals are engine-private, so
    only the error bound is certified), the KMV sketch CONTENT is the
    K smallest portable md5-60 hashes — bit-identical in DuckDB — so
    the oracle replays the whole sketch pipeline and every estimate is
    value-hashed, not just bounded.

    Scale shape: the exact side is ONE groupBy(user_id) flag pass +
    one global agg (no join between the four exact counts); each
    sketch is a TakeOrderedAndProject (per-partition bottom-K, K-row
    merge — the treeAggregate shape); the merged sketch is bottom-K of
    the two K-row sketches, so merging S shards moves S*K longs
    regardless of corpus size.  The single-row sketch/exact combine is
    a BroadcastHashJoin on a constant key — never a cartesian.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "error")
    )
    base = (
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("eday"),
            "event_type",
        )
        .groupBy("user_id", "eday")
        .agg(
            F.max(F.col("event_type") == "purchase").alias("in_a"),
            F.max(F.col("event_type") == "error").alias("in_b"),
        )
        .withColumn(
            "h",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("kmv:"),
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("eday").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    exacts = base.agg(
        F.sum(F.col("in_a").cast("long")).alias("n_a_exact"),
        F.sum(F.col("in_b").cast("long")).alias("n_b_exact"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long")).alias("inter_exact"),
        F.count(F.lit(1)).alias("union_exact"),
    ).withColumn("one", F.lit(1))

    sk_a = _kmv_sketch(base, "in_a").withColumn("ia", F.lit(1))
    sk_b = _kmv_sketch(base, "in_b").withColumn("ib", F.lit(1))
    merged = (
        sk_a.select("h")
        .union(sk_b.select("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )
    metrics = (
        merged.join(sk_a, "h", "left")
        .join(sk_b, "h", "left")
        .agg(
            F.count(F.lit(1)).alias("sketch_size"),
            F.sum(
                (F.coalesce("ia", F.lit(0)) * F.coalesce("ib", F.lit(0))).cast(
                    "long"
                )
            ).alias("sketch_agree"),
            F.max("h").alias("h_k"),
        )
        .withColumn("one", F.lit(1))
    )

    out = exacts.join(F.broadcast(metrics), "one").drop("one")
    k_eff = F.col("sketch_size")
    jacc_kmv = F.expr(f"sketch_agree * 1000000 DIV sketch_size")
    jacc_exact = F.expr("inter_exact * 1000000 DIV union_exact")
    union_est = F.when(
        k_eff < F.lit(KMV_K), F.col("sketch_size").cast("long")
    ).otherwise(
        F.floor(
            (F.lit(float(KMV_K - 1)) * F.lit(1152921504606846976.0))
            / F.col("h_k").cast("double")
        ).cast("long")
    )
    return out.select(
        F.lit(KMV_K).cast("long").alias("k"),
        "n_a_exact",
        "n_b_exact",
        "inter_exact",
        "union_exact",
        jacc_exact.cast("long").alias("jaccard_exact_micro"),
        "sketch_size",
        "sketch_agree",
        jacc_kmv.cast("long").alias("jaccard_kmv_micro"),
        union_est.alias("union_est"),
        (
            F.abs(jacc_kmv - jacc_exact) <= F.lit(250_000)
        ).alias("kmv_within_bounds"),
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch (Alon-Matias-Szegedy 1996): the second frequency moment
# Σ f_x² — the self-join size, THE cardinality a cost-based optimizer
# wants before picking a join strategy.  32 ±1-sign estimators derived
# from independent bits of the shared md5-60 hash, each estimator
# E[(Σ sign_i(x)·f_x)²] = F2; all arithmetic exact BIGINT, the exact F2
# computed side by side so the row certifies the estimator's error.
# ---------------------------------------------------------------------------

AMS_K = 32


def _ams_oracle() -> str:
    from ..functions.hashing import duckdb_hex15_to_bigint

    h60 = duckdb_hex15_to_bigint("md5(tok)")
    cs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN (h >> {i}) & 1 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS c{i}"
        for i in range(AMS_K)
    )
    est = " + ".join(f"c{i} * c{i}" for i in range(AMS_K))
    return f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT ({h60}) AS h FROM toks),
s AS (
  SELECT {cs}
  FROM h
),
ex AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact,
         CAST(SUM(f) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM (SELECT COUNT(*) AS f FROM toks GROUP BY tok) t
)
SELECT ex.n_tokens, ex.n_distinct, ex.f2_exact,
       CAST({est} AS BIGINT) AS est_sum,
       ROUND(CAST({est} AS DOUBLE) / {AMS_K}, 2) AS f2_estimate,
       ROUND(100.0 * ABS(CAST({est} AS DOUBLE) / {AMS_K} - ex.f2_exact)
             / ex.f2_exact, 2) AS rel_err_pct
FROM s CROSS JOIN ex
"""


@register("agg_ams_f2_certificate", oracle=_ams_oracle)
def q_agg_ams_f2_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch vs exact, one row: the 32
    sign-sums collapse in a SINGLE map-side-combined ungrouped
    aggregate (the exchange is 32 longs regardless of corpus size —
    the sketch never materializes per-token state), the exact side is
    one token hash agg, and the 1x1-row combine attaches the
    certificate.  Signs come from 32 independent bits of the shared
    md5-60 hash (same cross-engine device as MinHash/KMV), so every
    sign-sum is an exact BIGINT both engines reproduce bit for bit;
    estimator variance is ~sqrt(2/32)·F2, and the emitted rel_err_pct
    certifies the realized error.  Mergeability is plain addition of
    the 32 longs (the HLL/KMV rows certify the nontrivial merge
    shapes).  At 100 TB this is the one-pass join-size estimator a
    planner consults before choosing broadcast vs shuffle."""
    from ..functions.hashing import md5_hash60

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select(md5_hash60(F.col("tok")).alias("h"))
    sign_sums = h.groupBy().agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 0, 1).otherwise(-1)
            )
            .cast("long")
            .alias(f"c{i}")
            for i in range(AMS_K)
        ]
    )
    est = None
    for i in range(AMS_K):
        term = F.col(f"c{i}") * F.col(f"c{i}")
        est = term if est is None else est + term
    ex = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .groupBy()
        .agg(
            F.sum(F.col("f") * F.col("f")).alias("f2_exact"),
            F.sum("f").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    rel = (
        F.lit(100.0)
        * F.abs(est.cast("double") / F.lit(AMS_K) - F.col("f2_exact"))
        / F.col("f2_exact")
    )
    return sign_sums.crossJoin(ex).select(
        "n_tokens",
        "n_distinct",
        "f2_exact",
        est.cast("long").alias("est_sum"),
        F.round(est.cast("double") / F.lit(AMS_K), 2).alias("f2_estimate"),
        F.round(rel, 2).alias("rel_err_pct"),
    )


# ---------------------------------------------------------------------------
# agg_weighted_quantiles — exact TOKEN-weighted length quantiles per
# source: "the median token lives in a document of length X" — the
# statistic that actually sets max_seq_len / pack capacity (doc-count
# quantiles understate it badly: a few long docs carry most tokens).
# Exact lower weighted quantile, all-integer: smallest n_tok whose
# running token mass reaches q of the source total, with the quantile
# fraction kept as num/den so NO float enters the comparison — the
# engines cannot drift.  Both windows and the final rollup share one
# source-keyed exchange.
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_quantiles",
    oracle="""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
c AS (
  SELECT source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY n_tok, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(n_tok) OVER (PARTITION BY source) AS totw
  FROM t
)
SELECT source,
       CAST(MIN(CASE WHEN 2 * cumw >= totw THEN n_tok END) AS BIGINT)
         AS p50_tok_weighted,
       CAST(MIN(CASE WHEN 10 * cumw >= 9 * totw THEN n_tok END) AS BIGINT)
         AS p90_tok_weighted,
       CAST(MAX(totw) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM c GROUP BY source ORDER BY source
""",
)
def q_agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted p50/p90 of doc token length per source, weight =
    the token count itself.  One running-sum window ordered (n_tok,
    doc_id), one frame-less total window on the same partitioning, one
    rollup — a single exchange end to end; at 100 TB the per-source
    ordering is the only sort and it is per-shard parallel."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    t = d.select("source", "doc_id", n_tok.alias("n_tok"))
    w_run = (
        W.partitionBy("source")
        .orderBy("n_tok", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = t.select(
        "source",
        "n_tok",
        F.sum("n_tok").over(w_run).alias("cumw"),
        F.sum("n_tok").over(W.partitionBy("source")).alias("totw"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("n_tok")))
            .cast("long")
            .alias("p50_tok_weighted"),
            F.min(
                F.when(10 * F.col("cumw") >= 9 * F.col("totw"), F.col("n_tok"))
            )
            .cast("long")
            .alias("p90_tok_weighted"),
            F.max("totw").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .orderBy("source")
    )
