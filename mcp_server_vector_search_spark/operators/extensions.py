"""User-defined extension surface: UDF / UDAF / UDTF.

The reference's only extension point is the MCP tool endpoint itself
(SURVEY.md §2.3 — no in-query functions at all); a real engine needs
all three function kinds.  Each demo here is Arrow-batched (pandas
UDF/UDAF) or iterator-based (UDTF) — never row-at-a-time pickle — and
each is oracle-checked by re-expressing the semantics in SQL, which is
exactly the discipline that keeps custom code honest.

Scale notes: a scalar pandas UDF is a map-side batch transform (no
shuffle); a grouped-agg pandas UDAF shuffles only the group key +
input column; a UDTF is generative (1:N) and its fan-out multiplies
downstream row counts — the same caveat as ``explode``.  Where a
built-in expression exists (as for all three demos), the built-in wins
— these exist to prove the extension path, and the oracle proves the
custom code computes what it claims.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import scratch_table
from ..registry import register
from ..sources.tables import load_table

R = 6


# --- scalar pandas UDF ------------------------------------------------------

@F.pandas_udf(T.DoubleType())
def _log1p_abs(v: pd.Series) -> pd.Series:
    """Vectorized scalar UDF: ln(1+|x|) over an Arrow batch (numpy —
    one call per batch, no per-row Python)."""
    return np.log1p(np.abs(v))


@register(
    "udf_scalar_pandas",
    oracle=f"""
SELECT event_id, ROUND(ln(1 + abs(value)), {R}) AS log1p_value
FROM events WHERE event_id < 3000
""",
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    return e.select(
        "event_id", F.round(_log1p_abs("value"), R).alias("log1p_value")
    )


# --- grouped-agg pandas UDAF ------------------------------------------------

@F.pandas_udf(T.DoubleType())
def _geometric_mean(v: pd.Series) -> float:
    """Grouped-aggregate UDAF: geometric mean of |x|+1 per group.
    Receives the WHOLE group's column as one pandas Series (shuffled by
    the group key), returns one scalar."""
    return float(np.exp(np.mean(np.log1p(np.abs(v)))))


@register(
    "udaf_grouped_geomean",
    oracle=f"""
SELECT event_type, ROUND(exp(avg(ln(1 + abs(value)))), {R}) AS geomean
FROM events GROUP BY event_type
""",
)
def udaf_grouped_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(_geometric_mean("value"), R).alias("geomean")
    )


# --- Python UDTF ------------------------------------------------------------

@F.udtf(returnType="pos int, tok string", useArrow=True)
class _TokenizeUDTF:
    """Generative table function: one (position, token) row per token.
    The UDTF registration path (Spark 4) — semantically ``posexplode``
    over a split, which is what the oracle uses to check it.  Arrow
    eval (``useArrow=True`` → ArrowEvalPythonUDTF) so even the demo
    UDTF honors the no-row-at-a-time-pickle policy the plan lint
    enforces (tests/test_plan_lint.py)."""

    def eval(self, text: str):
        if text is None:
            return
        for i, tok in enumerate(text.split(" ")):
            yield (i, tok)


@register(
    "udtf_tokenize",
    oracle="""
SELECT doc_id, CAST(t.k - 1 AS INTEGER) AS pos, string_split(text, ' ')[t.k] AS tok
FROM documents, UNNEST(range(1, LEN(string_split(text, ' ')) + 1)) AS t(k)
WHERE doc_id < 100
""",
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    spark.udtf.register("tokenize_udtf", _TokenizeUDTF)
    docs = scratch_table(d, "udtf_docs_")
    return spark.sql(
        f"""
        SELECT d.doc_id, t.pos, t.tok
        FROM {docs} d, LATERAL tokenize_udtf(d.text) t
        """
    )


# --- grouped-map applyInPandas ---------------------------------------------

_ZSCORE_SCHEMA = "event_type string, n long, max_z double, min_z double"


def _round_half_away(x: float, nd: int) -> float:
    """Round-half-AWAY-from-zero — the mode DuckDB ROUND and Spark
    F.round share; Python's round() is banker's (half-even), which
    would diverge from the oracle exactly on .xxxxx5 boundaries."""
    p = 10.0**nd
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def _zscore_extremes(pdf: pd.DataFrame) -> pd.DataFrame:
    """Whole-group pandas logic: per-type z-normalize, emit extremes.
    One Arrow batch per group — the arbitrary-per-group-computation
    slot (model scoring, per-entity fits) that pure SQL can't express
    in general; z-scores here keep it oracle-checkable."""
    v = pdf["value"]
    m, s = v.mean(), v.std(ddof=1)
    # Degenerate groups (single row -> s is NaN; constant value -> s == 0)
    # would give pandas NaN/inf z-scores where the SQL oracle's
    # (value-m)/s yields NULL — emit NULL extremes explicitly so both
    # paths agree by construction.
    if len(pdf) < 2 or not s or pd.isna(s):
        max_z = min_z = None
    else:
        z = (v - m) / s
        max_z = _round_half_away(float(z.max()), R)
        min_z = _round_half_away(float(z.min()), R)
    return pd.DataFrame(
        [
            {
                "event_type": pdf["event_type"].iloc[0],
                "n": int(len(pdf)),
                "max_z": max_z,
                "min_z": min_z,
            }
        ]
    )


@register(
    "udf_grouped_map_zscore",
    oracle=f"""
WITH stats AS (
  SELECT event_type, value,
         AVG(value) OVER (PARTITION BY event_type) AS m,
         STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS s
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       ROUND(MAX((value - m) / s), {R}) AS max_z,
       ROUND(MIN((value - m) / s), {R}) AS min_z
FROM stats GROUP BY event_type
""",
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: the per-KEY arbitrary-pandas slot
    (the batch sibling of ``applyInPandasWithState``).  Each group
    arrives as ONE pandas DataFrame over Arrow; output is one summary
    row per group.

    Scale: one shuffle on the group key, then group-local Python.  The
    caveat this operator demonstrates honestly: a group must fit one
    worker's memory — keys with unbounded cardinality-per-key need the
    salted/aggregate forms instead (operators/scale.py).  Events have
    ~4 types here, each bounded; the oracle re-expresses the z-score
    extremes in pure SQL to certify the pandas path."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").applyInPandas(
        _zscore_extremes, schema=_ZSCORE_SCHEMA
    )


# ---------------------------------------------------------------------------
# mapInArrow: the RecordBatch-level Python eval path — no pandas
# conversion at all, the lowest-overhead Arrow slot (what a columnar
# native extension would target).
# ---------------------------------------------------------------------------


@register(
    "udf_map_in_arrow",
    oracle="""
SELECT l_orderkey,
       CAST(l_quantity * 2 AS DOUBLE) AS double_qty,
       CAST(LEN(CAST(l_orderkey AS VARCHAR)) AS INTEGER) AS key_digits
FROM lineitem
WHERE l_orderkey % 101 = 0
ORDER BY l_orderkey, double_qty
""",
)
def q_udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the transform receives raw ``pyarrow.RecordBatch``es
    and answers with RecordBatches — zero pandas materialization, the
    cheapest Python slot Spark offers (the target for columnar native
    extensions).  The batch math runs in ``pyarrow.compute`` kernels
    (C++, SIMD), so even the Python stage does no per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def double_qty(batches):
        for batch in batches:
            qty = pc.multiply(
                pc.cast(batch.column("l_quantity"), pa.float64()),
                pa.scalar(2.0),
            )
            digits = pc.utf8_length(
                pc.cast(batch.column("l_orderkey"), pa.string())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("l_orderkey"),
                    qty,
                    pc.cast(digits, pa.int32()),
                ],
                ["l_orderkey", "double_qty", "key_digits"],
            )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 101 == 0)
        .select("l_orderkey", "l_quantity")
    )
    return li.mapInArrow(
        double_qty, schema="l_orderkey long, double_qty double, key_digits int"
    ).orderBy("l_orderkey", "double_qty")


# ---------------------------------------------------------------------------
# Observation API: in-flight metrics collected DURING execution — the
# engine's data-quality/monitoring hook (no second scan to audit a
# write: the metrics ride the job that does the work).
# ---------------------------------------------------------------------------


@register(
    "observe_metrics_certificate",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_key
FROM lineitem
""",
)
def q_observe_metrics_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe``: named aggregate metrics accumulated BY THE
    RUNNING JOB (here a full-scan count) and read off the Observation
    handle afterwards — the mechanism that lets a 100 TB ingest write
    emit row counts / quality stats without a second audit scan.  The
    observed values are returned as the result row; the oracle
    recomputes them independently, so a metrics bug (lost partition,
    double count) breaks the value hash."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("ingest_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "ingest" job
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_qty"], m["min_key"], m["max_key"])],
        "n_rows long, sum_qty double, min_key bigint, max_key bigint",
    )


# --- polymorphic UDTF (static analyze) ---------------------------------------

from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult  # noqa: E402


@F.udtf(useArrow=True)
class _FirstTokensUDTF:
    """POLYMORPHIC table function (Spark 4 ``analyze`` protocol): the
    output schema is computed at PLAN TIME from the constant second
    argument — ``first_tokens(text, 3)`` yields columns t0..t2, a
    different call site with n=5 yields t0..t4.  This is the surface
    static ``returnType`` UDTFs (``udtf_tokenize``) cannot express:
    Catalyst calls the static ``analyze`` during resolution, so the
    schema is a function of the ARGUMENTS, not a registration constant."""

    @staticmethod
    def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
        import pyspark.sql.types as T2

        if n.value is None or not isinstance(n.value, int) or n.value < 1:
            raise Exception("n must be a positive integer literal")
        return AnalyzeResult(
            T2.StructType(
                [T2.StructField(f"t{i}", T2.StringType()) for i in range(n.value)]
            )
        )

    def eval(self, text: str, n: int):
        toks = (text or "").split(" ")
        yield tuple(toks[i] if i < len(toks) else None for i in range(n))


@register(
    "udtf_polymorphic_schema",
    oracle="""
SELECT doc_id,
       string_split(text, ' ')[1] AS t0,
       string_split(text, ' ')[2] AS t1,
       string_split(text, ' ')[3] AS t2
FROM documents
WHERE doc_id < 100
""",
)
def udtf_polymorphic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL call of the polymorphic UDTF at n=3: the resolver must
    derive (t0, t1, t2) from the literal argument, the Arrow eval must
    NULL-pad short documents, and the values must hash-match the
    list-indexing oracle (DuckDB's out-of-range list index is NULL,
    exactly the eval's padding)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    spark.udtf.register("first_tokens_udtf", _FirstTokensUDTF)
    docs = scratch_table(d, "udtf_poly_docs_")
    return spark.sql(
        f"""
        SELECT d.doc_id, t.t0, t.t1, t.t2
        FROM {docs} d, LATERAL first_tokens_udtf(d.text, 3) t
        """
    )


# --- table-argument UDTF with PARTITION BY + terminate lifecycle -------------


@F.udtf(
    returnType="event_type string, n bigint, total_cents bigint", useArrow=True
)
class _PartitionSummaryUDTF:
    """TABLE-ARGUMENT UDTF (Spark 4): called as
    ``summary(TABLE(t) PARTITION BY event_type)`` — Catalyst hashes the
    input by the partition clause, instantiates the class once per
    partition, streams the partition's ROWS through ``eval``, and calls
    ``terminate`` at partition end for the summary emission.  The two
    lifecycle points the scalar/lateral UDTF rows never touch: table
    input and end-of-partition finalization.  State is exact integer
    cents, so the emission hash-matches GROUP BY regardless of row
    order within the partition."""

    def __init__(self) -> None:
        self._et = None
        self._n = 0
        self._cents = 0

    def eval(self, row):
        self._et = row["event_type"]
        self._n += 1
        self._cents += int(round(float(row["value"]) * 100))

    def terminate(self):
        if self._et is not None:
            yield (self._et, self._n, self._cents)


@register(
    "udtf_table_argument",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS total_cents
FROM events WHERE event_id % 4 = 0 GROUP BY event_type ORDER BY event_type
""",
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition fold through the table-argument UDTF: one summary
    row per event_type, emitted from ``terminate`` — the arbitrary
    per-partition computation slot (model fits, compaction planners)
    that grouped-agg pandas UDFs can't express when the output isn't a
    scalar.  Values are exact cents; the oracle is the plain GROUP BY.

    Cost model, stated honestly: ``eval`` is called PER ROW (only the
    transfers are Arrow-batched), so this API is for per-partition
    LOGIC, not bulk arithmetic — a vectorizable fold belongs in a
    grouped-agg pandas UDF (``udaf_grouped_geomean``).  The input is a
    deterministic quarter of events: enough rows to cross every Arrow
    batch boundary, without timing 1M Python calls per bench run.

    Column pruning is MANUAL here: Catalyst cannot prune through an
    opaque TABLE() argument (eval's field usage is invisible to the
    optimizer), so passing all six event columns pays per-row Row
    construction for four unused fields — including the map-typed
    ``props``, the most expensive to convert.  Selecting only the two
    consumed columns cut the r13 steady-state from ~2.7 s to ~2.3 s.

    Floor measurement (r14, pinned): sf0.1 input is 25,000 rows; the
    identical pure-Python fold over the same tuples takes 0.02 s, so
    the whole cost is the runner's per-row Arrow→Row conversion:
    ~0.09 ms/row warm-JVM (2.2-2.3 s), ~2.5x that in a cold JVM
    (6.0 s standalone min-of-3 — the source of the committed-record
    scatter, NOT a plan change; the plan is two exchanges and has
    been since r10).  AQE coalesces the PARTITION BY shuffle to one
    ~1.2 MB partition at this SF, so the fold is also serial locally
    (disabling coalescing measures 2.24 s / 5-way; at production row
    counts the same plan exceeds minPartitionSize and parallelizes by
    itself).  The floor is intrinsic to the row-at-a-time UDTF
    contract — a vectorizable fold belongs in a grouped-agg pandas
    UDF, which is exactly what ``udaf_grouped_geomean`` certifies."""
    events = scratch_table(
        load_table(spark, sf_dir, "events")
        .where(F.pmod("event_id", F.lit(4)) == 0)
        .select("event_type", "value"),
        "udtf_events_",
    )
    spark.udtf.register("partition_summary_udtf", _PartitionSummaryUDTF)
    return spark.sql(
        f"""
        SELECT * FROM partition_summary_udtf(
          TABLE({events}) PARTITION BY event_type
        )
        ORDER BY event_type
        """
    )
