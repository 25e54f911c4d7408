"""Event-time windowing over the ``events`` table — batch mode.

These are the exact operators Structured Streaming applies per
micro-batch (``F.window`` / ``F.session_window`` are the same Catalyst
expressions in batch and streaming); running them in batch makes them
oracle-checkable, and ``streaming/ingest.py`` re-uses them behind
``readStream`` with watermarks (smoke-tested, not oracle-checked —
SURVEY.md §5.2.2).

Scale notes: tumbling/sliding windows are plain hash aggregates on the
(bucket, key) pair — partial aggregation applies, no per-key state
explosion.  The sessionization uses lag+cumsum windows partitioned by
user, which shuffles each user's events to one partition — the same
layout a streaming stateful operator would keep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table
from ..cache import scratch_persist

TUMBLE_SEC = 3600
SLIDE_SEC = 1800
SESSION_GAP_SEC = 1800


def tumbling_agg(events: DataFrame) -> DataFrame:
    """The tumbling aggregation as a DataFrame→DataFrame transform:
    the SAME Catalyst expression runs in batch (oracle-checked below)
    and in streaming (full batch≡stream equivalence asserted in
    tests/test_streaming.py::test_tumbling_stream_equals_batch)."""
    return (
        events.groupBy(F.window("ts", f"{TUMBLE_SEC} seconds"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "window_tumbling_events",
    oracle=f"""
SELECT CAST(to_timestamp(CAST(FLOOR(epoch(ts) / {TUMBLE_SEC}) AS BIGINT) * {TUMBLE_SEC})
            AS TIMESTAMP) AS win_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event type via ``F.window`` — the
    idiomatic Spark spelling (struct window, epoch-aligned)."""
    return tumbling_agg(load_table(spark, sf_dir, "events"))


@register(
    "window_sliding_events",
    oracle=f"""
WITH buckets AS (
  SELECT e.*,
         CAST(to_timestamp(
           (CAST(FLOOR(epoch(ts) / {SLIDE_SEC}) AS BIGINT) - g.off) * {SLIDE_SEC})
           AS TIMESTAMP) AS win_start
  FROM events e
  CROSS JOIN (SELECT UNNEST([0, 1]) AS off) g
  WHERE epoch(ts) >= (CAST(FLOOR(epoch(ts) / {SLIDE_SEC}) AS BIGINT) - g.off) * {SLIDE_SEC}
    AND epoch(ts) <  (CAST(FLOOR(epoch(ts) / {SLIDE_SEC}) AS BIGINT) - g.off) * {SLIDE_SEC}
                     + {TUMBLE_SEC}
)
SELECT win_start, COUNT(*) AS n_events
FROM buckets
GROUP BY win_start
""",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min — each event lands in 2 buckets
    (window duplication happens at the Expand operator, map-side)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", f"{TUMBLE_SEC} seconds", f"{SLIDE_SEC} seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "n_events")
    )


@register(
    "sessionize_users",
    oracle=f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_SEC} * 1000000
              OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
)
SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_seq
""",
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity splits a session):
    lag → new-session flag → running sum = session id → per-session agg.
    The batch analog of ``session_window``/``applyInPandasWithState``,
    expressed entirely in window functions (no Python state)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > SESSION_GAP_SEC * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int"),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
            "session_value"
        ),
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
),
first AS (
  SELECT user_id, MIN(w) AS cohort FROM uw GROUP BY user_id
)
SELECT first.cohort AS cohort_week,
       CAST(date_diff('day', first.cohort, uw.w) / 7 AS INTEGER) AS week_offset,
       COUNT(*) AS n_users
FROM uw JOIN first ON first.user_id = uw.user_id
GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    bucketed by first-active week (cohort), counted in every later week
    they return, keyed (cohort_week, week_offset).

    Shape: ONE corpus-scale shuffle (the distinct over (user, week) —
    map-side combined, the raw event stream never moves again); the
    per-user first-week aggregate and the retention join both run over
    that already-reduced frame, co-partitioned on user_id, and the
    final matrix aggregate is |cohorts|×|weeks| rows.  Week arithmetic
    is date_trunc + day-difference/7 — exact integers in both engines,
    no timezone-dependent float math."""
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    return (
        uw.join(first, "user_id")
        .select(
            # DATE-typed key (DuckDB's date_trunc on TIMESTAMP yields DATE)
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


PATH_LEN = 3
TOP_PATHS = 10


@register(
    "events_top_paths",
    oracle=f"""
WITH seqs AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
),
grams AS (
  SELECT unnest(list_transform(range(1, len(seq) - {PATH_LEN} + 2),
                i -> array_to_string(seq[i : i + {PATH_LEN} - 1], '>'))) AS path
  FROM seqs WHERE len(seq) >= {PATH_LEN}
)
SELECT path, COUNT(*) AS n_journeys
FROM grams GROUP BY path
ORDER BY n_journeys DESC, path
LIMIT {TOP_PATHS}
""",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the most common {PATH_LEN}-step event-type
    sequences across user journeys — the product-analytics "what do
    users do next" query (the funnel's exploratory sibling).

    Scale shape: ONE shuffle keyed on user_id builds each journey as a
    (ts, event_id)-ordered array (`sort_array(collect_list(struct))` —
    partial-aggregated, and journey length is bounded by per-user
    activity, not corpus size); the sliding {PATH_LEN}-gram explode and
    the path count are map-side + a ≤|paths| aggregate.  The total-order
    tie-break (event_id) makes the journey arrays — and therefore the
    path counts — engine-exact, so the top-{TOP_PATHS} is
    hash-verifiable."""
    e = load_table(spark, sf_dir, "events")
    seqs = (
        e.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ).alias("seq")
        )
        .where(F.size("seq") >= PATH_LEN)
    )
    grams = seqs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("seq") - (PATH_LEN - 1)),
                lambda i: F.concat_ws(">", F.slice("seq", i, PATH_LEN)),
            )
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.desc("n_journeys"), F.asc("path"))
        .limit(TOP_PATHS)
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH nxt AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_state
  FROM events
),
cnt AS (
  SELECT from_state, to_state, COUNT(*) AS n
  FROM nxt WHERE to_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n AS n_transitions,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_state) AS DOUBLE), 6)
         AS p_transition
FROM cnt
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: for
    each (state, next-state) pair, the transition count and empirical
    probability — `events_top_paths`'s model-shaped sibling (what a
    next-action predictor or a session simulator consumes).

    Scale shape: one shuffle keyed on user_id for the LEAD window
    (event-time ordered, event_id total-order tie-break), then the
    transition aggregate is map-side combined into ≤|states|² rows and
    the probability normalization is a window over that TINY matrix —
    no second pass over the corpus.  The probability is a single
    IEEE division of exact integer counts, identically rounded in both
    engines."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).where(F.col("to_state").isNotNull())
    cnt = nxt.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    total = F.sum("n_transitions").over(W.partitionBy("from_state"))
    return cnt.select(
        "from_state",
        "to_state",
        "n_transitions",
        F.round(F.col("n_transitions") / total.cast("double"), 6).alias(
            "p_transition"
        ),
    )


# ---------------------------------------------------------------------------
# Iterative graph algorithm: weighted PageRank, statically unrolled
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_INIT = 1_000_000  # per-state starting mass, integer micro-units
# damping 0.85 as the exact rational 850/1000 — every update is integer
PR_D_NUM, PR_D_DEN = 850, 1000
PR_BASE = 150_000  # (1 - d) in the same micro scale


def _pagerank_oracle() -> str:
    parts = ["""
WITH nxt AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_state
  FROM events
),
e AS (
  SELECT from_state, to_state, COUNT(*) AS n
  FROM nxt WHERE to_state IS NOT NULL
  GROUP BY from_state, to_state
),
ow AS (SELECT from_state, SUM(n) AS w FROM e GROUP BY from_state),
s AS (SELECT DISTINCT event_type AS state FROM events),
it0 AS (SELECT state, CAST({init} AS BIGINT) AS r FROM s)""".format(init=PR_INIT)]
    for k in range(1, PR_ITERS + 1):
        parts.append(
            """,
c{k} AS (
  SELECT e.to_state AS state, SUM((p.r * e.n) // ow.w) AS c
  FROM e
  JOIN ow ON ow.from_state = e.from_state
  JOIN it{prev} p ON p.state = e.from_state
  GROUP BY e.to_state
),
it{k} AS (
  SELECT s.state,
         CAST({base} + ({dn} * COALESCE(c.c, 0)) // {dd} AS BIGINT) AS r
  FROM s LEFT JOIN c{k} c ON c.state = s.state
)""".format(k=k, prev=k - 1, base=PR_BASE, dn=PR_D_NUM, dd=PR_D_DEN)
        )
    parts.append(
        f"\nSELECT state, r AS rank_micro FROM it{PR_ITERS} ORDER BY state"
    )
    return "".join(parts)


@register("events_pagerank_states", oracle=_pagerank_oracle)
def q_events_pagerank_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph — the
    iterative-graph-algorithm slot (the same unrolled-join shape scales
    to Pregel-style vertex programs on a web graph; GraphX/GraphFrames
    express exactly this loop over DataFrames).

    A FIXED iteration count is unrolled statically: each of the 5
    updates is one join of the current rank vector against the edge
    list plus one aggregate — at corpus scale both shuffle on the
    vertex key and the edge list is the big side; here the graph is the
    ≤|states|² transition matrix from `events_markov_transitions`, so
    the whole loop is post-aggregate bookkeeping.  One corpus-scale
    pass (the LEAD window) builds the weighted edges; nothing else
    touches the events table.

    Every update is EXACT integer arithmetic in micro-units — rank
    mass r·n/w floors through `div`, damping is the rational 850/1000 —
    so the 5-deep chain is bit-identical across engines with no float
    rounding convention needed.  Dangling mass (states without
    out-edges) is dropped, the standard simplification; the fixture's
    states all have out-edges."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).where(F.col("to_state").isNotNull())
    edges = (
        nxt.groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            nxt.groupBy("from_state").agg(F.count(F.lit(1)).alias("w")),
            "from_state",
        )
        .transform(scratch_persist)  # the ≤|states|² edge table feeds every iteration
    )
    states = ev.select(F.col("event_type").alias("state")).distinct()
    ranks = states.withColumn("r", F.lit(PR_INIT).cast("long"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges["from_state"] == ranks["state"])
            .select(
                F.col("to_state").alias("state"),
                F.expr("(r * n) div w").alias("contrib"),
            )
            .groupBy("state")
            .agg(F.sum("contrib").alias("c"))
        )
        ranks = states.join(contrib, "state", "left").select(
            "state",
            (
                F.lit(PR_BASE)
                + F.expr(f"({PR_D_NUM} * coalesce(c, 0)) div {PR_D_DEN}")
            )
            .cast("long")
            .alias("r"),
        )
    return ranks.select("state", F.col("r").alias("rank_micro")).orderBy("state")


# ---------------------------------------------------------------------------
# Window VALUE functions: first/last/nth over explicit frames, plus the
# IGNORE NULLS form (sparse forward-fill's primitive).  Completes the
# window family next to the rank/offset/frame/distribution queries.
# ---------------------------------------------------------------------------

WVF_BIG = 50_000  # "big order" floor for the IGNORE NULLS column


@register(
    "window_value_functions",
    oracle=f"""
SELECT o_orderkey,
       CAST(first_value(o_totalprice) OVER w AS DOUBLE) AS first_price,
       CAST(last_value(o_totalprice) OVER w AS DOUBLE) AS last_price,
       CAST(nth_value(o_totalprice, 3) OVER w AS DOUBLE) AS third_price,
       CAST(first_value(
              CASE WHEN o_totalprice < {WVF_BIG} THEN NULL ELSE o_totalprice END
              IGNORE NULLS) OVER w AS DOUBLE) AS first_big
FROM orders
WHERE o_orderkey % 97 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_orderkey
""",
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit unbounded
    frame, with deterministic total ordering (date, key) inside each
    priority partition, plus ``first(..., ignorenulls=True)`` — the
    primitive behind sparse forward-fill.  One window spec → ONE sort
    per partition serves all four expressions; the scan reads only the
    four touched columns (ReadSchema-pruned)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    big = F.when(
        F.col("o_totalprice") < WVF_BIG, F.lit(None)
    ).otherwise(F.col("o_totalprice"))
    return (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.first("o_totalprice").over(w).cast("double").alias("first_price"),
            F.last("o_totalprice").over(w).cast("double").alias("last_price"),
            F.nth_value("o_totalprice", 3).over(w).cast("double").alias("third_price"),
            F.first(big, ignorenulls=True).over(w).cast("double").alias("first_big"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Native session_window in BATCH: the same Catalyst operator the
# streaming path uses (streaming/ingest.session_windows), certified
# against the classic gaps-and-islands SQL formulation.
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


@register(
    "window_session_native",
    oracle=f"""
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def q_window_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window`` as a BATCH aggregate — gap-merged sessions
    in ONE hash aggregate over (user, session window), the exact
    Catalyst operator the streaming path runs stateful
    (streaming/ingest.session_windows: same expression, watermarked).
    The oracle derives identical sessions through the gaps-and-islands
    window formulation (LAG ≥ gap starts an island, running-sum labels
    it), pinning the merge rule: an event exactly at ``prev + gap``
    starts a NEW session.  At 100 TB the aggregate shuffles once on
    user_id and session state merges map-side — no per-user sort pass
    like the islands formulation needs."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Running DISTINCT count over an expanding window — an operator no
# engine ships directly (COUNT(DISTINCT) OVER (... ROWS UNBOUNDED
# PRECEDING) is unsupported in Spark and most engines) — rewritten
# into shuffle-friendly primitives: a first-occurrence flag
# (row_number over (user, type) == 1) followed by a running SUM of the
# flag.  State per group is one bit per (user, type), not a distinct
# set per row — the rewrite that keeps the operator linear at 100 TB.
# ---------------------------------------------------------------------------


@register(
    "window_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY event_type, ts, event_id)
              IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT event_id, user_id, event_type,
       CAST(SUM(first_seen) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS running_distinct_types
FROM flagged
ORDER BY event_id
""",
)
def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user, the number of DISTINCT event types seen up to and
    including each event (ties broken by event_id).

    The naive first-occurrence flag (row_number over (user, TYPE))
    partitions by BOTH keys, which Catalyst cannot reuse for the
    user-keyed running sum — two exchanges.  Spelled instead as a LAG
    over the user partition sorted by (type, ts, id): the block head
    of each type run is exactly the type's earliest (ts, id) row, so
    both windows demand the SAME hash distribution and the plan
    carries ONE exchange on user_id plus two partition-local sorts
    (plan-asserted in tests/test_plan_lint.py exchange census)."""
    ev = load_table(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    first_seen = F.when(
        ~F.lag("event_type").over(w_first).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            first_seen.alias("first_seen"),
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.sum("first_seen").over(w_run).alias("running_distinct_types"),
        )
        .orderBy("event_id")
    )
