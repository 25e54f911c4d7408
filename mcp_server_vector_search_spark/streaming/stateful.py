"""Custom stateful streaming operator: per-user running statistics via
``applyInPandasWithState``.

This is the extension point for stateful logic Spark's built-in
windows can't express (per-key accumulators, custom eviction, model
state).  The reference has no streaming surface at all (SURVEY.md
§2.3); this operator is the engine's answer to "what does per-entity
state look like at 100 TB": state lives in the state store partitioned
by the grouping key, each micro-batch touches only keys present in the
batch, and the Arrow boundary batches rows per key — never row-at-a-
time Python.

Scale notes: state size is O(distinct keys) × state row width (three
numbers here).  A timeout policy (``GroupStateTimeout``) is how
unbounded key spaces stay bounded — evict idle keys; we keep
NoTimeout because the test corpus has a closed key set.
"""

from __future__ import annotations

import importlib.util
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, max_value double"
)
STATE_SCHEMA = "n long, total double, mx double"


def _update_user_stats(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into running state and
    emit the updated totals (update output mode: latest row per user
    wins)."""
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0.0, None
    for pdf in pdfs:
        if pdf.empty:
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_max = float(pdf["value"].max())
        mx = batch_max if mx is None else max(mx, batch_max)
    state.update((n, total, mx))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "total_value": total,
                "max_value": mx,
            }
        ]
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, sum, max) over ``value``."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Driver-gated applyInPandasWithState row (third streaming mechanism
# under the gate, after the stateful built-in agg and foreachBatch).
# Exact-integer state: values fold as CENTS so no float summation
# order can diverge between the stream, the batch plan, and DuckDB.
# ---------------------------------------------------------------------------

CENTS_OUTPUT_SCHEMA = "user_id long, n_events long, total_cents long, max_cents long"
CENTS_STATE_SCHEMA = "n long, total long, mx long"


def _update_user_cents(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0, None
    for pdf in pdfs:
        if pdf.empty:
            continue
        cents = [int(round(float(v) * 100)) for v in pdf["value"]]
        n += len(cents)
        total += sum(cents)
        bmax = max(cents)
        mx = bmax if mx is None else max(mx, bmax)
    state.update((n, total, mx))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "total_cents": total,
                "max_cents": mx,
            }
        ]
    )


def running_user_cents(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, Σ cents, max cents)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_cents,
            CENTS_OUTPUT_SCHEMA,
            CENTS_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..cache import scratch_dir  # noqa: E402
from ..registry import register  # noqa: E402
from ..sources.tables import load_table  # noqa: E402
from .ingest import (  # noqa: E402
    _link_ordered_phases,
    _stage_literal_phases,
    _stage_sliced_phases,
    data_batches,
    run_available_now,
)


@register(
    "streaming_stateful_user_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS total_cents,
       CAST(MAX(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS max_cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q_streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CUSTOM stateful operator through the gate: the events table is
    deterministically split into 3 files, replayed one file per
    micro-batch, and folded per user by ``applyInPandasWithState`` —
    per-key state genuinely carries across batches (asserted ≥3
    batches).  Update mode emits a row per touched user per batch;
    ``n_events`` strictly increases per user, so max-``n_events``
    selects each user's FINAL state regardless of sink row order.
    Values fold as integer cents, so the value hash against the batch
    SQL oracle is exact — no float summation-order escape hatch."""
    from pyspark.sql import Window as W

    # Child session: 8 state partitions instead of 32.  The fixture has
    # ~1.5k keys; 3 micro-batches x 32 state-store tasks is pure task
    # overhead here.  At scale this is the same knob sized the other
    # way (state partitions ~ keys / executor-memory-budget) — a conf,
    # not code.  Measured: 5.7s -> 4.0s warm at sf0.1.
    spark = spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # stage only the phase key + the columns the stateful fold reads
    # (r17, guide §2.3/§6)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    src = scratch_dir("stateful_src_")
    stage = scratch_dir("stateful_stage_")
    # one explicit file per third via ONE partitionBy write (r16: one
    # events scan instead of three — _stage_sliced_phases)
    thirds = _stage_sliced_phases(events, stage, F.pmod("event_id", F.lit(3)), 3)
    _link_ordered_phases(stage, src, thirds)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_available_now(running_user_cents(stream), "memory", "update")
    assert data_batches(q) >= 3, "state must cross micro-batches"
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(q.name)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents", "max_cents")
        .orderBy("user_id")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# transformWithState: Spark 4's arbitrary-stateful successor to
# applyInPandasWithState — typed state variables (value/list/map) plus
# EVENT-TIME TIMERS, the mechanism the older API lacks entirely (its
# only clock is processing-time timeouts, which no oracle can pin).
# ---------------------------------------------------------------------------

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

TWS_OUTPUT_SCHEMA = "user_id bigint, kind string, total double"
TWS_SESSION_GAP_MS = 60 * 60 * 1000  # session closes 1h after last event


class _SpendSessionProcessor(StatefulProcessor):
    """Running per-user spend with a session-close timer: every batch
    folds the user's rows into a ValueState total and re-arms an
    event-time timer at ``last_event + 1h``; when the watermark passes
    the timer, the session emits a final 'closed' row and clears its
    state.  This is the per-entity-session shape (cart abandonment,
    session billing) that needs BOTH arbitrary state and a time
    trigger — neither windows nor applyInPandasWithState(event-time)
    can express it."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._total = handle.getValueState("total", "total double")
        self._deadline = handle.getValueState("deadline", "deadline bigint")

    def handleInputRows(self, key, rows, timerValues: TimerValues):
        batch_sum = 0.0
        max_ts_ms = 0
        for pdf in rows:
            if pdf.empty:
                continue
            batch_sum += float(pdf["amount"].sum())
            max_ts_ms = max(max_ts_ms, int(pdf["ts"].max().value // 1_000_000))
        if max_ts_ms == 0:
            # No rows observed (every chunk empty): arming a timer at
            # epoch+gap would fire immediately and emit a spurious
            # 'closed' row for a key with no prior state (ADVICE r9).
            return
        prev = self._total.get()[0] if self._total.exists() else 0.0
        total = prev + batch_sum
        self._total.update((total,))
        # re-arm to the LATEST deadline: an out-of-order row that is
        # late-but-within-watermark must never REWIND the close timer
        # (max_ts_ms here is only this batch's max, which can be older
        # than an event already folded in a previous batch)
        deadline = max_ts_ms + TWS_SESSION_GAP_MS
        if self._deadline.exists():
            prev_deadline = self._deadline.get()[0]
            if prev_deadline >= deadline:
                deadline = prev_deadline
            else:
                self._handle.deleteTimer(prev_deadline)
                self._handle.registerTimer(deadline)
        else:
            self._handle.registerTimer(deadline)
        self._deadline.update((deadline,))
        yield pd.DataFrame(
            [{"user_id": key[0], "kind": "update", "total": total}]
        )

    def handleExpiredTimer(
        self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ):
        total = self._total.get()[0] if self._total.exists() else 0.0
        self._total.clear()
        self._deadline.clear()
        yield pd.DataFrame(
            [{"user_id": key[0], "kind": "closed", "total": total}]
        )

    def close(self) -> None:
        pass


# transformWithState's state-server protocol runs over protobuf
# (pyspark/sql/streaming/proto/StateMessage_pb2), so the operator needs
# the `google.protobuf` runtime in the driver AND every Python worker.
# No pip install exists in this container, but _pbcompat bridges to the
# public pure-Python runtime shipped inside the local Google Cloud SDK
# (and relaxes pyspark's same-major gencode/runtime version gate); on a
# real cluster with protobuf pip-installed the bridge is inert.  If no
# runtime can be found at all, registration stays gated exactly like
# the PIL seam in tests/test_jpeg.py.
from .._pbcompat import probe_protobuf, propagate_to_workers  # noqa: E402

# Registration gates on the SIDE-EFFECT-FREE probe (ADVICE r10: the
# old import-time ensure_protobuf() purged google.* from sys.modules
# as a global import side effect).  The mutating activation —
# ensure_protobuf() — now runs inside propagate_to_workers at each
# query's first use, so a bare `import stateful` never touches
# sys.path/sys.modules.
_HAS_PROTOBUF = probe_protobuf()

TWS_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id, kind, CAST(total AS DOUBLE) AS total
FROM (VALUES
  (1, 'update', 12.0),
  (2, 'update',  3.0),
  (1, 'update', 22.0),
  (3, 'update',  1.0),
  (4, 'update',  2.0),
  (1, 'closed', 22.0),
  (2, 'closed',  3.0)
) AS t(user_id, kind, total)
ORDER BY user_id, kind, total
"""


def q_streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` with EVENT-TIME TIMERS, certified
    against a folded literal timeline:

    - batch 1: u1 spends 5+7 (last event 10:10), u2 spends 3 → 'update'
      rows (u1: 12, u2: 3); each key arms a close timer at last+1h.
    - batch 2 (same checkpoint): u1 spends 10 more at 10:20 → 'update'
      22 and the timer RE-ARMS to 11:20 (deleteTimer + registerTimer —
      a later event extends the session); u3's 20:00 event advances the
      watermark to 19:50.
    - once the watermark passes their deadlines, u1 and u2 emit
      'closed' rows carrying the FINAL totals (22, 3) and clear state;
      u3 (deadline 21:00) and u4 (21:30) stay open and must never
      close — the final watermark (20:20) never reaches them.

    The certificate pins the three contracts that make sessionized
    billing over a 100 TB/day stream work: state is per-key and
    bounded (closed sessions clear), timers fire exactly once at
    watermark passage (a re-fired or never-deleted timer duplicates
    'closed' rows), and re-arming extends sessions (a stale timer
    closes u1 at 12, not 22).  Phases a/b run as two micro-batches of
    ONE StreamExecution (maxFilesPerTrigger=1); phase c runs after a
    checkpointed RESTART, so the expiring timers and totals it acts on
    were recovered from the state store, not carried in memory.  Output
    rows ride a parquet sink, hash-matched order-insensitively."""
    import os
    from datetime import datetime
    from pathlib import Path

    # Workers spawned for this query need google.protobuf on their
    # PYTHONPATH (worker.py imports StateMessage_pb2 at module scope);
    # must happen BEFORE transformWithStateInPandas wraps the processor.
    propagate_to_workers(spark)
    # transformWithState requires the RocksDB state store; child session
    # so the provider conf cannot leak into other rows.
    spark = spark.newSession()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # 4 keys in the fixture: 8 state partitions, not 32 (task overhead
    # dominates two whole StreamExecutions otherwise; a conf at scale)
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    src = scratch_dir("tws_src_")
    sink = scratch_dir("tws_sink_")
    ckpt = scratch_dir("tws_ckpt_")
    stage = scratch_dir("tws_stage_")
    phases = [
        [(1, (10, 0), 5.0), (1, (10, 10), 7.0), (2, (10, 0), 3.0)],
        [(1, (10, 20), 10.0), (3, (20, 0), 1.0)],
        [(4, (20, 30), 2.0)],
    ]
    # all three phases staged by ONE write job (r16: _stage_literal_phases)
    phase_dirs = _stage_literal_phases(
        spark,
        [
            [(u, datetime(2024, 3, 1, h, m), a) for u, (h, m), a in rows]
            for rows in phases
        ],
        "user_id bigint, ts timestamp, amount double",
        stage,
    )

    def run_once():
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp, amount double")
            # one file per micro-batch: phases staged together still land
            # in DISTINCT batches, so the watermark genuinely advances
            # between them (file order = mtime then path; staging wrote
            # a before b and the names sort the same way)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("user_id")
            .transformWithStateInPandas(
                _SpendSessionProcessor(),
                TWS_OUTPUT_SCHEMA,
                outputMode="append",
                timeMode="eventtime",
            )
        )
        run_available_now(out, sink, checkpoint=ckpt)

    # Execution 1 sees phases a+b as two micro-batches; execution 2 is
    # a cold restart from the checkpoint that must recover u1/u2's
    # timers and totals from RocksDB before phase c expires them.
    for group in ((0, 1), (2,)):
        for i in group:
            for n, f in enumerate(
                sorted(Path(f"{stage}/{phase_dirs[i]}").glob("*.parquet"))
            ):
                os.link(f, f"{src}/part_{i}_{n}.parquet")
        run_once()
    # A continuous deployment would keep triggering micro-batches, so an
    # expired-but-unfired timer (a rare eviction race at availableNow
    # teardown) gets the next batch's eviction pass; availableNow ends
    # the stream artificially, so grant that same pass explicitly when
    # the closes are missing.  Fired timers are deleted, so this can
    # never duplicate a 'closed' row — it only de-flakes the shutdown.
    if spark.read.parquet(sink).where("kind = 'closed'").count() < 2:
        run_once()
    return (
        spark.read.parquet(sink)
        .orderBy("user_id", "kind", "total")
        .localCheckpoint(eager=True)
    )


if _HAS_PROTOBUF:  # pragma: no cover - protobuf absent in this container
    q_streaming_transform_with_state = register(
        "streaming_transform_with_state", oracle=TWS_ORACLE
    )(q_streaming_transform_with_state)


# ---------------------------------------------------------------------------
# transformWithState TYPED STATE VARIABLES: MapState + ListState.  The
# session-timer row above certifies ValueState + event-time timers;
# this one certifies the other two state kinds the Spark 4 API offers —
# a per-user MapState (event_type -> running (cents, n)) and a per-user
# ListState (one entry per micro-batch the user appeared in).  Together
# the three rows cover the full transformWithState state surface.
# ---------------------------------------------------------------------------

TWS_MAP_OUTPUT_SCHEMA = (
    "user_id bigint, event_type string, total_cents bigint, "
    "n_events bigint, user_batches bigint"
)


class _CategoryTotalsProcessor(StatefulProcessor):
    """Per-user category ledger: MapState accumulates exact integer
    cents per event_type across batches; ListState records per-batch
    row counts (its length = batches this user appeared in).  Every
    batch re-emits the user's WHOLE ledger stamped with the current
    batch count, so the final row per (user, type) is selected by max
    user_batches downstream — update-mode semantics without relying on
    sink-side replacement."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getMapState(
            "totals", "event_type string", "cents bigint, n bigint"
        )
        self._batches = handle.getListState("batches", "rows_in_batch bigint")

    def handleInputRows(self, key, rows, timerValues: TimerValues):
        per_type: dict[str, tuple[int, int]] = {}
        n_rows = 0
        for pdf in rows:
            if pdf.empty:
                continue
            n_rows += len(pdf)
            for et, grp in pdf.groupby("event_type"):
                cents = sum(int(round(float(v) * 100)) for v in grp["value"])
                c0, n0 = per_type.get(str(et), (0, 0))
                per_type[str(et)] = (c0 + cents, n0 + len(grp))
        if n_rows == 0:
            return
        self._batches.appendValue((n_rows,))
        n_batches = sum(1 for _ in self._batches.get())
        for et, (cents, n) in per_type.items():
            if self._totals.containsKey((et,)):
                c0, n0 = self._totals.getValue((et,))
            else:
                c0, n0 = 0, 0
            self._totals.updateValue((et,), (c0 + cents, n0 + n))
        out = [
            {
                "user_id": key[0],
                "event_type": k[0],
                "total_cents": v[0],
                "n_events": v[1],
                "user_batches": n_batches,
            }
            for k, v in self._totals.iterator()
        ]
        yield pd.DataFrame(out)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


TWS_MAP_ORACLE = """
WITH per AS (
  SELECT user_id, event_type,
         CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS total_cents,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, event_type
),
ub AS (
  SELECT user_id, CAST(COUNT(DISTINCT event_id % 2) AS BIGINT) AS user_batches
  FROM events GROUP BY user_id
)
SELECT p.user_id, p.event_type, p.total_cents, p.n_events, u.user_batches
FROM per p JOIN ub u USING (user_id)
ORDER BY user_id, event_type
"""


def q_streaming_tws_map_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table split into two micro-batches by event_id parity
    and folded through the MapState/ListState processor; the final
    ledger per (user, event_type) must hash-match the batch GROUP BY
    oracle exactly (integer cents), and user_batches must equal the
    number of parities each user's events span — proving MapState
    entries accumulate across batches, absent keys initialize cleanly,
    and ListState length tracks batch participation."""
    from pyspark.sql import Window as W

    propagate_to_workers(spark)
    spark = spark.newSession()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # stage only the phase key + the columns the processor reads (r17,
    # guide §2.3/§6)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = scratch_dir("twsmap_src_")
    stage = scratch_dir("twsmap_stage_")
    # one events scan for both halves (r16: _stage_sliced_phases)
    halves = _stage_sliced_phases(events, stage, F.pmod("event_id", F.lit(2)), 2)
    _link_ordered_phases(stage, src, halves)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_stream = (
        stream.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _CategoryTotalsProcessor(),
            TWS_MAP_OUTPUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
    )
    q = run_available_now(out_stream, "memory", "update")
    assert data_batches(q) >= 2, "ledger must accumulate across micro-batches"
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("user_batches"), F.desc("n_events")
    )
    return (
        spark.table(q.name)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_type", "total_cents", "n_events", "user_batches")
        .orderBy("user_id", "event_type")
        .localCheckpoint(eager=True)
    )


if _HAS_PROTOBUF:  # pragma: no cover - gated with the session-timer row
    q_streaming_tws_map_list_state = register(
        "streaming_tws_map_list_state", oracle=TWS_MAP_ORACLE
    )(q_streaming_tws_map_list_state)
