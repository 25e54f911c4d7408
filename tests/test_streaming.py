"""Streaming smoke tests: the parquet-source → memory/parquet-sink path
drives each streaming operator to completion synchronously.

Correctness of the window logic itself is certified by the
oracle-checked BATCH versions of the same Catalyst expressions
(operators/windows.py); here we verify the streaming machinery —
watermark wiring, state, foreachBatch sink, incremental index layout.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from mcp_server_vector_search_spark.cache import scratch_dir
from mcp_server_vector_search_spark.operators.ann import build_ivf_index
from mcp_server_vector_search_spark.sources.tables import load_table
from mcp_server_vector_search_spark.streaming import ingest
from mcp_server_vector_search_spark.streaming.ingest import run_available_now

from .conftest import SF_CORRECTNESS, SF_SMOKE


def test_windowed_counts_stream_matches_batch(spark):
    stream = ingest.read_event_stream(spark, SF_SMOKE)
    q = run_available_now(ingest.windowed_counts(stream), "memory")
    got = {
        (r.win_start, r.event_type): r.n_events
        for r in spark.table(q.name).collect()
    }
    batch = ingest.windowed_counts(load_table(spark, SF_SMOKE, "events")).collect()
    want = {(r.win_start, r.event_type): r.n_events for r in batch}
    # append mode emits only watermark-finalized windows; everything
    # emitted must match the batch computation exactly
    assert got
    assert all(want.get(k) == v for k, v in got.items())


def test_session_windows_stream_runs(spark):
    stream = ingest.read_event_stream(spark, SF_SMOKE)
    q = run_available_now(ingest.session_windows(stream), "memory")
    rows = spark.table(q.name).collect()
    assert rows and all(r.n_events > 0 for r in rows)


def test_incremental_index_append_prunable(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    _, centroids = build_ivf_index(emb)
    with tempfile.TemporaryDirectory() as tmp:
        ingest.incremental_index_append(spark, SF_SMOKE, centroids, f"{tmp}/index")
        indexed = spark.read.parquet(f"{tmp}/index")
        assert indexed.count() == emb.count()
        assert "centroid_id" in indexed.columns
        # the layout must actually be partitioned (directory per cell)
        import os

        parts = [d for d in os.listdir(f"{tmp}/index") if d.startswith("centroid_id=")]
        assert len(parts) > 1
        # pruned read touches a subset
        one = indexed.where(F.col("centroid_id") == int(parts[0].split("=")[1]))
        assert 0 < one.count() < emb.count()


def test_stateful_running_user_stats_across_batches(spark):
    """applyInPandasWithState: state must accumulate ACROSS micro-batches
    and the final emitted row per user must equal the batch aggregate."""
    from mcp_server_vector_search_spark.streaming.stateful import running_user_stats

    events = load_table(spark, SF_SMOKE, "events")
    with tempfile.TemporaryDirectory() as tmp:
        # split into 3 files so the stream runs 3 micro-batches and the
        # per-user state genuinely carries over
        events.withColumn("__b", F.pmod("event_id", F.lit(3))).repartition(
            3, "__b"
        ).drop("__b").write.mode("overwrite").parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = run_available_now(running_user_stats(stream), "memory", "update")
        n_batches = len(q.recentProgress)
        assert n_batches >= 3  # state really crossed batch boundaries
        # update mode: the LAST emitted row per user is the final state
        final = {}
        for r in spark.table(q.name).collect():
            final[r.user_id] = (r.n_events, r.total_value, r.max_value)
        want = {
            r.user_id: (r.n, r.total, r.mx)
            for r in events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("total"),
                F.max("value").alias("mx"),
            )
            .collect()
        }
        assert set(final) == set(want)
        for u, (n, total, mx) in want.items():
            fn, ft, fm = final[u]
            assert fn == n
            assert abs(ft - total) < 1e-6
            assert fm == mx


def test_watermark_drops_late_window(spark):
    """Append-mode windowed agg: a row arriving after the watermark has
    passed its window is dropped by the engine.

    Spark's watermark propagates with a ONE-BATCH delay (the value is
    computed at the end of batch N and takes effect in batch N+1), so
    the late row must arrive two batches after the data that advanced
    the watermark — measured empirically and reflected here: the same
    late row in the very next batch would still be accepted."""
    import time as _time

    schema = "event_id long, ts string, user_id long, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        # batch 0: advances max event time to 23:00 -> watermark 21:00
        mk(
            [
                (1, "2024-06-02 10:00:00", 1, "view", 1.0),
                (2, "2024-06-02 23:00:00", 1, "view", 1.0),
            ]
        ).coalesce(1).write.mode("overwrite").parquet(src)
        _time.sleep(1.1)  # mtime ordering = processing order
        # batch 1: watermark not yet in effect (one-batch delay)
        mk([(3, "2024-06-01 00:30:00", 1, "view", 9.0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
        # batch 2: watermark 21:00 in effect -> this row MUST drop
        mk([(4, "2024-06-01 05:30:00", 1, "view", 9.0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema(mk([]).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        windowed = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "3600 seconds"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("win_start"), "n")
        )
        q = run_available_now(windowed, "memory")
        dropped = sum(
            (p["stateOperators"][0]["numRowsDroppedByWatermark"] if p["stateOperators"] else 0)
            for p in q.recentProgress
        )
        starts = {r.win_start.isoformat() for r in spark.table(q.name).collect()}
        assert dropped >= 1  # the engine itself reported the drop
        # event 4's 05:00 window must NOT appear; finalized on-time
        # 10:00 window must
        assert not any(s.startswith("2024-06-01T05") for s in starts)
        assert any(s.startswith("2024-06-02T10") for s in starts)


def test_stream_static_enrichment_join(spark):
    """Stream-static join: each micro-batch broadcast-joins the static
    dimension — the standard enrichment pattern (no state needed)."""
    stream = ingest.read_event_stream(spark, SF_SMOKE)
    kinds = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        ["event_type", "category"],
    )
    enriched = (
        stream.join(F.broadcast(kinds), "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = run_available_now(enriched, "memory", "complete")
    got = {r.category: r.n for r in spark.table(q.name).collect()}
    want = {
        r.category: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .join(kinds, "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_dedup_within_watermark(spark):
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps one
    row per key while the watermark bounds the dedup state (the
    streaming face of dedup_exact)."""
    events = load_table(spark, SF_SMOKE, "events")
    with tempfile.TemporaryDirectory() as tmp:
        # duplicate the whole table across two files: every event_id
        # arrives twice in separate micro-batches
        events.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/src")
        import time as _time

        _time.sleep(1.1)
        events.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        deduped = stream.withWatermark("ts", "10 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        name = run_available_now(deduped, "memory").name
        n = spark.sql(f"SELECT COUNT(DISTINCT event_id) c FROM {name}").first()["c"]
        total = spark.sql(f"SELECT COUNT(*) c FROM {name}").first()["c"]
        assert n == events.count()  # every key survives exactly once
        assert total == n  # and nothing survives twice


def test_stream_stream_interval_join(spark):
    """Stream-stream inner join with watermarks + time-interval condition:
    each purchase joins the clicks by the same user in the preceding
    hour.  Both sides carry watermarks so Spark can bound the join
    state — the funnel-attribution shape (batch twin:
    join_range_funnel)."""
    clicks = (
        ingest.read_event_stream(spark, SF_SMOKE)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ingest.read_event_stream(spark, SF_SMOKE)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR AND
            click_ts <= purchase_ts
            """
        ),
    )
    name = run_available_now(joined, "memory").name
    got = spark.sql(
        f"SELECT COUNT(*) AS n, COUNT(DISTINCT purchase_id) AS np FROM {name}"
    ).first()

    ev = load_table(spark, SF_SMOKE, "events")
    b_clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    b_purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = (
        b_purch.join(
            b_clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("purchase_id").alias("np"),
        )
        .first()
    )
    assert want.n > 0  # the fixture actually produces matches
    assert (got.n, got.np) == (want.n, want.np)


def test_tumbling_stream_equals_batch(spark):
    """FULL batch≡stream equivalence for the registered tumbling shape
    (VERDICT r2 #6): the same operators/windows.tumbling_agg expression
    over the same events, once as a batch job and once through
    Structured Streaming (complete mode via foreachBatch), must produce
    the identical result set — not just an append-mode subset."""
    from mcp_server_vector_search_spark.operators.windows import tumbling_agg

    # complete mode: each epoch replaces the memory sink with the full
    # updated state, so the sink holds the final result
    stream = ingest.read_event_stream(spark, SF_SMOKE)
    q = run_available_now(tumbling_agg(stream), "memory", "complete")
    got = {tuple(r) for r in spark.table(q.name).collect()}
    want = {tuple(r) for r in tumbling_agg(load_table(spark, SF_SMOKE, "events")).collect()}
    assert got == want and got


def test_session_stream_equals_batch(spark):
    """FULL batch≡stream equivalence for gap-based session windows:
    F.session_window is the same Catalyst expression in both modes; the
    streaming state machine must converge to the batch gap-merge."""
    stream = ingest.read_event_stream(spark, SF_SMOKE)
    q = run_available_now(ingest.session_windows(stream), "memory", "complete")
    got = {tuple(r) for r in spark.table(q.name).collect()}
    want = {
        tuple(r)
        for r in ingest.session_windows(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == want and got


def test_chunking_stream_equals_batch(spark):
    """Batch≡stream equivalence for the RAG chunking operator
    (VERDICT r4 #7): the identical chunk_with_overlap expressions over
    the same documents, once as the registered batch query and once
    through a streaming plan, must produce the identical chunk set."""
    from mcp_server_vector_search_spark.operators.text_analysis import (
        chunk_documents_overlap,
    )

    q = run_available_now(ingest.chunk_document_stream(spark, SF_SMOKE), "memory")
    got = {tuple(r) for r in spark.table(q.name).collect()}
    want = {tuple(r) for r in chunk_documents_overlap(spark, SF_SMOKE).collect()}
    assert got == want and got


def test_incremental_dedup_stream_equals_batch(spark):
    """Batch≡stream equivalence for rolling-ingest dedup (VERDICT r4
    #7): the corpus fingerprint aggregate is built once (static); the
    stream probes arriving new-batch docs against it via the same
    doc_fingerprints/probe_new_batch expressions the batch operator
    composes.  The union of micro-batch outputs must equal the batch
    result."""
    from mcp_server_vector_search_spark.operators.dedup import (
        INCR_NEW_FRACTION,
        corpus_fingerprints,
        dedup_incremental_exact,
        doc_fingerprints,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    cut = docs.agg(
        F.floor(F.lit(INCR_NEW_FRACTION) * F.max("doc_id")).cast("long").alias("c")
    ).first()["c"]
    corpus_fps = corpus_fingerprints(
        doc_fingerprints(docs.where(F.col("doc_id") < cut))
    ).localCheckpoint(eager=True)

    out = scratch_dir("incr_dedup_out_")
    ingest.incremental_dedup_stream(spark, SF_SMOKE, corpus_fps, out, min_doc_id=cut)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in dedup_incremental_exact(spark, SF_SMOKE).collect()}
    assert got == want and got


def test_redaction_stream_equals_batch(spark):
    """Batch≡stream equivalence for the pattern-redaction scrub: the
    shared row-level projection over the same documents must emit the
    identical redacted rows through a streaming plan."""
    from mcp_server_vector_search_spark.operators.curation import redact_rows
    from mcp_server_vector_search_spark.sources.tables import load_table

    q = run_available_now(ingest.redact_document_stream(spark, SF_SMOKE), "memory")
    got = {tuple(r) for r in spark.table(q.name).collect()}
    want = {
        tuple(r)
        for r in redact_rows(load_table(spark, SF_SMOKE, "documents")).collect()
    }
    assert got == want and got


def test_temperature_mix_stream_equals_batch(spark):
    """Batch≡stream equivalence for the temperature mixer: frozen-plan
    replication over the same documents must emit the identical
    (doc_id, source, copy_id) multiset the batch operator aggregates."""
    from pyspark.sql import functions as F

    from mcp_server_vector_search_spark.operators.sampling import (
        mix_temperature_sources,
    )

    q = run_available_now(ingest.temperature_mix_stream(spark, SF_SMOKE), "memory")
    got = (
        spark.table(q.name)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows_out"),
            F.countDistinct("doc_id").alias("n_docs_kept"),
        )
        .collect()
    )
    want = mix_temperature_sources(spark, SF_SMOKE).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in want} and got


def test_streaming_append_serves_identically_to_rebuild(spark):
    """Serve-path equivalence (round-6 verdict #6): a layout grown by
    the foreachBatch streaming append must serve the engine's ANN query
    IDENTICALLY to a from-scratch batch rebuild — same cells, same
    scores, same order.  The streamed append uses the same assignment
    expression as the batch build, so the layouts cannot fork."""
    import glob
    import shutil

    from mcp_server_vector_search_spark.operators.ann import (
        ivf_topk,
        prompt_embedding,
        write_ivf_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, centroids = build_ivf_index(emb)
    with tempfile.TemporaryDirectory() as tmp:
        # base layout: batch-built from 80% of the corpus
        write_ivf_index(assigned.where(F.col("vec_id") % 5 != 0), f"{tmp}/idx")
        # the remaining 20% arrives as a stream micro-batch: stage it as
        # a single parquet FILE shaped like a testdata sf_dir
        delta = emb.where(F.col("vec_id") % 5 == 0)
        delta.coalesce(1).write.parquet(f"{tmp}/delta_out")
        os.makedirs(f"{tmp}/delta_sf")
        shutil.move(
            glob.glob(f"{tmp}/delta_out/part-*.parquet")[0],
            f"{tmp}/delta_sf/embeddings.parquet",
        )
        ingest.incremental_index_append(spark, f"{tmp}/delta_sf", centroids, f"{tmp}/idx")
        # from-scratch rebuild over the full corpus
        write_ivf_index(assigned, f"{tmp}/full")
        qvec = prompt_embedding()
        streamed = ivf_topk(
            spark.read.parquet(f"{tmp}/idx"), centroids, qvec
        ).collect()
        rebuilt = ivf_topk(
            spark.read.parquet(f"{tmp}/full"), centroids, qvec
        ).collect()
        assert [tuple(r) for r in streamed] == [tuple(r) for r in rebuilt]
        assert len(streamed) == 10
        # the streamed layout holds the whole corpus, cell-partitioned
        assert spark.read.parquet(f"{tmp}/idx").count() == emb.count()


def test_incremental_minhash_stream_equals_batch(spark):
    """Batch≡stream equivalence for the incremental MinHash probe: the
    static corpus signature store is built once with the batch
    expressions; the stream's arriving docs band-probe it with the SAME
    shared expressions.  The union of micro-batch outputs must equal
    the batch operator's pair set (compared row-for-row: the shared
    first-match filter guarantees one row per pair in both paths)."""
    from mcp_server_vector_search_spark.operators.dedup import (
        band_keys,
        dedup_incremental_minhash,
        minhash_sig_expr,
    )
    from mcp_server_vector_search_spark.functions.text import tokens as tok_fn
    from mcp_server_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    cut = docs.agg(F.floor(0.8 * F.max("doc_id")).cast("long")).first()[0]
    store = band_keys(
        docs.where(F.col("doc_id") < cut).select(
            "doc_id",
            minhash_sig_expr(F.col("text")).alias("sigs"),
            F.array_distinct(tok_fn(F.col("text"))).alias("toks"),
        ),
        extra_cols=("toks",),
    ).localCheckpoint(eager=True)

    q = run_available_now(
        ingest.incremental_minhash_stream(spark, SF_SMOKE, store, min_doc_id=cut),
        "memory",
    )
    got = sorted(tuple(r) for r in spark.table(q.name).collect())
    want = sorted(tuple(r) for r in dedup_incremental_minhash(spark, SF_SMOKE).collect())
    assert got == want and got  # row-level: the first-match filter dedupes


def test_registered_streaming_query_equals_batch(spark):
    """The driver-checked streaming row (a real availableNow
    StreamExecution into a complete-mode memory sink) must reproduce
    the batch tumbling aggregate row-for-row."""
    from mcp_server_vector_search_spark.operators.windows import tumbling_agg
    from mcp_server_vector_search_spark.sources.tables import load_table
    from mcp_server_vector_search_spark.streaming.ingest import (
        q_streaming_tumbling_counts,
    )

    streamed = {
        tuple(r)
        for r in q_streaming_tumbling_counts(spark, SF_CORRECTNESS).collect()
    }
    batch = {
        tuple(r)
        for r in tumbling_agg(load_table(spark, SF_CORRECTNESS, "events")).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_transform_with_state_gate_matches_env():
    """transformWithStateInPandas needs protobuf at runtime (the state
    server speaks StateMessage_pb2); registration must track exactly
    whether that import can succeed, so the driver never receives a
    query that would crash its worker."""
    import __spark_entry__ as e
    from mcp_server_vector_search_spark.streaming import stateful

    assert ("streaming_transform_with_state" in e.queries()) == (
        stateful._HAS_PROTOBUF
    )


def test_transform_with_state_session_timers(spark):
    """Env-gated interop (the PIL pattern, tests/test_jpeg.py): when
    protobuf is installed, the transformWithState certificate must
    reproduce its folded literal timeline — per-key ValueState totals,
    re-armed event-time timers, exactly-once 'closed' emission."""
    import pytest

    from mcp_server_vector_search_spark.streaming import stateful

    if not stateful._HAS_PROTOBUF:
        pytest.skip("protobuf not installed: transformWithState state "
                    "server cannot start in this container")
    got = sorted(
        tuple(r)
        for r in stateful.q_streaming_transform_with_state(
            spark, SF_CORRECTNESS
        ).collect()
    )
    want = sorted(
        [
            (1, "update", 12.0),
            (2, "update", 3.0),
            (1, "update", 22.0),
            (3, "update", 1.0),
            (4, "update", 2.0),
            (1, "closed", 22.0),
            (2, "closed", 3.0),
        ]
    )
    assert got == want


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class _FakeHandle:
    """Records the processor's timer traffic so the protobuf-gated
    logic is unit-testable without a state server."""

    def __init__(self):
        self.states = {}
        self.timers = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def registerTimer(self, ts):
        self.timers.add(ts)

    def deleteTimer(self, ts):
        self.timers.discard(ts)


def _tws_batch(proc, user, rows_hm_amt):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "user_id": [user] * len(rows_hm_amt),
            "ts": [pd.Timestamp(2024, 3, 1, h, m) for h, m, _ in rows_hm_amt],
            "amount": [a for _, _, a in rows_hm_amt],
        }
    )
    return list(proc.handleInputRows((user,), iter([pdf]), None))


def test_tws_timer_never_rewinds():
    """The session-close timer must re-arm to the LATEST deadline: an
    out-of-order but within-watermark row in a later batch carries an
    older event time, and a naive re-arm from the batch max would
    REWIND the deadline and close the session early (review finding,
    round 9).  Stub-based because the real operator needs protobuf."""
    from mcp_server_vector_search_spark.streaming.stateful import (
        TWS_SESSION_GAP_MS,
        _SpendSessionProcessor,
    )

    proc = _SpendSessionProcessor()
    handle = _FakeHandle()
    proc.init(handle)
    # batch 1: event at 10:20 -> deadline 11:20
    out1 = _tws_batch(proc, 1, [(10, 20, 5.0)])
    ts_1020 = int(
        __import__("pandas").Timestamp(2024, 3, 1, 10, 20).value // 1_000_000
    )
    assert handle.timers == {ts_1020 + TWS_SESSION_GAP_MS}
    assert out1[0].iloc[0]["total"] == 5.0
    # batch 2: OUT-OF-ORDER event at 10:12 — deadline must stay 11:20
    _tws_batch(proc, 1, [(10, 12, 2.0)])
    assert handle.timers == {ts_1020 + TWS_SESSION_GAP_MS}, (
        "earlier event rewound the close timer"
    )
    # batch 3: later event at 10:40 — deadline extends, old timer gone
    _tws_batch(proc, 1, [(10, 40, 1.0)])
    ts_1040 = int(
        __import__("pandas").Timestamp(2024, 3, 1, 10, 40).value // 1_000_000
    )
    assert handle.timers == {ts_1040 + TWS_SESSION_GAP_MS}
    # expiry: emits closed with the FULL total and clears state
    closed = list(proc.handleExpiredTimer((1,), None, None))
    assert closed[0].iloc[0]["kind"] == "closed"
    assert closed[0].iloc[0]["total"] == 8.0
    assert not handle.states["total"].exists()
    assert not handle.states["deadline"].exists()


def test_tws_map_list_state_gate_matches_env():
    """Same gate contract as the session-timer row: the MapState/
    ListState certificate registers exactly when protobuf resolves."""
    import __spark_entry__ as e

    from mcp_server_vector_search_spark.streaming import stateful

    assert ("streaming_tws_map_list_state" in e.queries()) == (
        stateful._HAS_PROTOBUF
    )


def test_tws_category_processor_ledger_logic():
    """Driver-side unit test of the MapState/ListState fold (the fake-
    handle pattern): two batches for one user must accumulate per-type
    cents exactly, re-emit the full ledger with the batch count, and
    initialize absent keys cleanly."""
    import pandas as pd
    import pytest

    from mcp_server_vector_search_spark.streaming import stateful

    if not stateful._HAS_PROTOBUF:
        pytest.skip("protobuf unavailable")

    class FakeMap:
        def __init__(self):
            self.d = {}

        def containsKey(self, k):
            return k in self.d

        def getValue(self, k):
            return self.d[k]

        def updateValue(self, k, v):
            self.d[k] = v

        def iterator(self):
            return iter(sorted(self.d.items()))

    class FakeList:
        def __init__(self):
            self.v = []

        def appendValue(self, x):
            self.v.append(x)

        def get(self):
            return iter(self.v)

    class FakeHandle:
        def __init__(self):
            self.m, self.l = FakeMap(), FakeList()

        def getMapState(self, name, ks, vs, ttlDurationMs=None):
            return self.m

        def getListState(self, name, schema, ttlDurationMs=None):
            return self.l

    p = stateful._CategoryTotalsProcessor()
    p.init(FakeHandle())
    b1 = pd.DataFrame({"event_type": ["a", "a", "b"], "value": [1.25, 2.0, 0.5]})
    out1 = pd.concat(list(p.handleInputRows((7,), [b1], None)))
    got1 = {(r.event_type): (r.total_cents, r.n_events, r.user_batches)
            for r in out1.itertuples()}
    assert got1 == {"a": (325, 2, 1), "b": (50, 1, 1)}
    b2 = pd.DataFrame({"event_type": ["b", "c"], "value": [0.25, 10.0]})
    out2 = pd.concat(list(p.handleInputRows((7,), [b2], None)))
    got2 = {(r.event_type): (r.total_cents, r.n_events, r.user_batches)
            for r in out2.itertuples()}
    assert got2 == {"a": (325, 2, 2), "b": (75, 2, 2), "c": (1000, 1, 2)}
    # empty batch: no emission, no ledger change, no batch increment
    assert list(p.handleInputRows((7,), [pd.DataFrame({"event_type": [], "value": []})], None) or []) == []


def test_pbshim_bypassed_when_real_protobuf_resolves_first(tmp_path):
    """Import-order property (VERDICT r10 task 6 + ADVICE r10): when a
    REAL ``google.protobuf`` resolves first on sys.path,
    ``ensure_protobuf`` must leave that install's version gate
    untouched — the same-major leniency patch applies ONLY to the
    vendored SDK runtime, so a future environment with pip-installed
    protobuf keeps upstream validation (genuine gencode/runtime
    incompatibilities fail with the clear version error, not obscure
    AttributeErrors)."""
    import importlib
    import sys

    from mcp_server_vector_search_spark import _pbcompat

    pkg = tmp_path / "google" / "protobuf"
    pkg.mkdir(parents=True)
    (tmp_path / "google" / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "runtime_version.py").write_text(
        "MAJOR = 6\n"
        "def ValidateProtobufRuntimeVersion(*a, **k):\n"
        "    return None\n"
        "ValidateProtobufRuntimeVersion._sentinel = 'real-install'\n"
    )

    saved_path = list(sys.path)
    saved_mods = {
        m: sys.modules[m]
        for m in list(sys.modules)
        if m == "google" or m.startswith("google.")
    }
    saved_activated = _pbcompat._activated
    try:
        for m in saved_mods:
            del sys.modules[m]
        sys.path.insert(0, str(tmp_path))
        importlib.invalidate_caches()
        _pbcompat._activated = None
        _pbcompat.ensure_protobuf()
        origin = _pbcompat._protobuf_origin()
        assert origin and str(tmp_path) in origin, origin
        assert not _pbcompat._is_vendored(origin)
        from google.protobuf import runtime_version as rv

        assert (
            getattr(rv.ValidateProtobufRuntimeVersion, "_sentinel", None)
            == "real-install"
        ), "real install's version gate was wrapped — shim must stay inert"
    finally:
        sys.path[:] = saved_path
        for m in [
            m
            for m in list(sys.modules)
            if m == "google" or m.startswith("google.")
        ]:
            del sys.modules[m]
        sys.modules.update(saved_mods)
        _pbcompat._activated = saved_activated
        importlib.invalidate_caches()


def test_pbshim_patch_scope_matches_resolution():
    """Whatever runtime THIS session resolved, the patch scope must
    match the resolution: vendored SDK runtime → lenient wrapper
    installed; real install → upstream validator untouched.  Green
    both with and without the shim active (VERDICT r10 task 6)."""
    import pytest

    from mcp_server_vector_search_spark import _pbcompat
    from mcp_server_vector_search_spark.streaming import stateful

    if not stateful._HAS_PROTOBUF:
        pytest.skip("no protobuf runtime (real or vendored) in this env")
    assert _pbcompat.ensure_protobuf() is True
    from google.protobuf import runtime_version as rv

    wrapped = rv.ValidateProtobufRuntimeVersion.__name__ in (
        "lenient",
        "_lenient_validate",
    )
    assert wrapped == _pbcompat._is_vendored(_pbcompat._protobuf_origin())


def test_stage_phase_dirs_fail_loudly_on_empty_phase(spark, tmp_path):
    """r17 (ADVICE r16): a phase slice with zero rows produces no
    __ph=i directory; the staging helpers must raise with the phase
    index instead of letting _link_ordered_phases silently drop that
    micro-batch."""
    import pytest

    rows_by_phase = [[(1, "a")], [], [(2, "b")]]  # phase 1 is empty
    with pytest.raises(RuntimeError, match="__ph=1"):
        ingest._stage_literal_phases(
            spark, rows_by_phase, "id long, tag string", str(tmp_path / "s1")
        )
    # non-empty phases still stage and return in order
    dirs = ingest._stage_literal_phases(
        spark, [[(1, "a")], [(2, "b")]], "id long, tag string", str(tmp_path / "s2")
    )
    assert dirs == ["__ph=0", "__ph=1"]
    got = sorted(
        (r["id"], r["tag"])
        for d in dirs
        for r in spark.read.parquet(str(tmp_path / "s2" / d)).collect()
    )
    assert got == [(1, "a"), (2, "b")]
