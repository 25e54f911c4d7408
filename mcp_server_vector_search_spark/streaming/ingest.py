"""Structured Streaming ingest: windowed aggregation and incremental
vector-index maintenance.

The reference is request/response (async MCP tool, SURVEY.md §2.3 —
no stream processing anywhere); a 100 TB ingest pipeline is not, so the
engine adds the streaming surface:

- event-time tumbling aggregation with a watermark (late rows beyond
  the watermark are dropped by the engine, not by user code);
- gap-based session windows (``F.session_window`` — the stateful
  streaming equivalent of operators/windows.sessionize_users);
- ``foreachBatch`` incremental IVF index append: each micro-batch of
  new vectors is assigned to its nearest centroid (broadcast centroid
  table) and appended to the centroid_id-partitioned parquet layout,
  i.e. the batch-built index (operators/ann.py) stays queryable and
  prunable while the stream feeds it.

Batch/stream parity: the window expressions here are the SAME Catalyst
operators used in batch (operators/windows.py), which is how the
oracle-checked batch results certify the streaming logic; streaming
runs are smoke-tested with the parquet source + memory/parquet sinks
(tests/test_streaming.py).

Every stream reads a testdata table through ``table_stream`` or a
staged ``scratch_dir``, and runs through ``run_available_now``: one
bounded availableNow execution.  Its checkpoint, staged inputs and
memory-sink view are scratch owned by ``cache.py``.  They live until
the owner of the result calls ``cache.release_scratch()``.
"""

from __future__ import annotations

import functools
import os
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..cache import scratch_dir, scratch_table, scratch_view
from ..sources.tables import load_table

WATERMARK = "2 hours"
TUMBLE = "3600 seconds"
SESSION_GAP = "30 minutes"


def data_batches(q) -> int:
    """Number of micro-batches that actually carried input rows.
    ``len(q.recentProgress)`` also counts the empty finalization batch
    availableNow appends, so cross-batch certificates must count DATA
    batches or the 'spans micro-batches' claim can pass vacuously."""
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def run_available_now(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    mode: str = "append",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run the streaming ``df`` to completion under
    ``trigger(availableNow=True)`` and return the finished query.

    ``sink`` is ``"memory"`` (a tracked memory-sink view, read back as
    ``spark.table(q.name)``), a directory (parquet sink) or a
    ``foreachBatch`` function.  The checkpoint is a fresh scratch dir
    unless a restart passes the same ``checkpoint`` again."""
    w = df.writeStream.outputMode(mode).option(
        "checkpointLocation", checkpoint or scratch_dir("stream_ckpt_")
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink == "memory":
        w = w.format("memory").queryName(scratch_view(df.sparkSession, "stream_sink_"))
    else:
        w = w.format("parquet").option("path", sink)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``sf_dir``'s ``table`` as a file stream, one file per trigger,
    schema pinned from the batch reader.  Spark's file-stream source
    requires a DIRECTORY, so the parquet file is exposed through a
    symlink in a scratch dir (testdata stays read-only)."""
    path = f"{sf_dir}/{table}.parquet"
    src = scratch_dir("stream_src_")
    os.symlink(path, os.path.join(src, os.path.basename(path)))
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream (schema pinned from the batch
    reader, including the nanos→micros ts normalization)."""
    batch = load_table(spark, sf_dir, "events")
    stream = table_stream(spark, sf_dir, "events")
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Same exact relabel as load_table: under the UTC session tz,
        # NTZ→TIMESTAMP preserves the wall-clock instant, and event-time
        # watermarks require TIMESTAMP.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    assert stream.schema == batch.schema
    return stream


def windowed_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling counts — append-mode-safe (the watermark
    bounds state: windows older than 2h of event time are finalized
    and evicted)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", TUMBLE), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_events"
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session windows (gap-merged, stateful in streaming)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def incremental_index_append(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    index_path: str,
) -> StreamingQuery:
    """Streaming IVF maintenance: assign each arriving vector to its
    nearest centroid (argmax over a broadcast-folded literal centroid
    table — pure codegen, no Python) and append into the partitioned
    index layout.  Returns the finished StreamingQuery."""
    stream = table_stream(spark, sf_dir, "embeddings")

    # The SAME assignment expression as the batch index build
    # (operators/ann.assignment_expr: matrix-literal transform, rounded
    # sims, lowest-id ties) — streamed appends land in exactly the cell
    # a batch rebuild would choose, so the layout never forks.
    from ..operators.ann import assignment_expr

    assigned = stream.withColumn("centroid_id", assignment_expr(centroids))

    def append_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .partitionBy("centroid_id")
            .parquet(index_path)
        )

    return run_available_now(assigned, append_batch)


def chunk_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG chunking operator as a STREAM: documents arriving as
    files are chunked with the IDENTICAL batch expressions
    (operators/text_analysis.chunk_with_overlap — a stateless row-local
    projection, so it is append-mode-safe with no watermark or state).
    Batch/stream equivalence is asserted in tests/test_streaming.py."""
    from ..operators.text_analysis import chunk_with_overlap

    return chunk_with_overlap(table_stream(spark, sf_dir, "documents"))


def incremental_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    corpus_fps: DataFrame,
    out_path: str,
    min_doc_id: int,
) -> StreamingQuery:
    """Rolling-ingest dedup as a STREAM: each micro-batch of arriving
    documents (doc_id ≥ ``min_doc_id`` — the same new/old boundary the
    batch query computes) is fingerprinted and probed against the
    static, pre-reduced corpus fingerprint aggregate via the SAME
    expressions as the batch operator (operators/dedup.doc_fingerprints
    / probe_new_batch), with matches appended to parquet.  The corpus
    side is a bounded static frame reused across batches — the stream
    never re-shuffles it (the foreachBatch analog of the batch plan's
    broadcast shape).  Returns the finished StreamingQuery."""
    from ..operators.dedup import doc_fingerprints, probe_new_batch

    stream = table_stream(spark, sf_dir, "documents")
    new_docs = stream.where(F.col("doc_id") >= F.lit(min_doc_id))

    def probe_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = probe_new_batch(doc_fingerprints(batch_df), corpus_fps)
        out.write.mode("append").parquet(out_path)

    return run_available_now(new_docs, probe_batch)


def redact_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII-pattern scrub as a STREAM: documents arriving as files
    are redacted with the IDENTICAL batch projection
    (operators/curation.redact_rows — stateless and row-local, so
    append mode needs no watermark or state).  This is the shape of a
    compliance scrub on a live ingest path: rows are clean BEFORE they
    land in the corpus, and the batch audit query stays the lagging
    full-corpus check.  Equivalence asserted in tests/test_streaming.py."""
    from ..operators.curation import redact_rows

    return redact_rows(table_stream(spark, sf_dir, "documents"))


def temperature_mix_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing on a LIVE ingest: arriving
    document files are replicated/downsampled with weights FROZEN from
    the reference corpus (operators/sampling.temperature_mix_plan over
    the batch counts) — once the plan is literals, the explode/keep
    decision is stateless and row-local, so the stream needs no state
    store and no watermark.  A production mixer re-freezes the plan on
    a cadence (weights drift as the corpus grows) by restarting the
    query with fresh literals — the plan is a parameter, not state.
    Batch≡stream equivalence asserted in tests/test_streaming.py."""
    from ..operators.sampling import (
        corpus_source_counts,
        temperature_mix_plan,
        temperature_replicate,
    )

    plan = temperature_mix_plan(
        corpus_source_counts(load_table(spark, sf_dir, "documents"))
    )
    return temperature_replicate(table_stream(spark, sf_dir, "documents"), plan)


def incremental_minhash_stream(
    spark: SparkSession,
    sf_dir: str,
    store_bands: DataFrame,
    min_doc_id: int,
) -> DataFrame:
    """The incremental MinHash probe as a STREAM: arriving documents
    compute their signatures and banded keys with the IDENTICAL batch
    expressions (operators/dedup.minhash_sig_expr / band_keys — pure
    row-level projections), probe the STATIC corpus signature store via
    a stream-static join, and exact-verify with the same Jaccard
    arithmetic.  Everything is append-safe: no aggregation, no state,
    no watermark — the store is the only memory, exactly as in the
    batch operator.  Equivalence vs `dedup_incremental_minhash` is
    asserted in tests/test_streaming.py."""
    from ..functions.text import tokens
    from ..operators.dedup import (
        MINHASH_VERIFY_T,
        R,
        band_keys,
        first_matching_band_expr,
        minhash_sig_expr,
        sig_agreement_expr,
    )

    stream = table_stream(spark, sf_dir, "documents")
    arriving = stream.where(F.col("doc_id") >= min_doc_id).select(
        "doc_id",
        minhash_sig_expr(F.col("text")).alias("sigs"),
        F.array_distinct(tokens(F.col("text"))).alias("toks"),
    )
    batch_bands = band_keys(arriving, extra_cols=("toks",))
    est = sig_agreement_expr()
    i_ = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    jac = F.round(
        i_.cast("double")
        / (F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - i_),
        R,
    )
    return (
        store_bands.alias("a")
        .join(
            batch_bands.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        # first-match early exit: one row per pair even on two-band hits,
        # with no dropDuplicates state — row-level batch equivalence
        .where(F.col("a.band") == first_matching_band_expr())
        .select(
            F.col("b.doc_id").alias("new_doc"),
            F.col("a.doc_id").alias("corpus_doc"),
            F.round(est, R).alias("est_jaccard"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= MINHASH_VERIFY_T)
    )


# ---------------------------------------------------------------------------
# Driver-checked micro-batch execution (VERDICT r6 task 6): the
# batch≡stream equivalence harness lives in pytest; THIS query puts a
# real StreamExecution inside the driver's correctness gate.
# ---------------------------------------------------------------------------

from ..operators.windows import TUMBLE_SEC, tumbling_agg  # noqa: E402
from ..registry import register  # noqa: E402


@register(
    "streaming_tumbling_counts",
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
def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event counts computed BY A STREAM: the events table is
    replayed through the file-stream source, aggregated with the exact
    batch expression (``tumbling_agg`` — one Catalyst plan, two
    execution modes), executed as availableNow micro-batches into a
    complete-mode memory sink, and the sink table is returned for the
    driver to hash against the batch SQL oracle.

    Complete mode because the gate needs every window: append mode
    only emits windows the watermark has finalized, so a bounded
    replay would hold back the tail (that semantics is covered by the
    watermark tests in tests/test_streaming.py).  The stateful-agg
    state and the memory sink hold one row per (window, event_type) —
    bounded by the time span, not the corpus."""
    return spark.table(run_tumbling_stream(spark, sf_dir).name)


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> StreamingQuery:
    """Run the tumbling-count stream to completion into a memory sink;
    return the finished StreamingQuery.  Shared by the gate query above
    and ``scripts/gen_plans.py``, which renders the executed micro-batch
    physical plan (StateStoreRestore/Save pair) from the handle via
    ``explainInternal``."""
    return run_available_now(
        tumbling_agg(read_event_stream(spark, sf_dir)), "memory", "complete"
    )


# ---------------------------------------------------------------------------
# Second driver-gated streaming row: the foreachBatch ingest mechanism
# (the first, streaming_tumbling_counts, gates the STATEFUL-AGG
# mechanism).  The stream builds a real partitioned IVF layout from
# micro-batch appends; the read-back per-cell aggregate must equal the
# oracle's from-scratch assignment — lost, duplicated, or misassigned
# rows in ANY micro-batch shift a count or a vec_id sum.
# ---------------------------------------------------------------------------


def _index_append_oracle() -> str:
    from ..operators.ann import ivf_assign_sql, oracle_centroids

    return f"""
WITH {ivf_assign_sql(oracle_centroids())}
SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
       COUNT(*) AS n_vectors,
       CAST(SUM(vec_id) AS BIGINT) AS id_sum
FROM assign
GROUP BY centroid_id
ORDER BY centroid_id
"""


@register("streaming_index_append", oracle=_index_append_oracle)
def q_streaming_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF ingest through the gate: replay the embeddings
    table as a file stream, assign each micro-batch with the SAME
    codegen assignment expression as the batch index build, append
    into a centroid_id-partitioned layout via ``foreachBatch``, then
    read the finished layout back and aggregate per cell.  The oracle
    recomputes the assignment from scratch — the value hash certifies
    that micro-batch ingestion converges to the exact batch layout
    (no forked cells, no lost or duplicated vectors).  ``id_sum``
    makes identity preservation visible: a duplicated or dropped
    vec_id shifts it even when counts collide."""
    from ..operators.ann import TRAIN_SAMPLE, _sample_vectors, train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(_sample_vectors(emb, TRAIN_SAMPLE))
    index_path = scratch_dir("stream_ivf_")
    incremental_index_append(spark, sf_dir, cents, index_path)
    return (
        spark.read.parquet(index_path)
        .groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("vec_id").alias("id_sum"),
        )
        .orderBy("centroid_id")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Streaming dedup through the gate: duplicates arriving in DIFFERENT
# micro-batches must be dropped by dedup state, not batch-local
# distinct.  The replay writes the events file twice (two files → two
# micro-batches), so every event_id arrives exactly twice, once per
# batch — a batch-local distinct would double every count.
# ---------------------------------------------------------------------------


@register(
    "streaming_dedup_events",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with cross-batch state: the corpus is
    replayed TWICE (one copy per micro-batch), ``dropDuplicates`` on
    event_id must suppress the second arrival of every event through
    the state store, and the downstream complete-mode aggregate must
    equal the single-copy batch oracle — a batch-local distinct
    doubles every count and id_sum.  State here is one row per
    event_id (the bounded test corpus); the unbounded-corpus form is
    ``dropDuplicatesWithinWatermark``, which evicts ids older than
    the watermark — same plan, bounded state."""
    # narrow state partitions for the bounded fixture (a sizing conf at
    # scale); repartition(1), not coalesce(1), so the staging scan stays
    # parallel and only the write is single-file
    spark = spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # stage only the columns the dedup + aggregate read (r17, guide
    # §2.3/§6) — the duplicate replay scans each staged byte twice
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    src = scratch_dir("dedup_src_")
    events.repartition(1).write.mode("overwrite").parquet(f"{src}/a")
    # ONE write pass; the duplicate arrival is two hard links to the
    # same file, which the file-stream source treats as two inputs
    merged = scratch_dir("dedup_merged_")
    for n, f in enumerate(sorted(Path(f"{src}/a").glob("*.parquet"))):
        os.link(f, f"{merged}/part_a_{n}.parquet")
        os.link(f, f"{merged}/part_b_{n}.parquet")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    q = run_available_now(
        stream.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        ),
        "memory",
        "complete",
    )
    assert data_batches(q) >= 2, "duplicates must span micro-batches"
    return spark.table(q.name).orderBy("event_type").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Stream-static join through the gate: every micro-batch of the event
# stream enriches against a STATIC dimension table — the standard
# "stream of facts × slowly-changing dim snapshot" topology (Spark's
# stream-static join re-plans the static side per micro-batch; with a
# small dim Catalyst broadcasts it, so no stateful join state at all).
# ---------------------------------------------------------------------------


@register(
    "streaming_join_static",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def q_streaming_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join executed as REAL micro-batches:
    the events table is replayed as (at least) two file-stream
    micro-batches, each joined against the static ``customer``
    dimension (broadcast per batch — stream-static joins keep NO join
    state, the scalable shape for fact-stream × dim enrichment at
    100 TB/day), aggregated per market segment in complete mode, and
    the sink table must hash-match the single-shot batch SQL.  Value
    sums go through DECIMAL so micro-batch accumulation order can't
    drift the double."""
    # stage only the join key + measure (r17, guide §2.3/§6): the
    # per-batch broadcast join and segment aggregate read nothing else
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    customer = load_table(spark, sf_dir, "customer")
    src = scratch_dir("ssjoin_src_")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    events.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_available_now(
        stream.join(customer, stream.user_id == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        ),
        "memory",
        "complete",
    )
    assert data_batches(q) >= 2, "join must span micro-batches"
    return spark.table(q.name).orderBy("c_mktsegment").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Checkpoint-resume through the gate: a RESTARTED stream must process
# only the delta — the exactly-once contract every long-running ingest
# pipeline stands on.
# ---------------------------------------------------------------------------


@register(
    "streaming_checkpoint_resume",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_streaming_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once RESTART: run an availableNow stream over half the
    corpus into a parquet sink, STOP it, add the second half to the
    source, and restart from the SAME checkpoint.  The second run must
    process only the delta (asserted from its progress counters — the
    checkpoint's file-source log is what makes re-listing the old file
    a no-op), and the sink must contain every event exactly once: the
    batch aggregate over the sink hash-matches the single-shot oracle,
    so a re-processed or skipped file shifts n_events AND id_sum.
    This is the mechanism that lets a 100 TB/day ingest survive
    restarts without reprocessing history."""
    # stage only the two columns the sink projection reads (r17, guide
    # §2.3/§6) — the restart re-lists and the delta-run re-scans them
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    stage = scratch_dir("ckptres_stage_")
    src = scratch_dir("ckptres_src_")
    sink = scratch_dir("ckptres_sink_")
    ckpt = scratch_dir("ckptres_ckpt_")
    # one events scan stages both halves (r16: _stage_sliced_phases)
    half_a_dir, half_b_dir = _stage_sliced_phases(
        events, stage, F.col("event_id") % 2, 2
    )
    # the delta-size assertion reads the staged slice (one local file),
    # not a third scan of events
    n_b = spark.read.parquet(f"{stage}/{half_b_dir}").count()
    for n, f in enumerate(sorted(Path(f"{stage}/{half_a_dir}").glob("*.parquet"))):
        os.link(f, f"{src}/part_a_{n}.parquet")

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = run_available_now(
            stream.select("event_id", "event_type"), sink, checkpoint=ckpt
        )
        return sum(p["numInputRows"] for p in q.recentProgress)

    run_once()  # first run: file A only
    for n, f in enumerate(sorted(Path(f"{stage}/{half_b_dir}").glob("*.parquet"))):
        os.link(f, f"{src}/part_b_{n}.parquet")
    n_second = run_once()  # restart from the same checkpoint
    assert n_second == n_b, (
        f"restart must process exactly the delta ({n_b} rows), got {n_second}"
    )
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Watermark semantics through the gate: late-but-allowed rows counted,
# too-late rows DROPPED, only finalized windows emitted (append mode).
# ---------------------------------------------------------------------------

WM_DELAY = "30 minutes"


@register(
    "streaming_watermark_late_drop",
    oracle="""
SELECT CAST(win_start AS TIMESTAMP) AS win_start, CAST(n AS BIGINT) AS n
FROM (VALUES
  (TIMESTAMP '2024-03-01 10:00:00', 3),
  (TIMESTAMP '2024-03-01 11:00:00', 1)
) AS t(win_start, n)
ORDER BY win_start
""",
)
def q_streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark CONTRACT, certified end to end in append mode:

    - run 1 (batch 1): rows at 10:10, 10:20, 11:05 → watermark
      advances to 10:35 (max − 30 min); nothing emits (no window has
      closed).
    - run 2 (batch 2, same checkpoint): 09:50 arrives — its window
      [09:00, 10:00) closed at watermark 10:35, so the ENGINE drops it
      (not user code); 10:25 arrives — late but its window is still
      open, so it counts; 12:40 advances the watermark to 12:10, which
      finalizes [10:00, 11:00) = 3 rows (the late 10:25 included) and
      [11:00, 12:00) = 1 row.  12:40's own window never emits — append
      mode releases only finalized windows.

    The parquet sink is read back and must hash-match the folded
    expected rows: a dropped-late bug shifts n to 4, an
    eager-emission bug adds the 12:00 window, a watermark that fails
    to persist across the restart resurrects the 09:50 row.  The
    timeline is synthetic (fixed literals) because the certificate is
    about TIME semantics, not the corpus — sf only picks the session.
    Bounded state: one row per open window."""
    from datetime import datetime

    # 4-way stateful shuffle (see streaming_stream_stream_join): the
    # window-agg state is a handful of rows; 32-wide state stores
    # across two restarts are pure commit overhead
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "4")

    src = scratch_dir("wm_src_")
    sink = scratch_dir("wm_sink_")
    ckpt = scratch_dir("wm_ckpt_")
    stage = scratch_dir("wm_stage_")
    # both phases staged by ONE write job (r16: _stage_literal_phases);
    # repartition(1) inside it, NOT coalesce(1) — a coalesced single
    # task over the 32 empty parallelize partitions stalls ~3s on
    # spark.locality.wait per write at local[32]
    def rows(ts_list):
        return [(datetime(2024, 3, 1, h, m), 1.0) for h, m in ts_list]

    phase_dirs = _stage_literal_phases(
        child,
        [rows([(10, 10), (10, 20), (11, 5)]), rows([(9, 50), (10, 25), (12, 40)])],
        "ts timestamp, v double",
        stage,
    )

    def run_once():
        stream = child.readStream.schema("ts timestamp, v double").parquet(src)
        run_available_now(
            stream.withWatermark("ts", WM_DELAY)
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("win_start"), "n"),
            sink,
            checkpoint=ckpt,
        )

    for i, phase_dir in enumerate(phase_dirs):
        for n, f in enumerate(sorted(Path(f"{stage}/{phase_dir}").glob("*.parquet"))):
            os.link(f, f"{src}/part_{i}_{n}.parquet")
        run_once()
    return child.read.parquet(sink).orderBy("win_start").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Stream-STREAM join through the gate: two live event streams joined on
# key + event-time range via the stateful SymmetricHashJoin operator —
# the remaining streaming join topology (stream-static is certified by
# streaming_join_static above).
# ---------------------------------------------------------------------------

SS_JOIN_WINDOW = "INTERVAL 1 HOUR"
# Larger than the 30-day fixture span: nothing is evicted, so the inner
# join is exactly batch-equal.  At production scale the delay IS the
# state bound (state ~ delay-window of rows per side); the eviction /
# late-drop mechanism itself is certified by
# streaming_watermark_late_drop, so this row can pin exact parity.
SS_JOIN_WM = "40 days"


@register(
    "streaming_stream_stream_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY click_id, purchase_id
""",
)
def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (click → purchase funnel
    attribution, the canonical ad-tech topology): both sides are live
    file streams replayed as (at least) two micro-batches, joined on
    user_id PLUS an event-time range (purchase within 1h after the
    click).  This exercises Spark's SymmetricHashJoin: each side
    buffers rows in the state store and probes the other side's state
    as batches arrive, so matches whose two rows arrive in DIFFERENT
    micro-batches are still emitted — which repartition(2) makes the
    common case here.  The time-range condition is what bounds state
    at 100 TB/day: with watermarks on both sides Spark evicts buffered
    rows once they can no longer match (here the delay exceeds the
    fixture span so parity with the batch self-join is exact; see
    SS_JOIN_WM).  Append-mode memory sink; result is the raw matched
    pairs, hash-checked against DuckDB's batch self-join.  Reference
    has no streaming surface (SURVEY.md §2.3); this is engine breadth.

    Runs in a child session with a 4-way stateful shuffle: a
    stream-stream join materializes FOUR state stores per shuffle
    partition per micro-batch (keyToNumValues/keyWithIndexToValue x 2
    sides), so the state width — pinned forever at the first
    checkpoint — is a deliberate sizing decision, not an inherited
    batch default (32 here; thousands on a real cluster).  Sizing it
    to the stream's key cardinality is exactly what an operator does
    in production; at sf0.01 it cuts this row from 15.2 s to ~5 s of
    pure state-store commit overhead.
    """
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "4")
    # Stage ONLY the columns the two stream sides read (r17, guide
    # §2.3/§6): props — the widest column — never needs to hit the
    # staged files or the 2x2 micro-batch scans.  Match set unchanged.
    events = load_table(child, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    src = scratch_dir("ss2j_src_")
    # two files -> two micro-batches per side under maxFilesPerTrigger=1
    events.repartition(2).write.mode("overwrite").parquet(src)

    def side(event_type: str) -> DataFrame:
        return (
            child.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .where(F.col("event_type") == event_type)
        )

    clicks = (
        side("click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", SS_JOIN_WM)
    )
    purchases = (
        side("purchase")
        .select(
            F.col("user_id").alias("buyer_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", SS_JOIN_WM)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(SS_JOIN_WINDOW)),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )

    q = run_available_now(joined, "memory")
    assert data_batches(q) >= 2, "join must span micro-batches"
    return (
        child.table(q.name)
        .orderBy("click_id", "purchase_id")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Bounded-state streaming dedup: dropDuplicatesWithinWatermark.  The
# unbounded-corpus answer to streaming_dedup_events (whose state is one
# row per id forever): here state is EVICTED once the watermark passes
# an id's expiry, so a re-arrival after eviction is re-admitted — the
# price of bounded state, certified explicitly.
# ---------------------------------------------------------------------------

DDW_DELAY = "1 hour"


def _stage_sliced_phases(df: DataFrame, stage: str, phase_col, n_phases: int) -> list[str]:
    """Stage ``df`` as ``n_phases`` one-file parquet slice dirs in ONE
    single-task write (``partitionBy`` on the phase expression) instead
    of ``n_phases`` separate filtered scans+writes — the staging table
    is scanned once, not per slice (r16, guide §1.2: measured 3.3 s →
    1.2 s for the 3-slice events staging at sf0.1).  Slice membership
    and rows are identical to per-phase ``df.where(phase_col == i)``
    writes, and the partition column is dropped from the data files, so
    each slice carries exactly ``df``'s schema.  ``repartition(1)``
    keeps the scan parallel and only the write single-task, the same
    discipline as the per-slice writes this replaces.  Returns the
    slice directory names in phase order (feed to
    ``_link_ordered_phases``, which pins explicit mtimes)."""
    df.withColumn("__ph", phase_col).repartition(1).write.mode(
        "overwrite"
    ).partitionBy("__ph").parquet(stage)
    return _checked_phase_dirs(stage, n_phases)


def _stage_literal_phases(
    spark: SparkSession, rows_by_phase: list[list[tuple]], schema: str, stage: str
) -> list[str]:
    """Stage n tiny literal fixtures as one-file parquet slice dirs in
    ONE write job (r16): the per-phase ``createDataFrame → repartition(1)
    → write`` loop paid one full job per phase for a handful of rows.
    A ``__ph`` partition column is appended and dropped again by
    ``partitionBy``, so each slice holds exactly the phase's rows under
    ``schema``.  Returns the slice dir names in phase order."""
    all_rows = [r + (i,) for i, rows in enumerate(rows_by_phase) for r in rows]
    df = spark.createDataFrame(all_rows, schema + ", __ph int")
    df.repartition(1).write.mode("overwrite").partitionBy("__ph").parquet(stage)
    return _checked_phase_dirs(stage, len(rows_by_phase))


def _checked_phase_dirs(stage: str, n_phases: int) -> list[str]:
    """A phase slice with zero rows produces NO ``__ph=i`` directory, and
    ``_link_ordered_phases`` would silently glob nothing — dropping that
    micro-batch and changing stream batch semantics.  Fail loudly with
    the phase index instead (ADVICE r16)."""
    for i in range(n_phases):
        if not Path(f"{stage}/__ph={i}").is_dir():
            raise RuntimeError(
                f"staged phase slice __ph={i} produced no directory under "
                f"{stage} (empty phase?) — refusing to silently drop a "
                "micro-batch"
            )
    return [f"__ph={i}" for i in range(n_phases)]


def _link_ordered_phases(stage: str, src: str, phases: list[str]) -> None:
    """Expose per-phase staged parquet as ONE source dir whose files
    carry strictly increasing mtimes, so the file-stream source (which
    processes oldest-first) delivers them as ordered micro-batches
    under ``maxFilesPerTrigger=1`` — phase boundaries without paying a
    StreamExecution restart per phase."""
    import time as _time

    base = _time.time() - 3600
    for i, phase in enumerate(phases):
        for n, f in enumerate(sorted(Path(f"{stage}/{phase}").glob("*.parquet"))):
            dst = f"{src}/part_{i}_{phase}_{n}.parquet"
            os.link(f, dst)
            os.utime(dst, (base + i * 60, base + i * 60))


@register(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT CAST(id AS BIGINT) AS id, CAST(ts AS TIMESTAMP) AS ts, tag
FROM (VALUES
  (1, TIMESTAMP '2024-03-01 10:00:00', 'orig'),
  (2, TIMESTAMP '2024-03-01 10:00:00', 'orig'),
  (3, TIMESTAMP '2024-03-01 20:00:00', 'advance'),
  (9, TIMESTAMP '2024-03-01 20:05:00', 'post_advance'),
  (1, TIMESTAMP '2024-03-01 20:30:00', 're_admitted')
) AS t(id, ts, tag)
ORDER BY ts, id
""",
)
def q_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — dedup whose state is BOUNDED
    by the watermark delay, certified for all three behaviors:

    - batch 1: ids 1 and 2 at 10:00 → both emitted, state stored with
      expiry ``event_time + 1h``; watermark advances to 09:00.
    - batch 2: id 1 again at 10:30 — within the delay of its first
      arrival, so the ENGINE suppresses it (the 'dup_within' row must
      not appear); id 3 at 20:00 emits and moves the watermark to
      19:00.
    - batch 3 ('post_advance'): the purge that watermark drives runs
      at this batch's close and EVICTS the expired id-1/2 entries.
    - batch 4: id 1 once more at 20:30 — its state is gone, so it is
      RE-ADMITTED and emitted a second time.

    The parquet sink must hash-match the five folded expected rows: a
    dedup bug adds 'dup_within', and unbounded state (plain
    ``dropDuplicates``) silently swallows 're_admitted'.  The four
    arrivals ride ONE StreamExecution as mtime-ordered files under
    ``maxFilesPerTrigger=1`` (≥4 data batches asserted) — watermark
    persistence across RESTARTS is separately certified by
    ``streaming_watermark_late_drop`` and
    ``streaming_checkpoint_resume``.  This is the 100 TB/day dedup
    contract: state ~
    (arrival rate x delay window), not corpus size — exact within the
    window by construction, while corpus-wide exactness belongs to the
    batch/incremental dedup family (``dedup_exact``,
    ``dedup_incremental_exact``).  Timeline synthetic (fixed literals)
    because the certificate is about TIME semantics, not the corpus."""
    from datetime import datetime

    # 4-way stateful shuffle (see streaming_stream_stream_join): the
    # dedup state width is pinned at the first checkpoint, and a
    # 5-key certificate has no business paying 32 state-store commits
    # per micro-batch across three restarts
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "4")

    src = scratch_dir("ddw_src_")
    sink = scratch_dir("ddw_sink_")
    stage = scratch_dir("ddw_stage_")
    # state purge runs at the END of a batch against the watermark that
    # batch opened with, so the eviction driven by 'advance' (batch 2,
    # watermark 19:00 from batch 1's max) lands at batch 2's close —
    # 'post_advance' gives that purge a batch to happen in before the
    # re-arrival is probed in batch 3
    phases = [
        [(1, (10, 0), "orig"), (2, (10, 0), "orig")],
        [(1, (10, 30), "dup_within"), (3, (20, 0), "advance")],
        [(9, (20, 5), "post_advance")],
        [(1, (20, 30), "re_admitted")],
    ]
    # all four phases staged by ONE write job (r16: _stage_literal_phases)
    phase_dirs = _stage_literal_phases(
        child,
        [
            [(i, datetime(2024, 3, 1, h, m), tag) for i, (h, m), tag in rows]
            for rows in phases
        ],
        "id bigint, ts timestamp, tag string",
        stage,
    )
    _link_ordered_phases(stage, src, phase_dirs)

    stream = child.readStream.schema(
        "id bigint, ts timestamp, tag string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = run_available_now(
        stream.withWatermark("ts", DDW_DELAY).dropDuplicatesWithinWatermark(["id"]),
        sink,
    )
    n_data = data_batches(q)
    assert n_data >= 4, f"expected 4 ordered arrivals, got {n_data}"
    return child.read.parquet(sink).orderBy("ts", "id").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join: matched pairs emit immediately; an
# unmatched left row is held in join state and emitted NULL-padded only
# when the watermark proves no future right row can match it.  The
# remaining outer-join streaming topology (inner is certified by
# streaming_stream_stream_join above).
# ---------------------------------------------------------------------------

SSO_DELAY = "10 minutes"


@register(
    "streaming_stream_stream_outer",
    oracle="""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(click_ts AS TIMESTAMP) AS click_ts,
       CAST(purchase_ts AS TIMESTAMP) AS purchase_ts,
       CAST(purchase_value AS DOUBLE) AS purchase_value
FROM (VALUES
  (1, TIMESTAMP '2024-03-01 10:00:00', TIMESTAMP '2024-03-01 10:20:00', 5.0),
  (2, TIMESTAMP '2024-03-01 10:00:00', CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)),
  (3, TIMESTAMP '2024-03-01 20:00:00', TIMESTAMP '2024-03-01 20:10:00', 7.0)
) AS t(user_id, click_ts, purchase_ts, purchase_value)
ORDER BY user_id
""",
)
def q_streaming_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join, the delayed-NULL
    contract certified end to end:

    - batch 1: click(u1)@10:00 + purchase(u1)@10:20 match inside the
      1-hour attribution window and emit immediately; click(u2)@10:00
      has no purchase and is BUFFERED, not emitted — outer results
      cannot be released until the watermark proves no match can
      still arrive.
    - batch 2 (same checkpoint): click(u3)@20:00 + purchase(u3)@20:10
      match; their event times advance the global watermark to 19:50
      (min of both sides, 10-minute delay), which passes u2's last
      possible match time (11:00), so u2's state is evicted.
    - batch 3: a further click(u4)@20:30 triggers the batch in which
      the evicted u2 row is emitted NULL-padded; u4 itself stays
      buffered forever (watermark never passes it) and must NOT
      appear.

    The parquet sink must hash-match the three folded rows: an inner
    join drops the NULL row entirely, and an eager outer emission adds
    u4 or emits u2 with the wrong sink schema.  The three arrivals
    ride ONE StreamExecution as mtime-ordered files under
    ``maxFilesPerTrigger=1`` (≥3 data batches asserted); restart
    persistence is certified by ``streaming_watermark_late_drop`` and
    ``streaming_checkpoint_resume``.  This is
    how funnel attribution over two 100 TB/day firehoses stays
    bounded: join state ~ delay+window of rows per side, and
    no-shows surface as NULL rows exactly one watermark-advance after
    their window closes — never earlier, never lost."""
    from datetime import datetime

    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "4")

    src = scratch_dir("sso_src_")
    sink = scratch_dir("sso_sink_")
    stage = scratch_dir("sso_stage_")
    phases = [
        [
            (1, "click", (10, 0), 0.0),
            (1, "purchase", (10, 20), 5.0),
            (2, "click", (10, 0), 0.0),
        ],
        [(3, "click", (20, 0), 0.0), (3, "purchase", (20, 10), 7.0)],
        [(4, "click", (20, 30), 0.0)],
    ]
    schema = "user_id bigint, event_type string, ts timestamp, value double"
    # all three arrivals staged by ONE write job (r16: _stage_literal_phases)
    phase_dirs = _stage_literal_phases(
        child,
        [
            [(u, et, datetime(2024, 3, 1, h, m), v) for u, et, (h, m), v in rows]
            for rows in phases
        ],
        schema,
        stage,
    )
    _link_ordered_phases(stage, src, phase_dirs)

    stream = (
        child.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", SSO_DELAY)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buyer_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", SSO_DELAY)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("user_id", "click_ts", "purchase_ts", "purchase_value")
    q = run_available_now(joined, sink)
    n_data = data_batches(q)
    assert n_data >= 3, f"expected 3 ordered arrivals, got {n_data}"
    return child.read.parquet(sink).orderBy("user_id").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# RocksDB state store: the same stateful-agg topology as
# streaming_tumbling_counts re-run on the PRODUCTION state backend.
# ---------------------------------------------------------------------------

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@register(
    "streaming_rocksdb_state_store",
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
def q_streaming_rocksdb_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling stateful aggregate re-run with the state store
    swapped to ROCKSDB with changelog checkpointing — the backend a
    100 TB/day deployment actually runs, and the certificate that the
    swap is semantics-neutral:

    - HDFSBackedStateStoreProvider (the default, used by every other
      streaming row here) keeps state as JVM-heap maps and rewrites
      full snapshots per checkpoint: fine for bounded key sets, fatal
      when per-executor state outgrows the heap.
    - RocksDBStateStoreProvider spills state to executor-local disk
      with bounded block-cache memory, and with
      ``rocksdb.changelogCheckpointing`` the per-batch checkpoint
      uploads only the CHANGELOG (the delta), amortizing full
      snapshots — state size and checkpoint cost stop scaling with
      keys held and start scaling with keys touched.

    Values must hash-match the identical batch SQL oracle as the
    heap-provider row; that the stream really ran on RocksDB is
    asserted from the executed query's stateOperators progress metrics
    (rocksdb* custom metrics only exist on this provider).  Runs in a
    child session so the provider conf cannot leak into other rows."""
    child = spark.newSession()
    child.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    child.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    # 8 RocksDB instances instead of 32: each state partition opens its
    # own store; the fixture's window count doesn't justify 32 opens x
    # 3 commits (a sizing conf at scale, not code)
    child.conf.set("spark.sql.shuffle.partitions", "8")
    # stage only the phase key + the columns tumbling_agg reads (r17,
    # guide §2.3/§6)
    events = load_table(child, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = scratch_dir("rocksdb_src_")
    stage = scratch_dir("rocksdb_stage_")
    # one explicit file per third -> three micro-batches under
    # maxFilesPerTrigger=1, so windows genuinely accumulate across
    # RocksDB commits; ONE partitionBy write stages all thirds from a
    # single events scan (r16: _stage_sliced_phases)
    thirds = _stage_sliced_phases(events, stage, F.pmod("event_id", F.lit(3)), 3)
    _link_ordered_phases(stage, src, thirds)
    stream = (
        child.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_available_now(tumbling_agg(stream), "memory", "complete")
    assert data_batches(q) >= 2, "state must cross micro-batches"
    ops = (q.lastProgress or q.recentProgress[-1])["stateOperators"]
    rocks_metrics = [
        m for op in ops for m in op.get("customMetrics", {}) if m.startswith("rocksdb")
    ]
    assert rocks_metrics, "expected rocksdb* state-store metrics in progress"
    return child.table(q.name).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# State Data Source: offline inspection of a checkpoint's state store —
# the ops surface for debugging/auditing production streaming state
# without replaying the stream.
# ---------------------------------------------------------------------------


@register(
    "streaming_state_reader",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_streaming_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE DATA SOURCE (`spark.read.format("statestore")`): after
    a stateful per-type count runs across ≥2 micro-batches, the
    checkpoint's state store is read back OFFLINE as a DataFrame —
    key struct, aggregation buffer, partition id — and the flattened
    buffers must hash-match the batch aggregate over the corpus.

    This is the operational answer to "what is my stream's state RIGHT
    NOW" at 100 TB/day: state inspection (skew hunting — the
    partition_id column shows per-partition key placement), audit, and
    surgical repair all read the checkpoint directly instead of
    replaying days of input.  The companion `state-metadata` format is
    asserted to report the operator (stateStoreSave) and its batch
    range, which is how tooling discovers what a foreign checkpoint
    contains."""
    # stage only the phase key + the aggregate's grouping column (r17,
    # guide §2.3/§6)
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    src = scratch_dir("ssread_src_")
    stage = scratch_dir("ssread_stage_")
    # explicit per-half files (a hash repartition(2) could land both
    # key values in ONE partition, collapsing the stream to a single
    # data batch); ONE partitionBy write stages both halves from a
    # single events scan (r16: _stage_sliced_phases)
    halves = _stage_sliced_phases(events, stage, F.pmod("event_id", F.lit(2)), 2)
    _link_ordered_phases(stage, src, halves)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = scratch_dir("ssread_ckpt_")
    q = run_available_now(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events")),
        "memory",
        "update",
        checkpoint=ckpt,
    )
    assert data_batches(q) >= 2, "state must accumulate across batches"
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert any(r["operatorName"] == "stateStoreSave" for r in meta), meta
    state = spark.read.format("statestore").load(ckpt)
    # the value struct carries the INTERNAL aggregation-buffer field
    # name (`count`), not the query's output alias — resolve it by
    # position so the certificate doesn't depend on buffer naming
    buf_field = state.schema["value"].dataType.fieldNames()[0]
    return (
        state.select(
            F.col("key.event_type").alias("event_type"),
            F.col(f"value.{buf_field}").alias("n_events"),
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Driver-gated streaming row #15: STATEFUL SESSION WINDOWS — the one
# streaming mechanism previously certified only in batch
# (operators/windows.q_window_session_native runs the same Catalyst
# operator un-stateful).  Session state is the interesting state shape:
# unlike tumbling windows, session boundaries are DATA-DEPENDENT, so the
# store must merge adjacent sessions when a later micro-batch bridges a
# gap — the events table is split into three files (maxFilesPerTrigger=1)
# precisely so sessions span micro-batches and that merge actually runs.
# ---------------------------------------------------------------------------


@register(
    "streaming_session_window",
    oracle=f"""
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL {SESSION_GAP.split()[0]} MINUTE
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
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-merged user sessions computed BY A STREAM: the events table
    replays as three micro-batches through the file source, the
    ``session_windows`` aggregate (the SAME expression the batch row
    certifies) runs stateful under StreamExecution, and the
    complete-mode memory sink is hashed against the gaps-and-islands
    oracle.  The split is random (``repartition(3)``), so sessions
    straddle batches and the state store's session-MERGE path executes
    — the certificate asserts >=2 data batches actually carried rows.

    Complete mode for the same reason as ``streaming_tumbling_counts``:
    the gate needs every session, closed or not.  NO watermark here —
    watermark lateness filtering applies to stateful aggregates in
    EVERY output mode, and a random bounded replay makes two thirds of
    the input "late" after the first micro-batch advances the clock to
    the end of the range (measured: 946 sessions drop to 643).  The
    production append-mode form (watermarked ``session_windows``, 2 h
    eviction) is exercised in tests/test_streaming.py, and lateness
    semantics are gated by ``streaming_watermark_late_drop``.  At
    100 TB state is one entry per OPEN session per user — bounded by
    active users, not corpus — on the RocksDB provider the
    ``streaming_rocksdb_state_store`` row certifies."""
    q = run_session_stream(spark, sf_dir)
    assert data_batches(q) >= 2, "sessions must be assembled across batches"
    return (
        spark.table(q.name)
        .orderBy("user_id", "session_start")
        .localCheckpoint(eager=True)
    )


def run_session_stream(spark: SparkSession, sf_dir: str) -> StreamingQuery:
    """Run the session-window stream to completion into a memory sink;
    return the finished StreamingQuery.  Shared by the gate query above
    and ``scripts/gen_plans.py``, which renders the executed micro-batch
    plan (the ``SessionWindowStateStore`` restore/save pair) via
    ``explainInternal``."""
    # Stage ONLY the two columns the session aggregate reads (r17,
    # guide §2.3/§6): the staged write and every micro-batch scan move
    # user_id+ts instead of all six event columns (props alone is most
    # of the bytes).  Session membership and counts are unaffected.
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = scratch_dir("stream_sess_src_")
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = (
        stream.groupBy("user_id", F.session_window("ts", SESSION_GAP))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return run_available_now(sessions, "memory", "complete")


# ---------------------------------------------------------------------------
# Seventeenth streaming mechanism row: MERGEABLE SUFFICIENT STATISTICS.
# The batch Welch certificate (operators/analytics.stats_ab_welch)
# claims its one-pass aggregate is a set of mergeable integer sums;
# this row PROVES the merge property mechanically — the corpus arrives
# in 4 micro-batches, the stateful aggregate merges the per-variant
# (n, Σmilli, Σmilli²) longs across batches through the state store,
# and the identical SQL tail over the merged state must value-hash
# equal to the single-pass batch oracle.  This is the streaming analog
# of how a 100 TB/day experimentation pipeline keeps live t-statistics:
# state is 5 rows x 6 longs, never the corpus.
# ---------------------------------------------------------------------------


from ..operators.analytics import welch_sql as _batch_welch_sql  # noqa: E402


def _welch_stats_stream_agg(stream: DataFrame) -> DataFrame:
    """The batch row's _WELCH_STATS_SQL executed over a STREAMING temp
    view — one source of truth for the sufficient-statistics text, so
    the 'identical tail over identical stats' claim can never drift
    between the batch and streaming spellings."""
    from ..operators.analytics import _WELCH_STATS_SQL

    view = scratch_table(stream, "welch_stream_in_")
    return stream.sparkSession.sql(
        "WITH " + _WELCH_STATS_SQL.replace("{events}", view) + " SELECT * FROM g"
    )


@register("streaming_ab_welch", oracle=functools.partial(_batch_welch_sql, "events"))
def q_streaming_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch A/B statistics maintained BY A STREAM: events replayed as
    4 micro-batch files, per-variant sufficient statistics merged
    incrementally by the stateful aggregate (complete-mode memory
    sink), then the batch row's IDENTICAL SQL tail computes t/df/means
    over the merged state — so the driver hashes streaming-merged
    integers through the same float path as the batch oracle.  Any
    non-mergeable statistic (a mean kept as a float, a variance
    accumulated per batch) would shift a value."""
    from ..operators.analytics import welch_tail_sql

    spark = spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # stage only the columns the Welch stats SQL reads (r17, guide
    # §2.3/§6): event_type, the variant hash input, and the metric
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    src = scratch_dir("welch_src_")
    # 4 files -> 4 micro-batches at maxFilesPerTrigger=1
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_available_now(_welch_stats_stream_agg(stream), "memory", "complete")
    assert data_batches(q) >= 2, "stats must merge across micro-batches"
    return spark.sql(welch_tail_sql(q.name)).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Streaming kNN-graph maintenance through the gate: the stream-side
# sibling of knn_graph_incremental (operators/similarity_join.py).
# Vectors arrive in micro-batches; each epoch probes batch × batch,
# batch × store and store × batch with the SAME partial-top-k grid
# kernel the batch graph uses, appends the partial candidates, and
# appends the batch into the store.  Because every unordered pair is
# probed in the epoch where its LATER member arrives, and the partial
# sets are pruned under the one strict total order, the rank merge
# over all appended partials is BIT-EQUAL to the from-scratch batch
# graph — certified by sharing knn_graph_exact's oracle text.
# ---------------------------------------------------------------------------


def _knn_stream_oracle() -> str:
    from ..operators.similarity_join import KNN_K, SCORE_DECIMALS

    return f"""
WITH sims AS (
  SELECT a.vec_id AS a_id, b.vec_id AS nbr_id,
         ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
               {SCORE_DECIMALS}) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE isfinite(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]))
),
ranked AS (
  SELECT a_id, nbr_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, nbr_id) AS rnk
  FROM sims
)
SELECT a_id, nbr_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {KNN_K}
ORDER BY a_id, rnk
"""


@register("streaming_knn_append", oracle=_knn_stream_oracle)
def q_streaming_knn_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the embeddings table as THREE micro-batches
    (vec_id mod 3 slices, maxFilesPerTrigger=1), maintain the kNN
    graph incrementally in ``foreachBatch``, and return the merged
    graph — hash-certified equal to the batch rebuild.

    Scale shape per epoch: the store is only ever the CORPUS side of a
    grid probe (replicated ⌈|Δ|/B⌉ ≈ 1 times — never all-pairs'd
    against itself again), so steady-state ingest work is
    O(|store|·|Δ|/B) dgemm flops, and the appended candidate file
    grows k·NB rows per arriving vector, not n."""
    from ..operators.similarity_join import (
        KNN_K,
        _knn_partials,
        _knn_rank_merge,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    src = scratch_dir("stream_knn_src_")
    stage = scratch_dir("stream_knn_stage_")
    # one embeddings scan stages all three epochs (r16:
    # _stage_sliced_phases); explicit mtime links keep epoch order
    slices = _stage_sliced_phases(emb, stage, F.pmod(F.col("vec_id"), F.lit(3)), 3)
    _link_ordered_phases(stage, src, slices)
    store_path = scratch_dir("stream_knn_store_") + "/store"
    part_path = scratch_dir("stream_knn_parts_") + "/parts"

    def probe_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("vec_id", "embedding").localCheckpoint(eager=True)
        parts = _knn_partials(batch, batch)
        if os.path.isdir(store_path):  # absent only in the first epoch
            store = spark.read.parquet(store_path)
            parts = parts.unionAll(_knn_partials(batch, store)).unionAll(
                _knn_partials(store, batch)
            )
        parts.write.mode("append").parquet(part_path)
        batch.write.mode("append").parquet(store_path)

    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = run_available_now(stream, probe_batch)
    assert data_batches(q) == 3, "replay must span three micro-batches"
    return _knn_rank_merge(spark.read.parquet(part_path), KNN_K).localCheckpoint(
        eager=True
    )
