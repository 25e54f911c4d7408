"""Driver correctness row for the engine facade (O8) — VERDICT r2 #5.

``SparkVectorSearch.search`` (engine.py) is the Spark-native analog of
the reference's single MCP tool ``vector_search_neo4j`` (reference
servers/mcp_neo4j_vector_search/server.py:67-106): prompt → embed →
dim-check → normalized-cosine score → top-k → project.  The engine
tests exercise it, but until round 3 it carried no hard driver row.
This module registers the facade end-to-end as a query with a
trained-constant oracle, exactly like ``semantic_search_hash_embedder``
(operators/ann.py): the prompt's hash embedding is deterministic, so
the oracle generator folds it into SQL literals and the whole facade
path is value-hash-checked.

The corpus is the pre-embedded ``embeddings`` table joined to
``documents`` metadata (the reference's corpus lives pre-embedded in
Neo4j the same way, README.md:124); only the PROMPT is embedded at
query time — through the facade's real path, which for the default
embedder is the DRIVER-side certified mirror (the reference embeds its
prompt client-side in the server process, server.py:78, and ships the
vector as a query parameter; a custom embedder still runs its real
column expression in a 1-row job).  The JSON serialization wrapper
(``search`` vs ``search_df``) is the same rows through
``F.to_json(struct)``, which carries its own byte-equal driver row
(``rows_as_json``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import SparkVectorSearch
from ..functions.train import sql_floats
from ..registry import register
from ..sources.tables import load_table
from .ann import PROMPT_TEXT, prompt_embedding
from .topk import score_sql

ENGINE_K = 10  # reference server.py:87


def _engine_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        F.col("doc_id").cast("string").alias("name"),
        F.col("text").alias("description"),
        "embedding",
    )


def _engine_oracle() -> str:
    qv = sql_floats(prompt_embedding())
    return f"""
WITH corpus AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS name,
         d.text AS description,
         e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
)
SELECT name, description,
       {score_sql("embedding::DOUBLE[]", f"{qv}::DOUBLE[]")} AS score
FROM corpus
ORDER BY score DESC, name
LIMIT {ENGINE_K}
"""


@register("engine_search_e2e", oracle=_engine_oracle)
def q_engine_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual end-to-end path (server.py:71-102) through
    the facade: construct the engine over the corpus, search a fixed
    prompt, return the top-k (name, description, score) rows."""
    engine = SparkVectorSearch(_engine_corpus(spark, sf_dir))
    out = engine.search_df(PROMPT_TEXT, k=ENGINE_K).localCheckpoint(eager=True)
    engine.close()
    return out


def _engine_ann_oracle() -> str:
    """IVF-pruned mirror of the facade search: the same trained
    centroid literals, the same rounded-argmax assignment, the same
    driver-side probe list over the PROMPT's hash embedding — then the
    docs join and (name, description, score) projection."""
    from .ann import NPROBE, ivf_assign_sql, nearest_centroids, oracle_centroids

    # ann's quantizer — it must mirror the sample the SERVED IVF index
    # trains on (ann._sample_vectors' default), not PQ's
    cents = oracle_centroids()
    qvec = prompt_embedding()
    probes = nearest_centroids(qvec, cents, NPROBE)
    qv = sql_floats(qvec)
    # the top-k POOL is cut by (score DESC, vec_id) — the same numeric
    # tie-break ivf_topk applies — BEFORE the docs join; cutting after
    # the join by name (VARCHAR) would order rounded-score ties
    # lexicographically and pick a different row set
    return f"""
WITH {ivf_assign_sql(cents)},
pool AS (
  SELECT vec_id,
         {score_sql("embedding::DOUBLE[]", f"{qv}::DOUBLE[]")} AS score
  FROM assign
  WHERE centroid_id IN ({", ".join(str(p) for p in probes)})
  ORDER BY score DESC, vec_id
  LIMIT {ENGINE_K}
)
SELECT CAST(d.doc_id AS VARCHAR) AS name,
       d.text AS description,
       p.score
FROM pool p JOIN documents d ON d.doc_id = p.vec_id
"""


@register("engine_search_ann", oracle=_engine_ann_oracle)
def q_engine_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade search over the ANN INDEX — the reference's actual
    architecture (its tool delegates to Neo4j's HNSW index, reference
    server.py:87 `db.index.vector.queryNodes`); here the delegate is
    the IVF partitioned layout: prompt hash-embedding → driver-side
    nprobe cell selection → partition-pruned exact scoring → docs
    metadata join → top-k (name, description, score).

    Compared to `engine_search_e2e` (exact full scan), this is the
    100 TB serving path: the scan touches nprobe/n_centroids of the
    corpus, and the docs join probes only the k result ids
    (broadcast)."""
    from .ann import ivf_topk, load_or_build_ivf_index

    indexed, cents = load_or_build_ivf_index(spark, sf_dir)
    qvec = prompt_embedding()
    hits = ivf_topk(indexed, cents, qvec, k=ENGINE_K).select("vec_id", "score")
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(F.broadcast(hits), docs.doc_id == hits.vec_id)
        .select(
            F.col("doc_id").cast("string").alias("name"),
            F.col("text").alias("description"),
            "score",
        )
        .orderBy(F.desc("score"), F.asc("name"))
    )


# ---------------------------------------------------------------------------
# engine_search_warm_cache — the serve-path latency certificate
# (VERDICT r9 item 3): the reference claims pooled/async serving
# (README.md:131-132) but publishes no numbers; the Spark analog of its
# always-warm Neo4j index is a BUILD-ONCE cached corpus behind the
# facade.  This row times one COLD build-and-search (the facade embeds
# and caches the corpus on construction) then WARM_REPEATS consecutive
# searches against the cache, asserting (a) every repeat returns
# byte-identical JSON and (b) median warm latency beats the cold
# call — the measured form of "the index is resident; queries don't
# pay the build".
# ---------------------------------------------------------------------------

WARM_REPEATS = 8

#: measured by the last q_engine_search_warm_cache run (driver-side
#: seconds); read by tests and the SURVEY record — latencies are not
#: deterministic, so they never enter the hashed result columns.
LAST_WARM_STATS: dict | None = None


def _warm_expected() -> list[tuple[str, float]]:
    """Oracle-side replication of the embed-at-build facade path:
    hash-embed every sf0.01 document text at DEFAULT_DIM driver-side
    (embed_text_driver — the single certified mirror of the UDF math),
    sequential-fold cosine vs the prompt embedding, HALF_UP at 6, top-k
    by (score DESC, name ASC) with name a STRING doc_id (so '10' sorts
    before '2', exactly as the facade's F.asc('name') does)."""
    from ..functions.embedder import DEFAULT_DIM, embed_text_driver
    from ..functions.train import ORACLE_SF_DIR
    from .lifecycle import _score_round6

    import pyarrow.parquet as pq

    t = pq.read_table(f"{ORACLE_SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    cache: dict = {}
    qvec = [float(v) for v in embed_text_driver(PROMPT_TEXT, DEFAULT_DIM, cache)]
    scored = sorted(
        (
            -_score_round6(
                [float(x) for x in embed_text_driver(tx, DEFAULT_DIM, cache)], qvec
            ),
            str(i),
        )
        for i, tx in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        )
    )[:ENGINE_K]
    return [(name, -s) for s, name in scored]


def _warm_oracle() -> str:
    expected = _warm_expected()
    from ..functions.train import sql_float

    values = ",\n  ".join(f"('{n}', {sql_float(s)})" for n, s in expected)
    return f"""
SELECT name, score FROM (VALUES
  {values}
) AS t(name, score)
"""


@register("engine_search_warm_cache", oracle=_warm_oracle)
def q_engine_search_warm_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-serving certificate: corpus built by embedding document
    text through the facade's Arrow UDF and materialized ONCE by the
    facade; the cold timing covers construction (embed + cache fill)
    and the first search, the 8 warm repeats must all serve from cached
    blocks, return byte-identical JSON, and beat the cold latency at
    the median.  Returns the (name, score) top-k so the driver
    value-hashes the actual served results against the oracle-time
    replication."""
    import time

    from ..engine import SparkVectorSearch, corpus_from_documents

    global LAST_WARM_STATS
    docs = load_table(spark, sf_dir, "documents")
    t0 = time.perf_counter()
    engine = SparkVectorSearch(corpus_from_documents(docs))
    cold_payload = engine.search(PROMPT_TEXT, k=ENGINE_K)
    cold_s = time.perf_counter() - t0
    warm_s: list[float] = []
    payloads: list[str] = []
    for _ in range(WARM_REPEATS):
        t0 = time.perf_counter()
        payloads.append(engine.search(PROMPT_TEXT, k=ENGINE_K))
        warm_s.append(time.perf_counter() - t0)
    warm_median = sorted(warm_s)[len(warm_s) // 2]
    LAST_WARM_STATS = {
        "cold_s": cold_s,
        "warm_s": warm_s,
        "warm_median_s": warm_median,
        "speedup": cold_s / max(warm_median, 1e-9),
    }
    assert all(p == cold_payload for p in payloads), (
        "warm repeats must be byte-identical to the cold result"
    )
    # Timing is ADVISORY, not a correctness gate (ADVICE r10): a GC
    # pause during the warm repeats must not fail a row whose served
    # bytes are identical.  Retry the warm measurement once on a miss,
    # then warn; byte-identity above stays the hard assertion.
    if warm_median >= cold_s:
        warm_s = []
        for _ in range(WARM_REPEATS):
            t0 = time.perf_counter()
            p = engine.search(PROMPT_TEXT, k=ENGINE_K)
            warm_s.append(time.perf_counter() - t0)
            assert p == cold_payload, "retried warm repeat diverged"
        warm_median = sorted(warm_s)[len(warm_s) // 2]
        LAST_WARM_STATS.update(
            warm_s=warm_s,
            warm_median_s=warm_median,
            speedup=cold_s / max(warm_median, 1e-9),
            retried=True,
        )
    if warm_median >= cold_s:  # pragma: no cover - timing noise only
        import warnings

        warnings.warn(
            f"warm median {warm_median:.3f}s did not beat cold "
            f"{cold_s:.3f}s after retry (results byte-identical)",
            stacklevel=2,
        )
    out = (
        engine.search_df(PROMPT_TEXT, k=ENGINE_K)
        .select("name", "score")
        .localCheckpoint(eager=True)
    )
    engine.close()
    return out


# ---------------------------------------------------------------------------
# engine_search_concurrent — the serve-path CONCURRENCY certificate
# (VERDICT r10 task 5): the reference claims async serving over one
# shared session (README.md:131-132 — FastMCP's asyncio loop + one
# Neo4j driver).  Spark's analog: N searches issued simultaneously
# from driver threads against ONE SparkSession/engine — the scheduler
# interleaves the jobs (FAIR/FIFO both correct, just different
# latency), and the facade needs no pooling layer of its own.  The
# hard gate is byte-identity: every concurrently-served payload must
# equal its sequentially-served counterpart, and the returned rows are
# parsed FROM the concurrent payloads so the driver value-hashes what
# concurrency actually served.
# ---------------------------------------------------------------------------

CONCURRENT_PROMPTS = [f"spark query join w{i}" for i in range(6)]

#: wall-clock of the last run (advisory, like LAST_WARM_STATS — never
#: part of the hashed result).
LAST_CONCURRENT_STATS: dict | None = None


def _concurrent_oracle() -> str:
    from .ann import prompt_embedding

    branches = []
    for i, p in enumerate(CONCURRENT_PROMPTS):
        qv = sql_floats(prompt_embedding(p))
        branches.append(f"""
(SELECT {i} AS prompt_id, name,
        {score_sql("embedding::DOUBLE[]", f"{qv}::DOUBLE[]")} AS score
 FROM corpus
 ORDER BY score DESC, name
 LIMIT {ENGINE_K})""")
    return f"""
WITH corpus AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS name, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
)
{" UNION ALL ".join(branches)}
"""


@register("engine_search_concurrent", oracle=_concurrent_oracle)
def q_engine_search_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N interleaved facade searches on one session, hash-matched
    against sequential execution AND the generated oracle.
    Sequential payloads are served first (the ground truth), then the
    same prompts run concurrently from a thread pool; each concurrent
    payload must be byte-identical to its sequential twin — a shared
    mutable plan, a cross-thread session-state race, or a scheduler
    result mixup all break byte-identity.  The returned DataFrame is
    parsed from the CONCURRENT payloads, so the driver's value-hash
    certifies the concurrently-served bytes, not a re-execution."""
    import json as _json
    import time
    from concurrent.futures import ThreadPoolExecutor

    global LAST_CONCURRENT_STATS
    engine = SparkVectorSearch(_engine_corpus(spark, sf_dir))

    t0 = time.perf_counter()
    sequential = [engine.search(p, k=ENGINE_K) for p in CONCURRENT_PROMPTS]
    seq_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(CONCURRENT_PROMPTS)) as pool:
        concurrent = list(
            pool.map(lambda p: engine.search(p, k=ENGINE_K), CONCURRENT_PROMPTS)
        )
    conc_s = time.perf_counter() - t0
    LAST_CONCURRENT_STATS = {
        "sequential_s": seq_s,
        "concurrent_s": conc_s,
        "n": len(CONCURRENT_PROMPTS),
    }
    for i, (s, c) in enumerate(zip(sequential, concurrent)):
        assert c == s, (
            f"prompt {i}: concurrent payload diverged from sequential"
        )
    rows = [
        (i, str(r["name"]), float(r["score"]))
        for i, payload in enumerate(concurrent)
        for r in _json.loads(payload)
    ]
    out = spark.createDataFrame(
        rows, "prompt_id int, name string, score double"
    ).localCheckpoint(eager=True)
    engine.close()
    return out


# ---------------------------------------------------------------------------
# semantic_search_mini_transformer — the REAL-MODEL serving certificate
# (VERDICT r10 task 4): a genuine transformer encoder (numpy, 317 KB
# seeded-weight fixture) through model_embedder's distributed Arrow
# path, under the driver gate.  Embedding VALUES are not value-hashed
# — BLAS thread/dispatch differences between driver and workers shift
# the last float32 bit (measured in tests/test_embedders.py), and the
# hash-row discipline needs bit-equality — so this row certifies the
# structural contract of the real-model pass: every document embeds to
# a dim-64 unit vector, the facade serves k results over that corpus,
# scores descend.  Exact-value parity (to 1 ulp) against a driver-side
# replay lives in test_mini_transformer_real_model_end_to_end.
# ---------------------------------------------------------------------------


@register(
    "semantic_search_mini_transformer",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS dims_ok,
       TRUE AS units_ok,
       5 AS k,
       TRUE AS scores_desc
FROM documents
""",
)
def q_semantic_search_mini_transformer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed REAL-transformer embed (multi-head attention, GELU
    FFN, masked pooling — functions/mini_transformer.py) over every
    document, then a facade search over the resulting corpus — the
    reference's real-model shape (server.py:25,40-58) executed offline
    for real.  The driver hash-checks the structural certificate; a
    wrong dim, a non-unit vector, a missing document, or a misordered
    result set flips a column."""
    from ..engine import SparkVectorSearch, corpus_from_documents
    from ..functions import mini_transformer as MT

    docs = load_table(spark, sf_dir, "documents")
    engine = SparkVectorSearch(
        corpus_from_documents(docs, embedder=MT.mini_transformer_embedder(), dim=MT.DIM),
        dim=MT.DIM,
    )
    corpus = engine.corpus
    n_docs = corpus.count()
    bad_dim = corpus.where(F.size("embedding") != MT.DIM).count()
    norm_off = corpus.where(
        F.abs(
            F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            )
            - 1.0
        )
        > 1e-4
    ).count()
    served = engine.search_df(PROMPT_TEXT, k=5).collect()  # bounded: k rows
    engine.close()
    scores = [r.score for r in served]
    return spark.createDataFrame(
        [
            (
                n_docs,
                bad_dim == 0,
                norm_off == 0,
                len(served),
                scores == sorted(scores, reverse=True),
            )
        ],
        "n_docs bigint, dims_ok boolean, units_ok boolean, k int, scores_desc boolean",
    ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# embed_throughput_batch — the LARGE-BATCH model-embed throughput
# certificate (VERDICT r12 task 9): the full documents table through
# model_embedder's Arrow path with the real mini-transformer weights,
# certified in ONE aggregate so the bench timing profiles exactly one
# distributed embed pass (semantic_search_mini_transformer certifies
# the serve path but runs three actions over a persisted corpus).
# Embedding VALUES are not hashed — BLAS dispatch shifts the last
# float32 bit between driver and workers — so the certificate is
# structural: every document embedded, every vector dim-64 and
# unit-norm, full-corpus coverage proven by the exact n_chars sum.
# ---------------------------------------------------------------------------


@register(
    "embed_throughput_batch",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS dims_ok,
       TRUE AS units_ok,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
""",
)
def q_embed_throughput_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-scale real-model embed: one Arrow-batched pass of the
    mini transformer (multi-head attention, GELU FFN, masked pooling)
    over every document, folded into a single aggregate — n_docs,
    dim check, unit-norm check, and the exact character sum that ties
    the certificate to the whole corpus (a skipped or duplicated
    partition shifts it).

    Scale shape: the model loads ONCE per worker (model_embedder's
    process-level cache keyed by cache_key) and the scan streams
    through the pandas UDF in Arrow batches; the certificate aggregate
    is map-side combined into one row, so the job's cost IS the embed
    throughput — at 100 TB this is the canonical embarrassingly
    parallel pass, bounded by model FLOPs per token, not by any
    shuffle."""
    from ..functions import mini_transformer as MT

    docs = load_table(spark, sf_dir, "documents")
    emb = docs.select(
        "n_chars", MT.mini_transformer_embedder()(F.col("text")).alias("embedding")
    )
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    out = emb.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.when(F.size("embedding") != MT.DIM, 1).otherwise(0)) == 0).alias(
            "dims_ok"
        ),
        (F.sum(F.when(F.abs(norm - 1.0) > 1e-4, 1).otherwise(0)) == 0).alias(
            "units_ok"
        ),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    return out
