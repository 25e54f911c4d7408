"""The user-facing search facade: reference-tool contract parity
(prompt in, ordered JSON rows out; hard dim validation)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mcp_server_vector_search_spark.engine import (
    NORM_COL,
    SparkVectorSearch,
    corpus_from_documents,
    parse_results,
)
from mcp_server_vector_search_spark.functions.vector import neo4j_score, vector_lit
from mcp_server_vector_search_spark.sources.tables import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def search(spark_module):
    docs = load_table(spark_module, SF_SMOKE, "documents")
    return SparkVectorSearch(corpus_from_documents(docs))


@pytest.fixture(scope="module")
def spark_module():
    from mcp_server_vector_search_spark.session import get_spark

    return get_spark(app_name="tests")


def test_search_returns_topk_json_desc(search):
    out = parse_results(search.search("spark window query join", k=10))
    assert len(out) == 10
    assert list(out[0]) == ["name", "description", "score"]
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in scores)  # (1+cos)/2 range


def test_search_k_bounds_results(search):
    assert len(parse_results(search.search("vector", k=3))) == 3


def test_search_scans_cached_corpus(search):
    """The corpus is materialized at construction: a request's plan
    reads cached rows, with no shuffle and no embedding UDF above the
    cache (the part below ``InMemoryRelation`` ran once, when built)."""
    from mcp_server_vector_search_spark.plans.explain import executed_plan

    plan = executed_plan(search.search_df("spark window query join", k=10))
    per_request = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in per_request
    assert "Exchange" not in per_request
    assert "ArrowEvalPython" not in per_request


def test_search_runs_one_job(spark_module, search):
    sc = spark_module.sparkContext
    group = "test_engine.one_search"
    sc.setJobGroup(group, "one search")
    try:
        search.search("spark window query join", k=10)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _column_form_search(search, qv, k):
    """The column-form DataFrame chain a request used to build: the
    score re-computed per row from the embedding and a literal column,
    then select, orderBy, limit and the ``to_json`` select."""
    score = F.round(neo4j_score("embedding", vector_lit(qv)), 6)
    rows = (
        search.corpus.select("name", "description", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("name"))
        .limit(k)
        .select(F.to_json(F.struct("name", "description", "score")).alias("j"))
        .collect()
    )
    return "[" + ", ".join(r["j"] for r in rows) + "]"


def test_search_equals_column_form_chain(search, monkeypatch):
    """One SQL statement over the cached norm column returns the same
    bytes as the per-row column form, for 25 prompts at k=10 and k=100,
    and for a zero query vector (every score null)."""
    for i in range(25):
        prompt = f"spark {i} window query join w{i * 7}"
        qv = search._embed_prompt(prompt)
        for k in (10, 100):
            assert search.search(prompt, k) == _column_form_search(search, qv, k)
    zero = [0.0] * search.dim
    monkeypatch.setattr(search, "_embed_prompt", lambda prompt: zero)
    payload = search.search("zero", 10)
    assert payload == _column_form_search(search, zero, 10)
    assert all("score" not in r for r in parse_results(payload))  # null: omitted


def test_search_compiles_no_code_per_request(spark_module, search):
    """After warm-up, requests with new prompts reuse the generated
    classes: the query vector and its norm reach generated code only as
    array literals, passed by reference."""
    metrics = spark_module._jvm.org.apache.spark.metrics.source.CodegenMetrics
    for i in range(3):
        search.search(f"warm-up prompt {i}", k=10)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for i in range(20):
        search.search(f"distinct prompt number {i} about vectors", k=10)
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def test_close_releases_corpus(spark_module):
    docs = load_table(spark_module, SF_SMOKE, "documents")
    engine = SparkVectorSearch(corpus_from_documents(docs).limit(7))
    assert engine.corpus.is_cached
    view = engine._view
    assert spark_module.catalog.tableExists(view)
    engine.close()
    assert not engine.corpus.is_cached
    assert not spark_module.catalog.tableExists(view)


def test_corpus_already_carrying_norm_column(spark_module, search):
    """A facade over another facade's corpus replaces the norm column
    instead of adding a second one, and scores the same."""
    inner = SparkVectorSearch(search.corpus.limit(50))
    try:
        assert inner.corpus.columns.count(NORM_COL) == 1
        prompt = "spark window query join"
        want = _column_form_search(inner, inner._embed_prompt(prompt), 10)
        assert inner.search(prompt, 10) == want
    finally:
        inner.close()


def test_dim_mismatch_raises(spark_module):
    """server.py:55-56 parity: wrong-dimension embedding is a hard error."""
    from mcp_server_vector_search_spark.functions.embedder import hash_embedder

    docs = load_table(spark_module, SF_SMOKE, "documents")
    bad = SparkVectorSearch(
        corpus_from_documents(docs), dim=128, embedder=hash_embedder(64)
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        bad.search("prompt")


def test_empty_corpus_returns_empty_json(spark_module, search):
    empty = SparkVectorSearch(search.corpus.limit(0))
    assert parse_results(empty.search("anything")) == []


def test_missing_columns_rejected(spark_module):
    docs = load_table(spark_module, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="missing columns"):
        SparkVectorSearch(docs)


def test_warm_cache_certificate(spark_module):
    """The serve-path latency row end to end at smoke scale: warm
    repeats byte-identical, median warm < cold, stats recorded for the
    SURVEY numbers (the reference's pooling/async claim, README.md:
    131-132, has no published figures — ours do)."""
    from mcp_server_vector_search_spark.operators import engine_queries as EQ

    rows = [
        (r.name, r.score)
        for r in EQ.q_engine_search_warm_cache(spark_module, SF_SMOKE).collect()
    ]
    assert len(rows) == EQ.ENGINE_K
    stats = EQ.LAST_WARM_STATS
    assert stats is not None
    assert len(stats["warm_s"]) == EQ.WARM_REPEATS
    # Timing is advisory (ADVICE r10): the query retries once and
    # warns on a miss; byte-identity is the hard gate.  Surface a
    # regression without making a GC pause a test failure.
    if stats["warm_median_s"] >= stats["cold_s"]:
        import warnings

        warnings.warn(f"warm/cold timing inverted: {stats}", stacklevel=1)


def test_concurrent_searches_match_sequential(spark_module, search):
    """The measured analog of the reference's async-session claim
    (README.md:131-132): N facade searches issued CONCURRENTLY from
    worker threads against one shared SparkSession/corpus must all
    succeed and return byte-identical payloads to their sequential
    counterparts — Spark schedules concurrent actions from multiple
    driver threads, so the facade needs no pooling layer of its own."""
    from concurrent.futures import ThreadPoolExecutor

    prompts = [f"spark query join w{i}" for i in range(6)]
    sequential = {p: search.search(p, k=5) for p in prompts}
    with ThreadPoolExecutor(max_workers=6) as pool:
        concurrent = dict(
            zip(prompts, pool.map(lambda p: search.search(p, k=5), prompts))
        )
    assert concurrent == sequential


def test_concurrent_certificate_row(spark_module):
    """The registered serve-path concurrency row (VERDICT r10 task 5)
    end to end at smoke scale: byte-identity between concurrent and
    sequential serving is asserted inside the query; here we check the
    row shape (k rows per prompt) and that the stats were recorded."""
    from mcp_server_vector_search_spark.operators import engine_queries as EQ

    rows = EQ.q_engine_search_concurrent(spark_module, SF_SMOKE).collect()
    assert len(rows) == EQ.ENGINE_K * len(EQ.CONCURRENT_PROMPTS)
    per_prompt = {}
    for r in rows:
        per_prompt.setdefault(r.prompt_id, []).append(r)
    assert sorted(per_prompt) == list(range(len(EQ.CONCURRENT_PROMPTS)))
    assert all(len(v) == EQ.ENGINE_K for v in per_prompt.values())
    stats = EQ.LAST_CONCURRENT_STATS
    assert stats is not None and stats["n"] == len(EQ.CONCURRENT_PROMPTS)
