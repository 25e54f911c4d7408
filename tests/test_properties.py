"""Property-style invariants (SURVEY.md §5.2.4) — hypothesis-generated
vectors pushed through the JVM expression library in ONE batched job
per property (each example is a row, not a Spark job)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcp_server_vector_search_spark.functions.vector import (
    cosine_similarity,
    dim_check,
    dot,
    l2_distance,
    l2_norm,
    l2_normalize,
    neo4j_score,
)

DIM = 8
finite = st.floats(
    min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False, width=32
)
vec = st.lists(finite, min_size=DIM, max_size=DIM)


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(st.lists(st.tuples(vec, vec), min_size=1, max_size=32))
def test_vector_exprs_match_numpy(spark, pairs):
    df = spark.createDataFrame(
        [(list(map(float, a)), list(map(float, b))) for a, b in pairs],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        dot("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        l2_distance("a", "b").alias("l2"),
        cosine_similarity("a", "b").alias("cos"),
        neo4j_score("a", "b").alias("score"),
    ).collect()
    for (a, b), r in zip(pairs, rows):
        na_, nb_ = np.array(a, dtype=np.float64), np.array(b, dtype=np.float64)
        assert math.isclose(r["dot"], float(na_ @ nb_), rel_tol=1e-9, abs_tol=1e-9)
        assert math.isclose(
            r["na"], float(np.linalg.norm(na_)), rel_tol=1e-9, abs_tol=1e-9
        )
        assert math.isclose(
            r["l2"], float(np.linalg.norm(na_ - nb_)), rel_tol=1e-9, abs_tol=1e-7
        )
        denom = np.linalg.norm(na_) * np.linalg.norm(nb_)
        if denom == 0:
            assert r["cos"] is None and r["score"] is None  # null-safe zero norm
        else:
            want = float(na_ @ nb_) / float(denom)
            assert math.isclose(r["cos"], want, rel_tol=1e-9, abs_tol=1e-9)
            # the reference's score commitment: (1+cos)/2 in [0, 1]
            assert -1e-9 <= r["score"] <= 1 + 1e-9


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(st.lists(vec, min_size=1, max_size=32))
def test_l2_normalize_unit_or_null(spark, vecs):
    df = spark.createDataFrame(
        [(list(map(float, v)),) for v in vecs], "v array<double>"
    )
    rows = df.select(
        l2_normalize("v").alias("u"), l2_norm("v").alias("n")
    ).select(l2_norm("u").alias("un"), "n").collect()
    for r in rows:
        if r["n"] == 0:
            assert r["un"] is None
        else:
            assert math.isclose(r["un"], 1.0, rel_tol=1e-9)


def test_dim_check_predicate(spark):
    df = spark.createDataFrame(
        [([1.0] * DIM,), ([1.0] * (DIM + 1),), ([],)], "v array<double>"
    )
    got = [r[0] for r in df.select(dim_check("v", DIM)).collect()]
    assert got == [True, False, False]


def test_topk_returns_at_most_k(spark):
    """Mirrors queryNodes' may-return-fewer semantics (SURVEY.md §2.2 D1)."""
    from mcp_server_vector_search_spark.operators.topk import topk

    df = spark.range(3).select(F.col("id").cast("double").alias("x"))
    assert topk(df, 10, [F.desc("x")]).count() == 3
    assert topk(df, 2, [F.desc("x")]).count() == 2


def test_hash_embedder_deterministic_and_unit(spark):
    from mcp_server_vector_search_spark.functions.embedder import hash_embedder

    texts = [("spark window join",), ("vector search",), ("",)]
    df = spark.createDataFrame(texts, ["text"])
    e = hash_embedder(16)
    a = [r[0] for r in df.select(e(F.col("text"))).collect()]
    b = [r[0] for r in df.select(e(F.col("text"))).collect()]
    assert [list(x) for x in a] == [list(x) for x in b]  # run-to-run stable
    for v, (t,) in zip(a, texts):
        n = float(np.linalg.norm(np.array(v, dtype=np.float64)))
        if t:
            assert math.isclose(n, 1.0, rel_tol=1e-5)


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(vec, min_size=1, max_size=12))
def test_matrix_lit_bit_exact_roundtrip(spark, rows):
    """matrix_lit's SQL-parsed literals must be bit-identical to the
    per-element F.lit form (shortest-repr + D suffix round trip)."""
    from mcp_server_vector_search_spark.functions.vector import matrix_lit

    got = spark.range(1).select(matrix_lit(rows).alias("m")).first()["m"]
    assert len(got) == len(rows)
    for grow, row in zip(got, rows):
        assert list(grow) == [float(v) for v in row]


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(vec, min_size=1, max_size=16),
    vec,
    st.booleans(),
)
def test_literal_score_matches_column_score(spark, rows, q, zero_query):
    """``neo4j_score(name, <floats>)`` (one SQL parse) scores every row
    exactly like the column-vs-column form against a broadcast 1-row
    ``__query_vec``: zero-norm rows and a zero query give null, and a
    scaled copy of a row ties with it at 6 decimals in both forms."""
    from mcp_server_vector_search_spark.operators.topk import SCORE_DECIMALS

    q = [0.0] * DIM if zero_query else [float(v) for v in q]
    corpus = rows + [[0.0] * DIM] + [[2.0 * v for v in rows[0]]]
    df = spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(corpus)],
        "id int, embedding array<float>",
    )
    qdf = spark.createDataFrame([(q,)], "__query_vec array<double>")
    lit_rows = df.select(
        "id", F.round(neo4j_score("embedding", q), SCORE_DECIMALS).alias("s")
    )
    col_rows = df.crossJoin(F.broadcast(qdf)).select(
        "id", F.round(neo4j_score("embedding", "__query_vec"), SCORE_DECIMALS).alias("s")
    )
    order = [F.desc("s"), F.asc("id")]
    assert lit_rows.orderBy(*order).collect() == col_rows.orderBy(*order).collect()
    assert lit_rows.where(F.col("id") == len(rows)).first()["s"] is None


def test_literal_score_builds_no_per_element_literals(spark, monkeypatch):
    """Plan-cost guard: a literal query vector is one SQL parse, never
    a py4j ``F.lit`` per element or an ``F.array`` of them."""
    from mcp_server_vector_search_spark.functions.vector import vector_lit

    calls = []
    for name in ("lit", "array"):
        real = getattr(F, name)
        monkeypatch.setattr(
            F, name, lambda *a, _n=name, _f=real, **k: calls.append(_n) or _f(*a, **k)
        )
    q = [float(i) / 7 for i in range(64)]
    neo4j_score("embedding", q)
    vector_lit(q)
    assert calls == []


def test_kmeans_deterministic_and_partitions_sample():
    """Same (input, seed) → identical centers; different seed → a valid
    codebook of the same shape."""
    from mcp_server_vector_search_spark.functions.train import kmeans

    rng = np.random.default_rng(0)
    x = rng.standard_normal((200, DIM))
    c1 = kmeans(x, 4, 5, seed=13)
    c2 = kmeans(x, 4, 5, seed=13)
    assert np.array_equal(c1, c2)
    c3 = kmeans(x, 4, 5, seed=7)
    assert c3.shape == c1.shape


def test_kmeans_matches_broadcast_reference():
    """The per-center distance loop gives bit-identical centers to the
    n x k x d broadcast form it replaced (same per-row sums)."""
    from mcp_server_vector_search_spark.functions.train import kmeans

    def broadcast_kmeans(x, k, iters, seed):
        rng = np.random.default_rng(seed)
        centers = x[rng.choice(len(x), k, replace=False)].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                if (assign == c).any():
                    centers[c] = x[assign == c].mean(axis=0)
        return centers

    rng = np.random.default_rng(1)
    for shape, k in (((300, 1536), 16), ((500, 8), 64)):
        x = rng.standard_normal(shape)
        assert np.array_equal(kmeans(x, k, 4, seed=3), broadcast_kmeans(x, k, 4, seed=3))


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(finite, min_size=1, max_size=16))
def test_sql_floats_roundtrip_through_duckdb(values):
    """sql_floats literals parse back to the identical doubles in the
    oracle engine — the property every trained-constant oracle rests on."""
    import duckdb

    from mcp_server_vector_search_spark.functions.train import sql_floats

    got = duckdb.sql(f"SELECT {sql_floats(values)}::DOUBLE[] AS v").fetchone()[0]
    assert list(got) == [float(v) for v in values]


def test_chunking_reconstructs_documents(spark):
    """Round-4 chunking invariants: stride-spaced chunks cover every
    token exactly once at each stride offset — dropping the trailing
    overlap of each chunk and concatenating reconstructs the document —
    and no chunk exceeds the window size."""
    from mcp_server_vector_search_spark.operators.text_analysis import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents_overlap,
    )
    from mcp_server_vector_search_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    chunks = chunk_documents_overlap(spark, sf).collect()
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf, "documents").collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        assert 1 <= r["n_tokens"] <= CHUNK_TOKENS
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        toks = docs[doc_id]
        # chunk i must start exactly at i*stride and match the source
        rebuilt: list[str] = []
        for r in rows:
            start = r["chunk_id"] * CHUNK_STRIDE
            ctoks = r["chunk_text"].split(" ")
            assert ctoks == toks[start : start + CHUNK_TOKENS]
            rebuilt.extend(ctoks[: CHUNK_STRIDE])
        # trailing chunk keeps its full tail beyond the stride
        tail = rows[-1]["chunk_text"].split(" ")[CHUNK_STRIDE:]
        assert rebuilt + tail == toks


def test_hybrid_rrf_score_bounds_and_ranks(spark):
    """RRF invariants: every fused score lies in (0, 2/(k+1)]; a doc in
    both pools outranks the same ranks split across docs; ranks are
    unique within each leg."""
    from mcp_server_vector_search_spark.operators.hybrid import (
        RRF_K,
        q_hybrid_search,
    )

    rows = q_hybrid_search(spark, "/root/testdata/sf0.001").collect()
    assert rows, "hybrid search returned nothing"
    hi = 2.0 / (RRF_K + 1)
    for r in rows:
        assert 0.0 < r["rrf_score"] <= hi + 1e-9
        assert r["bm25_rank"] is not None or r["vec_rank"] is not None
    for col in ("bm25_rank", "vec_rank"):
        ranks = [r[col] for r in rows if r[col] is not None]
        assert len(ranks) == len(set(ranks))


def test_split_assignment_exclusive_and_stable(spark):
    """Split invariants: the three splits partition the corpus (counts
    sum to |documents|) and per-doc assignment is identical across
    scale factors for shared doc ids (growth stability)."""
    from mcp_server_vector_search_spark.operators.sampling import (
        split_train_val_test,
    )
    from mcp_server_vector_search_spark.sources.tables import load_table

    agg = {r["split"]: r["n_docs"] for r in
           split_train_val_test(spark, "/root/testdata/sf0.001").collect()}
    total = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert sum(agg.values()) == total
    assert set(agg) <= {"train", "val", "test"}
    # growth stability is structural (md5 of the doc's own key), spot-
    # check the documented cell rule on a few ids
    import hashlib

    from mcp_server_vector_search_spark.operators.sampling import (
        SPLIT_TRAIN_CELLS,
        SPLIT_VAL_CELLS,
    )

    for doc_id in (0, 1, 42, 499):
        cell = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16)
        expected = ("train" if cell < SPLIT_TRAIN_CELLS
                    else "val" if cell < SPLIT_VAL_CELLS else "test")
        assert expected in agg or agg == {}  # rule well-formed


def test_weighted_es_sample_biases_by_weight(spark):
    """The ES sample must over-represent weight-4 'en' relative to its
    corpus share and be exactly reproducible run to run."""
    from mcp_server_vector_search_spark.operators.sampling import (
        ES_SAMPLE_K,
        sample_weighted_es,
    )
    from mcp_server_vector_search_spark.sources.tables import load_table
    from .conftest import SF_CORRECTNESS

    s1 = sample_weighted_es(spark, SF_CORRECTNESS).collect()
    s2 = sample_weighted_es(spark, SF_CORRECTNESS).collect()
    assert s1 == s2 and len(s1) == ES_SAMPLE_K

    corpus = load_table(spark, SF_CORRECTNESS, "documents")
    n = corpus.count()
    en_share = corpus.where(F.col("lang") == "en").count() / n
    w1_share = corpus.where(~F.col("lang").isin("en", "es")).count() / n
    en_sample = sum(1 for r in s1 if r["lang"] == "en") / len(s1)
    w1_sample = sum(1 for r in s1 if r["lang"] not in ("en", "es")) / len(s1)
    # weight-4 'en' over-represented, weight-1 langs under-represented
    assert en_sample > en_share * 1.2, (en_sample, en_share)
    assert w1_sample < w1_share * 0.6, (w1_sample, w1_share)


def test_temperature_mix_flattens_and_preserves_size(spark):
    """Temperature mixing must (a) keep the mixed corpus within
    rounding of the input size, and (b) flatten the source
    distribution: the max/min source share ratio must shrink."""
    from mcp_server_vector_search_spark.operators.sampling import (
        mix_temperature_sources,
    )
    from mcp_server_vector_search_spark.sources.tables import load_table

    from .conftest import SF_CORRECTNESS

    d = load_table(spark, SF_CORRECTNESS, "documents")
    in_counts = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out = mix_temperature_sources(spark, SF_CORRECTNESS)
    out_counts = {r["source"]: r["n_rows_out"] for r in out.collect()}
    n_in, n_out = sum(in_counts.values()), sum(out_counts.values())
    # each source's fractional copy rounds by at most 1 doc-expectation
    assert abs(n_out - n_in) <= len(in_counts) * max(
        1, max(in_counts.values()) // 4
    )
    ratio_in = max(in_counts.values()) / min(in_counts.values())
    ratio_out = max(out_counts.values()) / min(out_counts.values())
    assert ratio_out < ratio_in or ratio_in == 1.0


def test_bpe_encode_chain_equals_classic_merge_loop(spark):
    """The doubled-separator literal-replace encode (one codegen
    projection, engine-portable — no lookaround) must tokenize every
    distinct corpus word EXACTLY like the classic rank-ordered
    left-to-right non-overlapping merge loop, including adjacent-run
    (abab) and overlapping (aaaa) shapes."""
    from mcp_server_vector_search_spark.operators.text_analysis import (
        _bpe_encode_expr,
        _bpe_learn_driver,
        _bpe_word_freq_df,
        bpe_train_distributed,
    )
    from mcp_server_vector_search_spark.sources.tables import load_table

    from .conftest import SF_CORRECTNESS

    d = load_table(spark, SF_CORRECTNESS, "documents")
    merges = bpe_train_distributed(_bpe_word_freq_df(d))
    # trainer equivalence (distributed == pure python) on the same corpus
    freq: dict[str, int] = {}
    for r in d.select("text").collect():
        for w in (r["text"] or "").split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    assert merges == _bpe_learn_driver(freq, len(merges))

    toks = F.filter(F.split(_bpe_encode_expr(merges), " "), lambda s: s != F.lit(""))
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    # synthetic adversarial shapes alongside the real vocabulary
    # (x\ny: a newline INSIDE a word — the char seed must be dotall)
    hard = spark.createDataFrame(
        [("abab",), ("aaaa",), ("baba",), ("x",), ("thethe",), ("x\ny",)],
        "word string",
    )
    got = {
        r["word"]: r["t"]
        for r in words.union(hard).distinct().select("word", toks.alias("t")).collect()
    }

    from mcp_server_vector_search_spark.operators.text_analysis import (
        bpe_apply_merges,
    )

    mismatches = {
        w: (t, bpe_apply_merges(w, merges))
        for w, t in got.items()
        if t != bpe_apply_merges(w, merges)
    }
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_token_budget_quotas_sum_exactly_to_target(spark):
    """Largest-remainder apportionment's defining invariant: the
    per-source quotas sum EXACTLY to the integer target (no rounding
    drift), and every quota stays within 1 unit of its real-valued
    proportional share."""
    from mcp_server_vector_search_spark import registry

    registry.load_all_operators()
    from .conftest import SF_CORRECTNESS

    rows = registry.QUERIES["mix_token_budget"](spark, SF_CORRECTNESS).collect()
    avail = {r["source"]: r["avail_tokens"] for r in rows}
    quota = {r["source"]: r["quota_tokens"] for r in rows}
    t_total = sum(avail.values())
    target = t_total // 2
    assert sum(quota.values()) == target
    for s in avail:
        exact = target * avail[s] / t_total
        assert abs(quota[s] - exact) < 1.0, (s, quota[s], exact)


def test_lr_quality_classifier_recovers_teacher_rule(spark):
    """The distilled LR must genuinely learn the dup-2gram teacher from
    unigram-only features: accuracy above 0.65 on a ~48%-positive label
    (majority-class guessing gives ~0.52), BOTH per-class recalls above
    0.55 (no constant model), calibrated scores."""
    from mcp_server_vector_search_spark import registry

    registry.load_all_operators()
    from .conftest import SF_CORRECTNESS

    rows = registry.QUERIES["quality_classifier_lr"](
        spark, SF_CORRECTNESS
    ).collect()
    pos = [r for r in rows if r["label"] == 1]
    neg = [r for r in rows if r["label"] == 0]
    assert 0.25 < len(pos) / len(rows) < 0.75  # balanced teacher split
    acc = sum(1 for r in rows if r["predicted"] == r["label"]) / len(rows)
    assert acc > 0.65, acc
    pos_rec = sum(1 for r in pos if r["predicted"] == 1) / len(pos)
    neg_rec = sum(1 for r in neg if r["predicted"] == 0) / len(neg)
    assert pos_rec > 0.55 and neg_rec > 0.55, (pos_rec, neg_rec)
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)


@settings(
    max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.text(alphabet="abcd", min_size=1, max_size=8),
    st.dictionaries(
        st.text(alphabet="abcd", min_size=2, max_size=4),
        st.integers(min_value=1, max_value=100),
        max_size=10,
    ),
)
def test_unigram_viterbi_matches_bruteforce(word, multi_counts):
    """Classic-loop parity for the unigram trainer's segmenter: the DP
    must return the segmentation the exhaustive enumeration picks under
    the identical objective and tie-breaks (max logprob sum, then fewer
    pieces, then longer-last-piece / smaller split point, compared
    right-to-left like the DP's per-cell decision)."""
    import math

    from mcp_server_vector_search_spark.operators.text_analysis import (
        UNIGRAM_MAXLEN,
        _viterbi_segment,
    )

    # vocab: every single char (guaranteed segmentability) + the drawn
    # multi-char pieces, with positive counts
    vocab = {c: 5 for c in "abcd"}
    vocab.update(multi_counts)
    total = sum(vocab.values())
    logp = {p: math.log(n / total) for p, n in vocab.items()}

    def enumerate_segs(w):
        if not w:
            yield []
            return
        for ln in range(1, min(UNIGRAM_MAXLEN, len(w)) + 1):
            head = w[:ln]
            if head in logp:
                for rest in enumerate_segs(w[ln:]):
                    yield [head] + rest

    def key(seg):
        # mirror the DP: score desc, n_pieces asc, then prefer the
        # longer piece at each position from the END (the DP fixes its
        # tie-breaks per suffix cell, i.e. right-to-left)
        score = sum(logp[p] for p in seg)
        lens_from_end = tuple(-len(p) for p in reversed(seg))
        return (-score, len(seg), lens_from_end)

    best = min(enumerate_segs(word), key=key)
    got = _viterbi_segment(word, logp)
    assert "".join(got) == word
    assert sum(logp[p] for p in got) == pytest.approx(
        sum(logp[p] for p in best), abs=0
    )
    assert got == best, (got, best)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1.0, max_value=1.0, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    )
)
def test_round6_arr_bit_equal_to_round6(values):
    """round6_arr (the GEMM assignment's rounding, r13 advisor medium)
    must be bit-equal to the scalar Decimal HALF_UP round6 — i.e. to
    Spark's F.round — for every element, including the boundary ties
    where np.round's half-to-even on the scaled binary double flips."""
    from mcp_server_vector_search_spark.functions.train import round6, round6_arr

    arr = round6_arr(np.asarray(values, dtype=np.float64))
    for v, got in zip(values, arr.tolist()):
        assert got == round6(float(v)), (v, got, round6(float(v)))


def test_round6_arr_boundary_ties_and_shape():
    """Hand-picked .5e-6 boundary cases: exact decimal halves (where
    HALF_UP rounds away from zero but np.round goes to even), repr-vs-
    binary straddles, negatives, and 2-D shape preservation."""
    from mcp_server_vector_search_spark.functions.train import round6, round6_arr

    cases = [
        0.0000005, -0.0000005, 0.0000015, -0.0000015,
        0.1234565, 0.9999995, -0.9999995, 0.5, -0.5, 0.0,
        1.0, -1.0, 0.12345649999999999, 0.1234565000000001,
    ]
    got = round6_arr(np.asarray(cases))
    for v, g in zip(cases, got.tolist()):
        assert g == round6(v), (v, g, round6(v))
    m = round6_arr(np.asarray([[0.0000005, -1.0], [0.25, 0.1234565]]))
    assert m.shape == (2, 2)
    assert m[0, 0] == round6(0.0000005)


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(
            st.sampled_from([f"t{i}" for i in range(12)]),
            min_size=0,
            max_size=30,
        ),
        min_size=2,
        max_size=24,
    )
)
def test_span_fingerprints_equal_exact_on_random_corpora(spark, docs):
    """The fingerprinted span operator must reproduce the exact
    string-gram operator row-for-row on arbitrary small corpora — a
    12-token vocabulary over up to 24 docs makes shared 8-gram runs
    (and within-doc repeats, the nd=1 exclusion case) common, probing
    the dup logic far beyond the planted fixture."""
    from mcp_server_vector_search_spark.operators.dedup import (
        substring_span_stats,
        substring_span_stats_fp,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in substring_span_stats(df).collect())
    b = sorted(tuple(r) for r in substring_span_stats_fp(df).collect())
    assert a == b
