"""ANN correctness discipline (SURVEY.md §4.3.3): approximate operators
are judged by recall@k against the exact top-k, not by an SQL oracle."""

from __future__ import annotations

import re
import tempfile

from pyspark.sql import functions as F

from mcp_server_vector_search_spark.operators import ann
from mcp_server_vector_search_spark.operators.topk import (
    QUERY_VEC_ID,
    query_vector_df,
    score_against,
)
from mcp_server_vector_search_spark.sources.tables import load_table

from .conftest import SF_CORRECTNESS


def exact_topk_ids(spark, sf_dir, k=10):
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vector_df(emb, QUERY_VEC_ID)
    rows = (
        score_against(emb, q)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .collect()
    )
    return [r.vec_id for r in rows]


def test_ivf_recall(spark):
    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    got = {r.vec_id for r in ann.q_ann_ivf_topk(spark, SF_CORRECTNESS).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"IVF recall@10 = {recall}"


def test_lsh_recall(spark):
    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    got = {r.vec_id for r in ann.q_ann_lsh_topk(spark, SF_CORRECTNESS).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"LSH recall@10 = {recall}"


def test_ivf_partition_pruning(spark):
    """The materialized IVF layout must turn the nprobe filter into
    partition pruning — the scan's plan reads only probed partitions."""
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    assigned, centroids = ann.build_ivf_index(emb)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivf"
        ann.write_ivf_index(assigned, path)
        indexed = spark.read.parquet(path)
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
        ]
        df = ann.ivf_topk(indexed, centroids, qvec)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = df.collect()
        assert 0 < len(rows) <= 10
        # partition filters on centroid_id, not a post-scan filter
        assert "PartitionFilters" in plan and "centroid_id" in plan.split(
            "PartitionFilters", 1
        )[1].split("]", 1)[0]


def test_hash_embedder_deterministic(spark):
    from mcp_server_vector_search_spark.functions.embedder import hash_embedder

    docs = load_table(spark, SF_CORRECTNESS, "documents").limit(20)
    e1 = docs.select("doc_id", hash_embedder()(F.col("text")).alias("v")).collect()
    e2 = docs.select("doc_id", hash_embedder()(F.col("text")).alias("v")).collect()
    assert {r.doc_id: r.v for r in e1} == {r.doc_id: r.v for r in e2}
    assert all(len(r.v) == 64 for r in e1)
    # unit-normalized
    assert all(abs(sum(x * x for x in r.v) - 1.0) < 1e-3 for r in e1)


def test_ivf_index_cache_roundtrip(spark, tmp_path, monkeypatch):
    """load_or_build builds once, then serves the SAME layout from the
    cached partition-pruned parquet — second call must not retrain.
    Runs on a private store root so the shared one is never cleared."""
    from mcp_server_vector_search_spark import artifacts
    from mcp_server_vector_search_spark.operators.ann import load_or_build_ivf_index

    monkeypatch.setattr(artifacts, "ROOT", tmp_path)
    builds = artifacts.STATS["builds"]
    idx1, cent1 = load_or_build_ivf_index(spark, SF_CORRECTNESS)
    assert artifacts.STATS["builds"] == builds + 1
    assert len(list((tmp_path / "ivf").iterdir())) == 1
    idx2, cent2 = load_or_build_ivf_index(spark, SF_CORRECTNESS)
    assert artifacts.STATS["builds"] == builds + 1
    assert cent1 == cent2
    a = {(r.vec_id, r.centroid_id) for r in idx1.collect()}
    b = {(r.vec_id, r.centroid_id) for r in idx2.collect()}
    assert a == b and len(a) > 0


def test_pq_recall_and_plan(spark):
    """PQ + ADC + exact re-rank: recall@10 vs exact, and the ADC scan
    must be pure JVM expressions over the codes column (no Python)."""
    from mcp_server_vector_search_spark.operators import pq

    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    df = pq.q_ann_pq_topk(spark, SF_CORRECTNESS)
    got = {r.vec_id for r in df.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"PQ recall@10 = {recall}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_pq_codes_are_compact(spark):
    """The whole point of PQ: the index row is M small codes."""
    from mcp_server_vector_search_spark.operators import pq

    codes, books = pq.load_or_build_pq_index(spark, SF_CORRECTNESS)
    row = codes.first()
    assert len(row.codes) == pq.M_SUBSPACES
    assert all(0 <= c < pq.K_CODEWORDS for c in row.codes)
    assert len(books) == pq.M_SUBSPACES and len(books[0]) == pq.K_CODEWORDS


def test_srp_bucket_bit_identity_across_engines(spark):
    """Pin the cross-engine determinism assumption the SRP oracles rest
    on (ADVICE r2): the sign test ``dot(v, plane) >= 0`` must produce
    identical bucket ids in all three places it is computed — the Spark
    HOF expression that builds the stored index, the driver-side Python
    loop that buckets the query vector, and the DuckDB SQL the oracle
    generator emits.  All three do sequential left-to-right double
    summation over bit-identical literals (functions/vector.py:54-61,
    functions/train.py sql_float), so the buckets must agree exactly —
    for EVERY vector at the oracle scale factor, not just the query."""
    import duckdb

    from mcp_server_vector_search_spark.functions.train import (
        load_sorted_vectors,
        sql_floats,
    )

    planes = ann.srp_planes()

    # engine 1: Spark HOF expression (what the stored SRP index contains)
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    spark_rows = emb.select(
        "vec_id", ann.bucket_columns_expr(planes).alias("b")
    ).collect()
    spark_buckets = {r.vec_id: list(r.b) for r in spark_rows}

    # engine 2: driver-side Python (what buckets the query vector)
    ids, x = load_sorted_vectors(SF_CORRECTNESS)
    py_buckets = {
        vid: [ann._py_bucket(vec, planes, t) for t in range(ann.SRP_TABLES)]
        for vid, vec in zip(ids, x)
    }

    # engine 3: DuckDB SQL (what the oracle compares against)
    bucket_cols = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
            f"{sql_floats(planes[t * ann.SRP_BITS + j])}::DOUBLE[]) >= 0 "
            f"THEN {2**j} ELSE 0 END)"
            for j in range(ann.SRP_BITS)
        )
        + f") AS b{t}"
        for t in range(ann.SRP_TABLES)
    )
    con = duckdb.connect()
    duck_rows = con.sql(
        f"SELECT vec_id, {bucket_cols} "
        f"FROM read_parquet('{SF_CORRECTNESS}/embeddings.parquet')"
    ).fetchall()
    con.close()
    duck_buckets = {r[0]: list(r[1:]) for r in duck_rows}

    assert spark_buckets == py_buckets == duck_buckets


def test_ivfpq_recall_and_pruning(spark):
    """IVF-PQ composition: recall@10 vs exact must hold with BOTH
    approximations stacked, and the probe scan must carry the
    centroid_id partition filter (pruned cells are never read)."""
    from mcp_server_vector_search_spark.operators import ivfpq
    from mcp_server_vector_search_spark.plans.explain import formatted_plan

    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    df = ivfpq.q_ann_ivfpq_topk(spark, SF_CORRECTNESS)
    got = {r.vec_id for r in df.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"IVF-PQ recall@10 = {recall}"

    plan = formatted_plan(df)
    assert re.search(r"PartitionFilters:.*centroid_id", plan)
    assert "EvalPython" not in plan  # ADC + re-rank stay JVM-side


def test_sq8_recall_and_plan(spark):
    """SQ8 + weighted-code-sum + exact re-rank: recall@10 vs exact must
    beat PQ's bar comfortably (8 bits/dim ≫ PQ's 0.5 bits/dim), and the
    approximate scan must be pure JVM expressions (no Python)."""
    from mcp_server_vector_search_spark.operators import sq

    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    df = sq.q_ann_sq8_topk(spark, SF_CORRECTNESS)
    got = {r.vec_id for r in df.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"SQ8 recall@10 = {recall}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_sq8_codes_are_bytes(spark):
    """The whole point of SQ8: dim int codes in [0, 255] per row."""
    from mcp_server_vector_search_spark.operators import sq

    idx, vmin, vdelta = sq.load_or_build_sq8_index(spark, SF_CORRECTNESS)
    row = idx.select(
        F.size("codes").alias("n"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).agg(
        F.max("n").alias("n"), F.min("lo").alias("lo"), F.max("hi").alias("hi")
    ).first()
    assert row["n"] == sq.DIM and 0 <= row["lo"] and row["hi"] <= 255


def test_bq_recall_and_plan(spark):
    """1-bit sign fingerprints + Hamming pool + exact re-rank: the
    coarsest quantizer still recovers the exact top-10 within its
    100-row pool on this corpus, and the scan is pure JVM."""
    from mcp_server_vector_search_spark.operators import sq

    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    df = sq.q_ann_bq_topk(spark, SF_CORRECTNESS)
    got = {r.vec_id for r in df.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"BQ recall@10 = {recall}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_opq_recall_rotation_and_plan(spark):
    """OPQ: the learned rotation must be orthonormal (else the encode
    space distorts cosine), recall@10 must hold, and the ADC scan must
    stay pure-JVM."""
    import numpy as np

    from mcp_server_vector_search_spark.operators import opq

    _, rot, books = opq.load_or_build_opq_index(spark, SF_CORRECTNESS)
    r = np.asarray(rot)
    assert np.allclose(r @ r.T, np.eye(len(r)), atol=1e-9)
    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    df = opq.q_ann_opq_topk(spark, SF_CORRECTNESS)
    got = {r_.vec_id for r_ in df.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"OPQ recall@10 = {recall}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_matryoshka_recall_and_plan(spark):
    """Prefix-dimension retrieval: the PREFIX_DIM (32) coarse pool must recover
    the exact top-10 (synthetic embeddings carry signal in every
    coordinate, so the prefix is a fair filter here), the pool must cut
    via TakeOrderedAndProject, and no Python anywhere."""
    from mcp_server_vector_search_spark.operators import matryoshka

    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    df = matryoshka.q_ann_matryoshka_topk(spark, SF_CORRECTNESS)
    got = {r.vec_id for r in df.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"matryoshka recall@10 = {recall}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_upsert_replace_partitions_clears_emptied_cell(spark):
    """The stale-partition hole explicit delete-and-append exists to
    close: when every row of an affected cell moves to another cell,
    the emptied cell's files must disappear (dynamic partition
    overwrite would have silently kept them)."""
    import tempfile
    from pathlib import Path

    from mcp_server_vector_search_spark.operators.ann import replace_partitions

    layout = tempfile.mkdtemp(prefix="upsert_empty_cell_")
    base = spark.createDataFrame(
        [(1, [1.0], 0), (2, [2.0], 0), (3, [3.0], 7), (4, [4.0], 7)],
        "vec_id long, embedding array<double>, centroid_id int",
    )
    base.write.mode("overwrite").partitionBy("centroid_id").parquet(layout)
    # cell 7's rows BOTH re-assign to cell 3; cell 0 is untouched
    replacement = spark.createDataFrame(
        [(3, [30.0], 3), (4, [40.0], 3)],
        "vec_id long, embedding array<double>, centroid_id int",
    )
    replace_partitions(layout, [7, 3], replacement)
    back = spark.read.parquet(layout)
    rows = {(r.vec_id, r.centroid_id) for r in back.collect()}
    assert rows == {(1, 0), (2, 0), (3, 3), (4, 3)}
    assert not Path(f"{layout}/centroid_id=7").exists()
    import shutil

    shutil.rmtree(layout, ignore_errors=True)


def test_assignment_gemm_matches_jvm_expr(spark):
    """The Arrow GEMM assignment (production cell counts) must agree
    with the literal-matrix JVM expression (fixture/oracle path) on
    every vector — same rounding, same first-max tie rule."""
    from mcp_server_vector_search_spark.operators.ann import (
        TRAIN_SAMPLE,
        _sample_vectors,
        assignment_expr,
        assignment_gemm,
        train_centroids,
    )

    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    cents = train_centroids(_sample_vectors(emb, TRAIN_SAMPLE))
    both = emb.select(
        "vec_id",
        assignment_expr(cents).alias("jvm"),
        assignment_gemm(cents).alias("gemm"),
    ).collect()
    assert len(both) > 0
    disagree = [r for r in both if r["jvm"] != r["gemm"]]
    assert not disagree, f"{len(disagree)} assignment mismatches"


def test_semdedup_gemm_matches_hof(spark):
    """The per-cell GEMM SemDeDup must reproduce the HOF operator's
    exact output rows on the correctness fixture."""
    from mcp_server_vector_search_spark.operators.ann import (
        TRAIN_SAMPLE,
        _sample_vectors,
        assignment_expr,
        train_centroids,
    )
    from mcp_server_vector_search_spark.operators.data_selection import (
        SEMDEDUP_T,
        semdedup_dropped,
        semdedup_dropped_gemm,
    )

    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    cents = train_centroids(_sample_vectors(emb, TRAIN_SAMPLE))
    assigned = emb.withColumn("centroid_id", assignment_expr(cents))
    hof = [
        (r["vec_id"], r["centroid_id"], r["n_dup_partners"], r["max_sim"])
        for r in semdedup_dropped(assigned, SEMDEDUP_T).collect()
    ]
    gemm = [
        (r["vec_id"], r["centroid_id"], r["n_dup_partners"], r["max_sim"])
        for r in semdedup_dropped_gemm(assigned, SEMDEDUP_T).collect()
    ]
    assert len(hof) > 0
    assert gemm == hof


def test_multiprobe_beats_single_probe_at_equal_tables(spark):
    """The multi-probe claim (Lv et al. 2007): with the SAME table
    budget (MP_TABLES of the shared index), probing the low-margin
    neighbor buckets must recover at least as much of the exact top-k
    as single-probing those tables, and must reach the recall floor."""
    from pyspark.sql import functions as F

    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    indexed = ann.load_or_build_srp_index(spark, SF_CORRECTNESS)
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    ]
    multi = {
        r.vec_id for r in ann.srp_multiprobe_topk(indexed, qvec).collect()
    }
    # single-probe restricted to the SAME tables
    planes = ann.srp_planes()
    cond = None
    for t in range(ann.MP_TABLES):
        this = F.col(f"b{t}") == F.lit(ann._py_bucket(qvec, planes, t))
        cond = this if cond is None else cond | this
    from mcp_server_vector_search_spark.functions.vector import (
        neo4j_score,
        vector_lit,
    )

    single = {
        r.vec_id
        for r in indexed.where(cond)
        .withColumn("score", neo4j_score("embedding", vector_lit(qvec)))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    r_multi = len(truth & multi) / len(truth)
    r_single = len(truth & single) / len(truth)
    assert r_multi >= r_single
    assert r_multi >= 0.9, f"multi-probe recall {r_multi:.2f}"


def test_probe_sequence_properties():
    """Base bucket ranks first (zero flip cost); probes are distinct;
    the sequence is a permutation prefix of the 2^bits bucket ids."""
    import numpy as np

    rng = np.random.default_rng(5)
    planes = ann.srp_planes()
    vec = [float(v) for v in rng.normal(size=planes.shape[1])]
    for t in range(ann.MP_TABLES):
        seq = ann.probe_sequence(vec, planes, t)
        assert seq[0] == ann._py_bucket(vec, planes, t)
        assert len(seq) == len(set(seq)) == ann.MP_PROBES
        assert all(0 <= b < (1 << ann.SRP_BITS) for b in seq)


def test_range_search_pruning_lossless_clustered():
    """The range-search bound on a CLUSTERED corpus (where it earns its
    keep): per-cell radii are small, so the triangle-inequality bound
    prunes most cells — and losslessness must hold exactly: NO vector
    outside the feasible cells clears the threshold, at any threshold.
    Pure numpy over the same range_feasible_cells the operator uses."""
    import numpy as np

    rng = np.random.default_rng(11)
    n_cells, dim, per = 8, 16, 40
    centers = rng.normal(size=(n_cells, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(n_cells), per)
    X = centers[labels] + 0.05 * rng.normal(size=(n_cells * per, dim))
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    cents = [list(c) for c in centers]
    assign = np.argmax(U @ centers.T, axis=1)
    radii = {
        int(i): float(
            np.max(
                np.arccos(
                    np.clip((U[assign == i] @ centers[i]), -1.0, 1.0)
                )
            )
        )
        for i in range(n_cells)
        if np.any(assign == i)
    }
    pruned_somewhere = False
    for t in (0.80, 0.90, 0.95):
        for _ in range(10):
            j = int(rng.integers(0, len(U)))
            q = X[j] + 0.02 * rng.normal(size=dim)
            qu = q / np.linalg.norm(q)
            feasible = set(ann.range_feasible_cells(list(q), cents, radii, t))
            scores = np.round((1.0 + U @ qu) / 2.0, 6)
            outside = [i for i in range(len(U)) if assign[i] not in feasible]
            assert all(scores[i] < t for i in outside), (
                "lossless bound violated: a match lives in a pruned cell"
            )
            if len(feasible) < n_cells:
                pruned_somewhere = True
    assert pruned_somewhere, "clustered corpus should actually prune cells"


def test_ivf_cell_radii_matches_numpy(spark):
    """The Spark radii aggregation computes exactly the statistic the
    driver-side bound consumes: max member angle per cell, replicated
    in numpy over the collected smoke index."""
    import numpy as np

    indexed, cents = ann.load_or_build_ivf_index(spark, SF_CORRECTNESS)
    radii = ann.ivf_cell_radii(indexed, cents)
    rows = indexed.select("embedding", "centroid_id").collect()
    C = np.asarray(cents, dtype=np.float64)
    by_cell: dict[int, list[float]] = {}
    for r in rows:
        v = np.asarray(list(r.embedding), dtype=np.float64)
        cu = C[r.centroid_id]
        cos = (
            float(v @ cu)
            / max(float(np.linalg.norm(v)), 1e-12)
            / float(np.linalg.norm(cu))
        )
        by_cell.setdefault(int(r.centroid_id), []).append(
            float(np.arccos(min(1.0, max(-1.0, cos))))
        )
    expect = {c: max(a) for c, a in by_cell.items()}
    assert set(radii) == set(expect)
    for c in expect:
        assert abs(radii[c] - expect[c]) < 1e-9, (c, radii[c], expect[c])
    # non-unit centroids (e.g. train_centroids_distributed means) must
    # yield the SAME angles — the cosine divides by the centroid norm
    # too (ADVICE r11: dot/|e| alone underestimates the angle at cos<0,
    # which would break the advertised-lossless range bound)
    radii_scaled = ann.ivf_cell_radii(indexed, [[3.0 * x for x in c] for c in cents])
    for c in expect:
        assert abs(radii_scaled[c] - expect[c]) < 1e-9, (c, radii_scaled[c])


def test_range_search_matches_full_scan(spark):
    """End-to-end set equality at the correctness SF: the pruned range
    query returns exactly the rows a full scan keeps — the operator's
    defining contract (the driver row hash-checks the same thing
    against DuckDB)."""
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    ]
    got = {
        (r.vec_id, r.score)
        for r in ann.q_ann_range_search(spark, SF_CORRECTNESS).collect()
    }
    from mcp_server_vector_search_spark.functions.vector import (
        neo4j_score,
        vector_lit,
    )

    full = {
        (r.vec_id, r.score)
        for r in emb.withColumn(
            "score",
            F.round(neo4j_score("embedding", vector_lit(qvec)), 6),
        )
        .where(F.col("score") >= ann.RANGE_MIN_SCORE)
        .select("vec_id", "score")
        .collect()
    }
    assert got == full and len(got) > 0


def test_recall_report_row(spark):
    """The index-quality audit row: one row per report query, hits in
    [0, K], recall = hits/K exactly, and the 100%-recall queries'
    exact top-k fully contained in the probed cells (cross-checked
    against the standalone ivf_topk path)."""
    rows = ann.q_ann_recall_report(spark, SF_CORRECTNESS).collect()
    assert [r.query_id for r in rows] == list(range(ann.REPORT_QUERIES))
    for r in rows:
        assert 0 <= r.hits <= ann.K
        assert r.recall == r.hits / ann.K
    # the report's qid-0 hits must agree with the standalone probe path
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    indexed, cents = ann.load_or_build_ivf_index(spark, SF_CORRECTNESS)
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    standalone = {
        r.vec_id for r in ann.ivf_topk(indexed, cents, qvec).collect()
    }
    from mcp_server_vector_search_spark.functions.vector import (
        neo4j_score,
        vector_lit,
    )

    exact = {
        r.vec_id
        for r in emb.withColumn(
            "score", F.round(neo4j_score("embedding", vector_lit(qvec)), 6)
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(ann.K)
        .collect()
    }
    assert rows[0].hits == len(standalone & exact)
