"""Graph-ANN (NSW routing graph over quantizer landmarks): recall,
partition pruning, and beam-search navigation quality."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mcp_server_vector_search_spark.operators import graph_ann
from mcp_server_vector_search_spark.operators.graph_ann import (
    GRAPH_DEGREE,
    GRAPH_NODES,
    GRAPH_PROBES,
    beam_search,
    build_knn_graph,
    graph_topk,
    load_or_build_graph_index,
)
from mcp_server_vector_search_spark.sources.tables import load_table

from .conftest import SF_CORRECTNESS
from .test_ann import exact_topk_ids


def test_graph_topk_recall(spark):
    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    got = {
        r.vec_id for r in graph_ann.q_ann_graph_topk(spark, SF_CORRECTNESS).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"graph-ANN recall@10 = {recall}"


def test_graph_multi_query_recall(spark):
    """Mean recall@10 over seeded random corpus queries — the graph
    descent must hold up beyond the single fixture query."""
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    rows = emb.orderBy("vec_id").select("vec_id", "embedding").collect()
    ids = np.asarray([r[0] for r in rows])
    V = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    index, nodes, graph = load_or_build_graph_index(spark, SF_CORRECTNESS)
    rng = np.random.default_rng(5)
    recalls = []
    for j in rng.integers(0, len(ids), size=8):
        q = V[int(j)]
        sims = V @ q / (norms * np.linalg.norm(q))
        true_top = set(ids[np.lexsort((ids, -sims))[:10]].tolist())
        got = {
            r["vec_id"]
            for r in graph_topk(index, nodes, graph, [float(x) for x in q]).collect()
        }
        recalls.append(len(true_top & got) / 10.0)
    assert float(np.mean(recalls)) >= 0.9, recalls


def test_graph_partition_pruning(spark):
    """The node_id-partitioned layout must turn the beam's probe list
    into PartitionFilters — non-probed cells never read."""
    index, nodes, graph = load_or_build_graph_index(spark, SF_CORRECTNESS)
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    df = graph_topk(index, nodes, graph, qvec)
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert "PartitionFilters" in plan and "node_id" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_knn_graph_shape():
    rng = np.random.default_rng(3)
    nodes = rng.normal(size=(GRAPH_NODES, 8)).tolist()
    g = build_knn_graph(nodes)
    assert len(g) == GRAPH_NODES
    for u, nbrs in enumerate(g):
        assert len(nbrs) == GRAPH_DEGREE
        assert u not in nbrs
        assert len(set(nbrs)) == GRAPH_DEGREE
    # deterministic
    assert g == build_knn_graph(nodes)


def test_beam_search_matches_flat_probe_selection():
    """On the fixture-scale graph the beam must select the same probe
    cells a flat scan over every node would — navigation loses nothing
    at this node count (at 10^6 nodes it trades a full scan for
    O(degree x beam), which is the point)."""
    rng = np.random.default_rng(11)
    nodes = rng.normal(size=(GRAPH_NODES, 16))
    nodes /= np.linalg.norm(nodes, axis=1, keepdims=True)
    g = build_knn_graph(nodes.tolist())
    for _ in range(10):
        q = rng.normal(size=16)
        got = beam_search(nodes.tolist(), g, q.tolist())
        sims = np.round(
            (nodes @ (q / np.linalg.norm(q))), 6
        )
        flat = [
            int(i)
            for i in sorted(range(GRAPH_NODES), key=lambda i: (-sims[i], i))[
                :GRAPH_PROBES
            ]
        ]
        assert set(got) == set(flat)


def test_hnsw_topk_recall(spark):
    truth = set(exact_topk_ids(spark, SF_CORRECTNESS))
    got = {
        r.vec_id for r in graph_ann.q_ann_hnsw_topk(spark, SF_CORRECTNESS).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"HNSW recall@10 = {recall}"


def test_hnsw_hierarchy_shape():
    """The level hierarchy must be geometric and internally consistent:
    layer membership shrinks monotonically, layer 0 equals the flat NSW
    graph (same determinism conventions), the entry node lives on the
    top layer, and the whole build is reproducible."""
    rng = np.random.default_rng(23)
    nodes = rng.normal(size=(64, 8))
    nodes /= np.linalg.norm(nodes, axis=1, keepdims=True)
    h = graph_ann.build_hnsw(nodes.tolist())
    sizes = [len(g) for g in h["graphs"]]
    assert sizes[0] == 64
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))
    assert len(sizes) >= 2, "64 nodes should produce at least two layers"
    # layer 0 == the flat k-NN graph
    flat = graph_ann.build_knn_graph(nodes.tolist())
    assert h["graphs"][0] == {u: nbrs for u, nbrs in enumerate(flat)}
    # entry on the top layer, membership nested
    top = len(sizes) - 1
    assert h["levels"][h["entry"]] == top
    for lvl in range(1, len(sizes)):
        assert set(h["graphs"][lvl]) <= set(h["graphs"][lvl - 1])
    assert h == graph_ann.build_hnsw(nodes.tolist())


def test_hnsw_matches_flat_probes_at_fixture_scale():
    """At the fixture node count the beam covers the whole graph, so
    the layered descent must land on the same probe cells as the flat
    search — the hierarchy changes the walk, not the answer."""
    rng = np.random.default_rng(29)
    nodes = rng.normal(size=(GRAPH_NODES, 16))
    nodes /= np.linalg.norm(nodes, axis=1, keepdims=True)
    g = build_knn_graph(nodes.tolist())
    h = graph_ann.build_hnsw(nodes.tolist())
    for _ in range(10):
        q = rng.normal(size=16)
        flat = beam_search(nodes.tolist(), g, q.tolist())
        layered = graph_ann.hnsw_search(nodes.tolist(), h, q.tolist())
        assert set(layered) == set(flat)


def test_hnsw_incremental_build_recall_parity_and_subquadratic():
    """The insertion-based builder (paper algorithm 1) must match the
    batch builder's search recall while its build cost grows
    SUB-quadratically — the batch rebuild's n^2 sims are exactly what
    it exists to avoid (at 10^6 routing nodes the pairwise matrix is
    unbuildable)."""
    import time

    rng = np.random.default_rng(7)
    hits = {}
    times = {"batch": {}, "incr": {}}
    for n in [512, 2048]:
        X = rng.normal(size=(n, 16))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        Xl = X.tolist()
        t0 = time.perf_counter()
        hb = graph_ann.build_hnsw(Xl, degree=8)
        times["batch"][n] = time.perf_counter() - t0
        t0 = time.perf_counter()
        hi = graph_ann.build_hnsw_incremental(Xl, degree=8)
        times["incr"][n] = time.perf_counter() - t0
        bh = ih = 0
        for _ in range(20):
            q = rng.normal(size=16)
            q /= np.linalg.norm(q)
            best = int(np.argmax(np.round(X @ q, 6)))
            bp, _ = graph_ann.hnsw_search_stats(Xl, hb, q.tolist(), 10, 16)
            ip, _ = graph_ann.hnsw_search_stats(Xl, hi, q.tolist(), 10, 16)
            bh += best in bp
            ih += best in ip
        hits[n] = (bh, ih)
    # recall parity: the incremental graph navigates no worse than
    # batch minus small noise
    for n, (bh, ih) in hits.items():
        assert ih >= bh - 3, (n, hits)
    # sub-quadratic growth: batch cost ratio over 4x nodes should be
    # ~16x; incremental must grow strictly slower
    batch_ratio = times["batch"][2048] / max(times["batch"][512], 1e-6)
    incr_ratio = times["incr"][2048] / max(times["incr"][512], 1e-6)
    assert incr_ratio < 0.75 * batch_ratio, (times, batch_ratio, incr_ratio)
    # structural invariants: bounded degree, nested membership
    for lvl, adj in enumerate(hi["graphs"]):
        for u, nbrs in adj.items():
            assert len(nbrs) <= 8 and u not in nbrs
        if lvl > 0:
            assert set(adj) <= set(hi["graphs"][lvl - 1])


def test_hnsw_insert_nodes_continuation_equals_scratch_build():
    """Insert-without-rebuild exactness: building incrementally over
    all n nodes must equal building over a prefix and then inserting
    the suffix — the insertion loop's state is identical at every
    step, so the structures (levels, every layer's adjacency, entry)
    must be EQUAL, not merely recall-equivalent.  The input structure
    must also be left unmutated."""
    import copy

    rng = np.random.default_rng(11)
    X = [list(v) for v in rng.normal(size=(60, 8))]
    full = graph_ann.build_hnsw_incremental(X)
    prefix = graph_ann.build_hnsw_incremental(X[:40])
    snapshot = copy.deepcopy(prefix)
    resumed = graph_ann.hnsw_insert_nodes(prefix, X, 40)
    assert resumed == full
    assert prefix == snapshot, "hnsw_insert_nodes must not mutate its input"


def test_hnsw_upsert_topk_reaches_new_cells(spark):
    """The upsert query's top-k must include rows assigned to the
    INSERTED nodes (ids >= GRAPH_NODES) — otherwise the rewritten
    partitions would never be read and the certificate would be
    vacuous."""
    rows = graph_ann.q_ann_hnsw_upsert(spark, SF_CORRECTNESS).collect()
    assert len(rows) == graph_ann.K
    assert any(r["node_id"] >= graph_ann.GRAPH_NODES for r in rows)
    assert any(r["node_id"] < graph_ann.GRAPH_NODES for r in rows)


def test_hnsw_insert_nodes_rejects_bad_start():
    rng = np.random.default_rng(3)
    X = [list(v) for v in rng.normal(size=(20, 8))]
    base = graph_ann.build_hnsw_incremental(X[:10])
    import pytest as _pytest

    with _pytest.raises(AssertionError):
        graph_ann.hnsw_insert_nodes(base, X, 12)  # start != |existing|


# ---------------------------------------------------------------------------
# ann_hnsw_dim1536 — the reference's literal index type at its literal
# dimension (Lucene-HNSW over 1536-dim vectors, server.py:87).
# ---------------------------------------------------------------------------


def test_hnsw_dim1536_planted_navigation_floor():
    """On the fixture's near-orthogonal 1536-dim hash embeddings no
    navigation can be perfect (see the query docstring); what must hold
    is the measured floor: a query planted AT a corpus vector reaches
    that vector's own cell (its argmax centroid) within the probe set
    for a solid majority of docs — a drop below the floor means the
    descent or the hierarchy regressed, not the fixture."""
    from mcp_server_vector_search_spark.operators import lifecycle as L

    ids, vecs, cents, assign = L._corpus_1536()
    h = graph_ann.build_hnsw(cents)
    sample = list(range(0, len(ids), max(1, len(ids) // 50)))
    hits = 0
    for i in sample:
        probes = graph_ann.hnsw_search(
            cents, h, [float(v) for v in vecs[i]], n_probes=10
        )
        hits += int(assign[i]) in probes
    # measured 31/50 at degree 5; gate at 50% so only a real regression
    # (stuck descent, broken hierarchy) trips it
    assert hits >= len(sample) // 2, f"planted navigation {hits}/{len(sample)}"


def test_hnsw_dim1536_clustered_recall():
    """Where 1536-dim structure EXISTS the descent must find it: nodes
    drawn as noisy copies of 8 cluster directions (the shape of real
    embedding corpora), queries planted near a node — recall@probe of
    the planted node's cell must be >=0.95.  This is the certificate
    that the layered walk is correct at the reference dimension; the
    fixture-floor test above only pins that it doesn't regress on
    unstructured data."""
    rng = np.random.default_rng(1536)
    anchors = rng.normal(size=(8, 1536))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    nodes = np.repeat(anchors, 8, axis=0) + 0.15 * rng.normal(size=(64, 1536))
    nodes /= np.linalg.norm(nodes, axis=1, keepdims=True)
    h = graph_ann.build_hnsw(nodes.tolist())
    hits = 0
    n_queries = 40
    for t in range(n_queries):
        target = int(rng.integers(0, 64))
        q = nodes[target] + 0.05 * rng.normal(size=1536)
        probes = graph_ann.hnsw_search(nodes.tolist(), h, q.tolist(), n_probes=10)
        hits += target in probes
    assert hits / n_queries >= 0.95, f"clustered planted recall {hits}/{n_queries}"


def test_hnsw_dim1536_query_matches_oracle(spark):
    """The registered row end to end: distributed 1536-dim embed + GEMM
    assignment + descent-pruned scan must reproduce the registration-
    time numpy replication exactly (ids, scores, cells)."""
    from mcp_server_vector_search_spark.operators import lifecycle as L

    _cents, _probes, expected = L._hnsw1536_model()
    got = [
        (int(r.doc_id), float(r.score), int(r.node_id))
        for r in L.q_ann_hnsw_dim1536(spark, SF_CORRECTNESS).collect()
    ]
    assert got == [(i, s, c) for i, s, c in expected]


def test_select_neighbors_heuristic_keeps_bridges():
    """Algorithm 4's defining property on two tight clusters: pure-kNN
    selection spends every edge intra-cluster, the heuristic keeps a
    cross-cluster bridge — a candidate dominated by a kept neighbor
    (closer to that neighbor than to the base) is pruned, so slots
    reach the other cluster."""
    from mcp_server_vector_search_spark.operators.graph_ann import (
        _unit_rows,
        select_neighbors_heuristic,
    )

    # base + a chain of ever-farther cluster-mates (each closer to the
    # previous mate than to the base -> dominated -> pruned) + one
    # far point with a slight base-ward lean (closer to the base than
    # to any mate -> kept).  All angles explicit; no rng.
    pts = [
        [1.0, 0.0, 0.0],  # 0: base
        [1.0, 0.05, 0.0],  # 1: mate, kept first
        [1.0, 0.06, 0.0],  # 2: angle 0.01 to mate 1, 0.06 to base
        [1.0, 0.07, 0.0],  # 3: angle 0.02 to mate 1, 0.07 to base
        [0.3, 0.0, 1.0],  # 4: other cluster, leaning base-ward
    ]
    x = _unit_rows(pts)
    sims = x @ x[0]
    cands = sorted(range(1, 5), key=lambda i: (-round(float(sims[i]), 6), i))
    kept_knn = cands[:3]
    kept_h = select_neighbors_heuristic(x, 0, cands, 3)
    assert kept_knn == [1, 2, 3], "kNN keeps only cluster-mates"
    assert len(kept_h) == 3
    assert 4 in kept_h, "heuristic must keep the cross-cluster bridge"


def test_select_neighbors_heuristic_backfills():
    """keepPrunedConnections: when diversity admits fewer than degree,
    pruned candidates back-fill in candidate order — out-degree never
    starves."""
    import numpy as np

    from mcp_server_vector_search_spark.operators.graph_ann import (
        _unit_rows,
        select_neighbors_heuristic,
    )

    # near-collinear points: after the first keep, everything else is
    # dominated (closer to the kept neighbor than to the base)
    base = np.array([1.0, 0.0])
    pts = [base] + [
        np.array([np.cos(t), np.sin(t)]) for t in (0.10, 0.11, 0.12, 0.13)
    ]
    x = _unit_rows([p.tolist() for p in pts])
    kept = select_neighbors_heuristic(x, 0, [1, 2, 3, 4], 3)
    assert len(kept) == 3
    assert kept[0] == 1  # best candidate always kept


def test_hnsw_heuristic_row_matches_plain_scan_contract(spark):
    """The registered heuristic row returns k rows from probed cells
    with descending rounded scores, same contract as ann_hnsw_topk."""
    from mcp_server_vector_search_spark.operators.graph_ann import (
        q_ann_hnsw_heuristic_topk,
    )

    rows = q_ann_hnsw_heuristic_topk(spark, SF_CORRECTNESS).collect()
    assert len(rows) == 10
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
