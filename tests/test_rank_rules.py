"""One owner per ranking rule: the probe-widening ladder is one loop
shared by the adaptive and planned filtered searches (and their
oracles), and each score / assignment / fetch fragment is written in
exactly one function."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import numpy as np
import pytest

from mcp_server_vector_search_spark.operators import ann

PACKAGE = Path(ann.__file__).parent.parent


def _old_adaptive_ladder(qvec, cents, nprobe, count, k):
    """The adaptive loop as it stood before the shared ladder."""
    n_cells = len(cents)
    cur = min(nprobe, n_cells)
    rounds = 0
    while True:
        probes = ann.nearest_centroids(qvec, cents, cur)
        if cur >= n_cells or rounds >= ann.ADAPTIVE_MAX_ROUNDS or count(probes) >= k:
            break
        cur = min(2 * cur, n_cells)
        rounds += 1
    return probes, cur, rounds


def _old_planned_ladder(qvec, cents, start, count, k):
    """The planned loop as it stood before the shared ladder."""
    n_cells = len(cents)
    cur = start
    rungs = 0
    while True:
        probes = ann.nearest_centroids(qvec, cents, cur)
        rungs += 1
        if cur >= n_cells or rungs > ann.ADAPTIVE_MAX_ROUNDS or count(probes) >= k:
            break
        cur = min(2 * cur, n_cells)
    return probes, cur, rungs


@pytest.mark.parametrize("n_cells", [16, 100])
def test_probe_ladder_matches_both_old_loops(n_cells):
    """Start widths 1..16 against per-cell match counts from all-empty
    (full starvation, the ladder runs out) to dense (the first rung is
    enough): the shared ladder returns the old planned loop's
    ``(probes, nprobe, rungs)`` and the old adaptive loop's probes and
    nprobe with ``rungs = rounds + 1``.  100 cells make the round bound,
    not the cell count, end the widest ladders."""
    rng = np.random.default_rng(7)
    cents = rng.standard_normal((n_cells, 8)).tolist()
    qvec = rng.standard_normal(8).tolist()
    k = 10
    for hi in (1, 2, 3, 5, 20):
        matches = rng.integers(0, hi, n_cells)

        def count(probes):
            return int(sum(matches[c] for c in probes))

        for start in range(1, 17):
            got = ann.probe_ladder(qvec, cents, start, count, k)
            assert got == _old_planned_ladder(qvec, cents, start, count, k)
            probes, cur, rounds = _old_adaptive_ladder(qvec, cents, start, count, k)
            assert got == (probes, cur, rounds + 1)


def _hits_outside(pattern: str, owner: str, fn: str | None = None) -> list[str]:
    """``file:line`` of every match of ``pattern`` in the package outside
    its owner: the function ``fn`` of the module ``owner`` (or the whole
    module when ``fn`` is None)."""
    hits = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        text = f.read_text()
        if rel == owner:
            if fn is None:
                continue
            lines = text.splitlines(keepends=True)
            node = next(
                n for n in ast.parse(text).body
                if isinstance(n, ast.FunctionDef) and n.name == fn
            )
            for i in range(node.lineno - 1, node.end_lineno):
                lines[i] = "\n"
            text = "".join(lines)
        hits += [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                 for m in re.finditer(pattern, text)]
    return hits


@pytest.mark.parametrize(
    "pattern, owner, fn",
    [
        # the rounded Neo4j score in oracle SQL
        (r"ROUND\(\(1\.0 \+ list_cosine_similarity", "operators/topk.py", "score_sql"),
        # the rounded-argmax cell assignment CTE
        (r"ORDER BY sim DESC, cid", "operators/ann.py", "ivf_assign_sql"),
        # the driver fetch of a query vector
        (r"\.first\(\)\[\"embedding\"\]", "operators/topk.py", "query_vector"),
        # the rounded Spark score column (literal or column query)
        (r"F\.round\(\s*neo4j_score\(", "operators/topk.py", None),
    ],
)
def test_rank_fragment_has_one_owner(pattern, owner, fn):
    assert _hits_outside(pattern, owner, fn) == []
