"""Deterministic driver-side quantizer training + oracle-constant plumbing.

The ANN family's non-SQL stages — coarse-quantizer k-means, PQ codebook
k-means, SRP hyperplane generation, prompt hash-embedding — all run
DRIVER-SIDE on bounded inputs (a sorted sample, a seed), exactly like
production vector systems train quantizers on 10^5-10^6 sampled vectors
regardless of corpus size (FAISS discipline; Jégou/Douze/Schmid 2011).
Because they are pure numpy with fixed seeds, the oracle generator can
run the SAME training on the first ``oracle_sql()`` call and fold the
resulting constants into DuckDB SQL literals — which upgrades the whole
ANN family from "rows-only" to exact value-hash oracle checks: the oracle
verifies the distributed stages (assignment, pruned scan, ADC, re-rank)
bit-for-bit, with training outputs treated as query parameters the same
way the reference binds its client-side prompt embedding
(reference server.py:86,95).

Oracle constants are specialized to the driver's correctness scale
factor (sf0.01): the query functions train on whatever ``sf_dir`` they
receive; the oracle is the sf0.01 instantiation the driver compares at.
"""

from __future__ import annotations

import functools
from typing import Sequence

import numpy as np

# The driver's correctness-gate dataset; oracles are generated against it.
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def kmeans(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain Lloyd k-means, deterministic under (input order, seed).
    Shared by the IVF coarse quantizer (full-dim) and PQ codebooks
    (per-subspace)."""
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), k, replace=False)].copy()
    d = np.empty((len(x), k), dtype=x.dtype)
    for _ in range(iters):
        # one center at a time: an n x k x d broadcast is ~0.4 GB per
        # iteration at 1536 dims; the per-row sums are bit-identical
        for c in range(k):
            d[:, c] = ((x - centers[c]) ** 2).sum(axis=1)
        assign = d.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                centers[c] = x[mask].mean(axis=0)
    return centers


@functools.cache
def load_sorted_vectors(sf_dir: str) -> tuple[tuple[int, ...], np.ndarray]:
    """(vec_ids, float64 matrix) from ``embeddings.parquet``, sorted by
    vec_id — the same deterministic sample order the Spark side uses
    (``orderBy("vec_id").limit(n)``).  Oracle-generation path only; the
    engine itself never reads parquet driver-side.  Memoized per
    directory and shared by every generator, so the matrix is
    read-only: an in-place edit raises instead of corrupting the
    other oracles."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    x = np.asarray([vecs[i] for i in order], dtype=np.float64)
    x.flags.writeable = False
    return tuple(ids[i] for i in order), x


def sql_floats(values: Sequence[float]) -> str:
    """A DuckDB DOUBLE[] literal, bit-exact.  ``repr`` emits the
    shortest round-tripping decimal; the ``e0`` suffix is load-bearing —
    DuckDB parses a bare decimal literal as DECIMAL first and the cast
    to DOUBLE can land one ulp off (found by hypothesis:
    ``0.9999899864196777`` → ``...776``), while an exponent-suffixed
    literal goes straight through strtod, correctly rounded."""

    return "[" + ", ".join(sql_float(v) for v in values) + "]"


def sql_float(v: float) -> str:
    """One bit-exact DuckDB DOUBLE literal (see :func:`sql_floats`)."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "e0"


def seq_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Left-to-right sequential double summation — the evaluation order
    of ``functions.vector.dot``'s ``F.aggregate`` fold, so driver-side
    replications are bit-identical to the JVM's."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def round6(v: float) -> float:
    """Decimal-exact HALF_UP at 6 decimals — Spark's ``F.round``
    semantics.  ``np.round`` scales by 1e6 and rounds half-to-even on
    the SCALED double, which can disagree with decimal HALF_UP exactly
    at boundary ties; every oracle replication must share ONE rounding
    definition with the JVM query path."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-6)
    return float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))


def round6_arr(a) -> "np.ndarray":
    """Vectorized ``round6`` — decimal-exact HALF_UP at 6 decimals over
    a numpy array, at GEMM-compatible speed (r13 advisor, medium):
    ``assignment_gemm`` previously used ``np.round`` (half-to-even on
    the SCALED binary double), which can disagree with the JVM
    ``F.round`` / ``assignment_expr`` twin exactly at 0.5e-6 rounding
    boundaries — the discrepancy ``round6``'s own docstring warns
    about.

    Fast path: binary half-away-from-zero on ``a * 1e6`` (floor(s+0.5)
    for s ≥ 0, ceil(s−0.5) below), which equals decimal HALF_UP
    everywhere except where the binary-scaled value and the decimal
    expansion of the double's shortest repr straddle a .5 boundary.
    Those candidates — |frac(s) − 0.5| inside a generous guard band
    (the true repr-vs-binary gap is < 1 ulp of s ≈ 2e-10 at |a| ≤ 1;
    the band is 1e-6) — are re-rounded through the exact per-element
    Decimal path, so the result is bit-equal to ``round6`` / Spark's
    ``F.round`` for EVERY element while the band (empirically ~1e-6 of
    elements) bounds the slow path.

    The band is sized per-element as max(1e-6, 8·ulp(s)) (r14 advisor):
    the fixed 1e-6 alone is only valid while ulp(s)/2 < 1e-6, i.e.
    |a| ≲ 8e3 — scaling with ``np.spacing`` keeps the no-missed-ties
    guarantee for any magnitude a future caller passes."""
    a = np.asarray(a, dtype=np.float64)
    s = a * 1e6
    out = np.where(s >= 0.0, np.floor(s + 0.5), np.ceil(s - 0.5)) / 1e6
    frac = s - np.floor(s)
    band = np.maximum(1e-6, 8.0 * np.spacing(np.abs(s)))
    sus = np.abs(frac - 0.5) < band
    if sus.any():
        flat = out.reshape(-1)
        src = a.reshape(-1)
        for i in np.nonzero(sus.reshape(-1))[0]:
            flat[i] = round6(float(src[i]))
        out = flat.reshape(a.shape)
    return out
