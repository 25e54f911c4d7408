"""Pluggable embedding inference surface.

The reference has two embedders (SURVEY.md §1.4): OpenAI
`text-embedding-3-small` (1536-dim, the live path —
reference server.py:40-58) and a dead SentenceTransformer path
(384-dim, server.py:26-38).  The lesson taken from that dual surface is
that dimension and model are PARAMETERS.  Our engine exposes one
batch-embedding operator shape:

    df.withColumn("embedding", embedder(F.col("text")))

where ``embedder`` is an Arrow-batched pandas UDF.  Real models plug in
by building the UDF with a model loader (executor-local cache, one load
per worker — the standard broadcast-inference pattern); CI uses the
deterministic hash-projection embedder below, which needs no model
artifacts and is stable across runs/machines.
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def _token_vector(token: str, dim: int) -> np.ndarray:
    """Deterministic pseudo-random unit-ish vector for one token,
    seeded from md5 — same on every executor, platform, and run."""
    seed = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim)


def embed_text_driver(
    text: str, dim: int, cache: dict[str, np.ndarray] | None = None
) -> np.ndarray:
    """Driver-side mirror of ``hash_embedder``'s per-row math (bag of
    md5-seeded token vectors summed in float64, L2-normalized, cast
    float32) — the single source for every oracle
    fold (ann.prompt_embedding, lifecycle's dim-1536 corpus embed), so
    the embedding convention cannot silently fork between the UDF and
    its oracle replications."""
    acc = np.zeros(dim)
    for tok in (text or "").split(" "):
        if cache is None:
            vec = _token_vector(tok, dim)
        else:
            vec = cache.get(tok)
            if vec is None:
                vec = cache[tok] = _token_vector(tok, dim)
        acc += vec
    nrm = np.linalg.norm(acc)
    if nrm > 0:
        acc = acc / nrm
    return acc.astype(np.float32)


def hash_embedder(dim: int = DEFAULT_DIM) -> Callable[[Column], Column]:
    """Deterministic text → array<float> embedder (bag of hashed token
    vectors, L2-normalized).  Arrow-batched; the per-token vectors are
    memoized per executor process, so a 100 TB corpus with a bounded
    vocabulary amortizes to a dict lookup + vector add per token."""
    cache: dict[str, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            acc = np.zeros(dim)
            for tok in (text or "").split(" "):
                vec = cache.get(tok)
                if vec is None:
                    vec = cache[tok] = _token_vector(tok, dim)
                acc += vec
            nrm = np.linalg.norm(acc)
            if nrm > 0:
                acc = acc / nrm
            out.append(acc.astype(np.float32))
        return pd.Series(out)

    return embed


# The reference's two embedder configurations (server.py:25,48): the live
# OpenAI path and the declared-but-dead SentenceTransformer path.
OPENAI_EMBED_MODEL = "text-embedding-3-small"
OPENAI_EMBED_DIM = 1536
ST_EMBED_MODEL = "all-MiniLM-L6-v2"
ST_EMBED_DIM = 384


def openai_embedder(
    client_factory: Callable[[], object] | None = None,
    model: str = OPENAI_EMBED_MODEL,
    dim: int = OPENAI_EMBED_DIM,
) -> Callable[[Column], Column]:
    """OpenAI-compatible embedding adapter — the reference's live path
    (server.py:39-57: ``client.embeddings.create`` with
    ``text-embedding-3-small`` and a hard 1536-dim check).

    ``client_factory`` builds the client once per executor process
    (``None`` → ``openai.OpenAI()`` from env, import-guarded so the repo
    needs no network or SDK in CI; tests inject a fake).  Parity
    decision: the reference embeds one text per API call — this adapter
    ships each Arrow batch as ONE ``input=[...]`` list, which is the
    same documented API shape at 1/batch_size the request count; the
    per-vector dim hard-fail (server.py:54-55) is kept verbatim.
    """

    def default_factory() -> object:
        try:
            from openai import OpenAI  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - SDK absent in CI
            raise ImportError(
                "openai SDK not installed; pass client_factory= explicitly"
            ) from e
        return OpenAI()

    factory = client_factory or default_factory
    state: dict[str, object] = {}

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        client = state.get("c")
        if client is None:
            client = state["c"] = factory()
        response = client.embeddings.create(input=texts.tolist(), model=model)
        out = []
        for item in response.data:
            vec = item.embedding
            if not isinstance(vec, list) or len(vec) != dim:
                # reference server.py:54-55 semantics, verbatim
                raise ValueError(f"The embedding must be a list of {dim} numbers")
            out.append(np.asarray(vec, dtype=np.float32))
        return pd.Series(out)

    return embed


def sentence_transformer_embedder(
    model_name: str = ST_EMBED_MODEL, dim: int = ST_EMBED_DIM
) -> Callable[[Column], Column]:
    """SentenceTransformer adapter — the reference's module-level model
    (server.py:25, ``all-MiniLM-L6-v2``, 384-dim; its ``get_embeddings``
    at :27-37 is dead code the live tool never calls, SURVEY §1.4).
    Import-guarded: the library is loaded lazily on the executor, once
    per worker process."""

    def loader() -> object:
        try:
            from sentence_transformers import (  # type: ignore[import-not-found]
                SentenceTransformer,
            )
        except ImportError as e:  # pragma: no cover - library absent in CI
            raise ImportError(
                "sentence-transformers not installed; use hash_embedder or "
                "model_embedder with a custom loader"
            ) from e
        return SentenceTransformer(model_name)

    return model_embedder(loader, dim, cache_key=f"st:{model_name}:{dim}")


# Per-PROCESS model cache for model_embedder.  It must be reached via a
# worker-side `import` of THIS module (see embed below), not via closure
# capture: cloudpickle serializes nested UDF functions by value, so any
# dict captured in the closure is COPIED into every task — a per-task
# "cache" that reloads the model once per task instead of once per
# worker process.  The import resolves the real module in the worker
# interpreter, giving one shared dict per Python worker; with worker
# reuse (spark.python.worker.reuse, default on) that is one model load
# per executor core for the lifetime of the job — the behavior the
# 100 TB embed pass depends on (tests/test_embedders.py pins it with a
# counting loader over more tasks than workers).
_MODEL_CACHE: dict[str, object] = {}


def model_embedder(
    model_loader: Callable[[], object],
    dim: int,
    batch_encode: str = "encode",
    cache_key: str | None = None,
) -> Callable[[Column], Column]:
    """Real-model embedding UDF (the production path).

    ``model_loader`` runs once per executor PROCESS (module-level cache
    keyed by ``cache_key``), e.g.
    ``lambda: SentenceTransformer("all-MiniLM-L6-v2")``.  ``cache_key``
    defaults to the loader's qualified name + dim; pass an explicit key
    when the loader is a lambda whose identity does not name the model.
    """
    key = cache_key or (
        f"{getattr(model_loader, '__module__', '?')}."
        f"{getattr(model_loader, '__qualname__', '?')}:{dim}:{batch_encode}"
    )

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        # worker-side import: reach the per-process cache, not a
        # closure copy (see _MODEL_CACHE comment)
        from mcp_server_vector_search_spark.functions import embedder as _mod

        model = _mod._MODEL_CACHE.get(key)
        if model is None:
            model = _mod._MODEL_CACHE[key] = model_loader()
        vecs = getattr(model, batch_encode)(texts.tolist())
        arr = np.asarray(vecs, dtype=np.float32)
        if arr.ndim != 2 or arr.shape[1] != dim:
            # the reference validates dimension on every embedding
            # (server.py:55-56, 80-84); we keep the hard-fail semantics
            raise ValueError(f"embedder returned shape {arr.shape}, want (*, {dim})")
        return pd.Series(list(arr))

    return embed


# The late-interaction family's token dimension — single-sourced HERE
# (the light module both the vocab UDF and the driver replication
# import) so the query token matrix and the doc token vectors cannot
# silently desync (r13 advisor: a hardcoded dim=32 default next to a
# separate MAXSIM_DIM would truncate dot() via zip on a future change).
MAXSIM_DIM = 32


def token_unit(token: str, dim: int = MAXSIM_DIM) -> list:
    """Unit token vector with PURE-SEQUENTIAL normalization: the
    md5-seeded generator is bit-stable on every process (no BLAS), and
    the norm folds left-to-right in float64 — so driver replication and
    Arrow workers produce identical bytes.  Lives in this LIGHT module
    so the maxsim vocab UDF's worker-side import stays small instead of
    pulling in operators.late_interaction and its sibling modules."""
    import math

    raw = [float(x) for x in _token_vector(token, dim)]
    acc = 0.0
    for x in raw:
        acc += x * x
    nrm = math.sqrt(acc)
    return [x / nrm for x in raw] if nrm > 0 else raw
