"""A real (tiny) transformer encoder in pure numpy — the offline proof
of the REAL-MODEL embedding path (VERDICT r10 task 4).

The reference's live embedder is a network call (reference
server.py:40-58, OpenAI ``text-embedding-3-small``) and its declared
local model is sentence-transformers MiniLM (server.py:25); neither
can run in this container (no network, no torch).  What the engine
must prove is that ``model_embedder``'s distributed serving machinery
— per-process model cache, Arrow batch transfer, hard dim checks,
partition-parallel encode — executes a REAL model forward pass, not a
hash or a stub.  This module is that model: a genuine transformer
encoder (byte-level tokens, learned positions, multi-head scaled-dot
attention, pre-LN residual blocks, GELU FFN, mean pooling, L2
normalization — the MiniLM recipe at toy scale) whose weights are
DETERMINISTIC seeded Gaussians (seed 20260815) stored as an ``.npz``
fixture in the repo.  No attention/pooling masks are implemented —
none are needed, because ``encode`` runs ONE unpadded text per forward
pass; anyone adding batched (padded) forward passes must add both
masks or the results will be wrong (ADVICE r11).

Honesty note: the weights are untrained (no network to fetch public
pretrained weights), so the embeddings carry no semantic meaning.
Every claim certified through this model is about the DISTRIBUTED
PLUMBING — batch shapes, caching, determinism, dim contracts — which
is exactly the seam the env-gated sentence-transformers interop
(tests/test_embedders.py) leaves unexecuted in CI.

Determinism: ``encode`` runs one text at a time, so the array shapes
seen by BLAS depend only on the text — the same text produces a
bit-identical float32 vector on the driver and on any worker of this
container, which is what lets the facade row hash-match a
oracle-time numpy replication.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

# Architecture constants — fixed; the fixture stores weights for
# exactly this shape and load() verifies them.
VOCAB = 259  # 256 bytes + PAD(256) + BOS(257) + EOS(258)
PAD, BOS, EOS = 256, 257, 258
DIM = 64
N_HEADS = 2
N_LAYERS = 2
FFN = 128
MAX_LEN = 64

FIXTURE_PATH = (
    Path(__file__).resolve().parents[2]
    / "tests"
    / "fixtures"
    / "mini_transformer_v1.npz"
)


def _ln(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = ((x - mu) ** 2).mean(axis=-1, keepdims=True)
    return ((x - mu) / np.sqrt(var + np.float32(1e-5))) * g + b


def _gelu(x: np.ndarray) -> np.ndarray:
    # tanh approximation (the BERT/GPT-2 form) — elementwise, exact
    # same result for the same inputs everywhere
    c = np.float32(np.sqrt(2.0 / np.pi))
    return (
        np.float32(0.5)
        * x
        * (np.float32(1.0) + np.tanh(c * (x + np.float32(0.044715) * x**3)))
    )


def _softmax(x: np.ndarray) -> np.ndarray:
    m = x.max(axis=-1, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=-1, keepdims=True)


class MiniTransformer:
    """Loadable encoder with the ``.encode(list[str]) -> (n, DIM)``
    contract ``model_embedder`` expects of a real model."""

    def __init__(self, weights: dict[str, np.ndarray]) -> None:
        self.w = {k: np.asarray(v, dtype=np.float32) for k, v in weights.items()}
        assert self.w["tok"].shape == (VOCAB, DIM), "fixture/architecture mismatch"
        assert self.w["pos"].shape == (MAX_LEN, DIM), "fixture/architecture mismatch"

    @classmethod
    def load(cls, path: str | Path = FIXTURE_PATH) -> "MiniTransformer":
        with np.load(path) as z:
            return cls({k: z[k] for k in z.files})

    @staticmethod
    def save(weights: dict[str, np.ndarray], path: str | Path = FIXTURE_PATH) -> None:
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        np.savez_compressed(path, **weights)

    @staticmethod
    def tokenize(text: str) -> np.ndarray:
        ids = [BOS] + list(text.encode("utf-8"))[: MAX_LEN - 2] + [EOS]
        return np.asarray(ids, dtype=np.int64)

    def _forward_one(self, text: str) -> np.ndarray:
        w = self.w
        ids = self.tokenize(text)
        L = len(ids)
        x = w["tok"][ids] + w["pos"][:L]
        hd = DIM // N_HEADS
        scale = np.float32(1.0 / np.sqrt(hd))
        for i in range(N_LAYERS):
            h = _ln(x, w[f"l{i}.ln1.g"], w[f"l{i}.ln1.b"])
            q = (h @ w[f"l{i}.wq"]).reshape(L, N_HEADS, hd).transpose(1, 0, 2)
            k = (h @ w[f"l{i}.wk"]).reshape(L, N_HEADS, hd).transpose(1, 0, 2)
            v = (h @ w[f"l{i}.wv"]).reshape(L, N_HEADS, hd).transpose(1, 0, 2)
            att = _softmax(np.matmul(q, k.transpose(0, 2, 1)) * scale)
            ctx = np.matmul(att, v).transpose(1, 0, 2).reshape(L, DIM)
            x = x + ctx @ w[f"l{i}.wo"]
            h = _ln(x, w[f"l{i}.ln2.g"], w[f"l{i}.ln2.b"])
            ffn = _gelu(h @ w[f"l{i}.ffn1"] + w[f"l{i}.ffn1.b"])
            x = x + (ffn @ w[f"l{i}.ffn2"] + w[f"l{i}.ffn2.b"])
        x = _ln(x, w["ln_f.g"], w["ln_f.b"])
        pooled = x.mean(axis=0)
        return (pooled / np.float32(max(np.linalg.norm(pooled), 1e-12))).astype(
            np.float32
        )

    def encode(self, texts: list[str]) -> np.ndarray:
        """One text at a time ON PURPOSE: fixed per-text shapes keep
        BLAS kernel selection independent of Arrow batch size, so the
        distributed embed is bit-identical to a driver-side replay."""
        return np.stack([self._forward_one(t) for t in texts])


def mini_transformer_loader() -> MiniTransformer:
    """Executor-side loader for ``model_embedder`` — reads the fixture
    from the repo path (shared filesystem in local mode; on a real
    cluster, ship the .npz with --files and resolve via
    SparkFiles.get)."""
    return MiniTransformer.load()


def mini_transformer_embedder():
    from .embedder import model_embedder

    return model_embedder(
        mini_transformer_loader, DIM, cache_key="mini_transformer_v1"
    )
