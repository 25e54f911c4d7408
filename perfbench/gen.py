"""Seeded input generators for the benchmark workloads.

Everything here is vectorised numpy written to parquet with pyarrow, so
the program under test only ever sees parquet files.  Nothing is handed
to Spark as local data: a ``createDataFrame`` over driver-side rows
becomes a LocalRelation, which Catalyst's ``ConvertToLocalRelation``
then evaluates single-threaded and interpreted in the Spark driver.

Every generator takes an explicit ``numpy.random.Generator``; callers
derive one per input stream with :func:`rng_for`, so the same seed gives
byte-identical files and inputs made later in a run (the next shard, the
next upsert batch) do not depend on how many ops came before.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The stopwords the curation layer's Gopher gate counts
# (operators/curation.py GOPHER_STOPS).  Texts mix them in so the gate
# keeps some documents and drops others.
STOPWORDS = ("the", "a", "of", "and", "to", "in")
# Words the redaction pattern matches on their own (curation REDACT_PATTERN).
SECRET_WORDS = ("key", "token")
LANGS = ("en", "de", "fr", "es")

# Stream ids for rng_for: one independent generator per input kind.
S_VOCAB, S_CORPUS, S_PROMPTS, S_VECTORS, S_QUERIES, S_UPSERT, S_SHARD = range(7)


def rng_for(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    """Independent generator for (seed, input stream, item index)."""
    return np.random.default_rng([seed, stream, index])


# ---------------------------------------------------------------------------
# Text
# ---------------------------------------------------------------------------


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 3-9 letters, none of them a
    stopword or a word the redaction pattern matches."""
    reserved = set(STOPWORDS) | set(SECRET_WORDS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = 2 * (size - len(words))
        lengths = rng.integers(3, 10, size=n)
        letters = rng.integers(0, 26, size=(n, 9)) + ord("a")
        for row, length in zip(letters, lengths):
            w = bytes(row[:length].astype(np.uint8)).decode("ascii")
            if w not in seen and w not in reserved:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return np.array(words, dtype=object)


def zipf_probs(size: int, exponent: float = 1.1) -> np.ndarray:
    """Zipf rank probabilities: word r is drawn with weight 1/r^exponent."""
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** exponent
    return p / p.sum()


def pii_token(rng: np.random.Generator, vocab: np.ndarray) -> str:
    """One token the redaction pattern matches: an e-mail address, a
    phone number or a bare secret word."""
    kind = int(rng.integers(0, 3))
    if kind == 0:
        a, b = vocab[rng.integers(0, len(vocab), size=2)]
        return f"{a}{int(rng.integers(0, 100))}@{b}.com"
    if kind == 1:
        d = rng.integers(0, 10, size=10)
        return "{}{}{}-{}{}{}-{}{}{}{}".format(*d)
    return SECRET_WORDS[int(rng.integers(0, len(SECRET_WORDS)))]


def texts(
    rng: np.random.Generator,
    n_docs: int,
    vocab: np.ndarray,
    probs: np.ndarray,
    min_words: int = 20,
    max_words: int = 80,
    stop_rate: float = 0.12,
    pii_rate: float = 0.2,
) -> tuple[list[str], int]:
    """``n_docs`` space-separated texts of Zipf-drawn words with
    stopwords mixed in; a ``pii_rate`` share of documents gets one
    PII-shaped token.  Returns the texts and the number of PII tokens."""
    lengths = rng.integers(min_words, max_words + 1, size=n_docs)
    words = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=probs)]
    stops = rng.random(len(words)) < stop_rate
    words[stops] = np.array(STOPWORDS, dtype=object)[
        rng.integers(0, len(STOPWORDS), size=int(stops.sum()))
    ]
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    pii_docs = np.flatnonzero(rng.random(n_docs) < pii_rate)
    for d in pii_docs:
        words[starts[d] + rng.integers(0, lengths[d])] = pii_token(rng, vocab)
    return [" ".join(words[s : s + n]) for s, n in zip(starts, lengths)], len(pii_docs)


def write_documents(path: Path, doc_ids, texts_, langs) -> Path:
    """(doc_id, lang, text) parquet, the repo's ``documents`` schema."""
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
            "lang": pa.array(list(langs), pa.string()),
            "text": pa.array(list(texts_), pa.string()),
        }
    )
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# serve: corpus + MCP prompts
# ---------------------------------------------------------------------------


@dataclass
class ServeInputs:
    documents: Path  # directory holding documents.parquet
    texts: list[str]
    vocab: np.ndarray
    probs: np.ndarray


def serve_corpus(root: Path, seed: int, n_docs: int, vocab_size: int) -> ServeInputs:
    vocab = vocabulary(rng_for(seed, S_VOCAB), vocab_size)
    probs = zipf_probs(vocab_size)
    rng = rng_for(seed, S_CORPUS)
    docs, _ = texts(rng, n_docs, vocab, probs)
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), size=n_docs)]
    write_documents(root / "documents.parquet", np.arange(n_docs), docs, langs)
    return ServeInputs(root, docs, vocab, probs)


def serve_request(inputs: ServeInputs, seed: int, i: int, large_k_share: float,
                  large_k: int) -> tuple[str, int]:
    """Prompt and k of request ``i``: 2-6 corpus words; most requests
    ask for the reference's k=10, a ``large_k_share`` ask for ``large_k``."""
    rng = rng_for(seed, S_PROMPTS, i)
    n = int(rng.integers(2, 7))
    prompt = " ".join(inputs.vocab[rng.choice(len(inputs.vocab), size=n, p=inputs.probs)])
    k = large_k if rng.random() < large_k_share else 10
    return prompt, k


# ---------------------------------------------------------------------------
# index: Gaussian-mixture vectors, probe queries, upsert batches
# ---------------------------------------------------------------------------


@dataclass
class IndexInputs:
    vectors: Path  # directory of parquet files (vec_id, embedding)
    x: np.ndarray  # (n, dim) float32, row i is vec_id i
    labels: np.ndarray  # mixture component of each vector


def vectors_table(ids: np.ndarray, x: np.ndarray) -> pa.Table:
    x = np.ascontiguousarray(x, dtype=np.float32)
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(x.ravel(), pa.float32()))
    return pa.table({"vec_id": pa.array(ids.astype(np.int64)), "embedding": emb})


def index_vectors(root: Path, seed: int, n: int, dim: int, n_clusters: int,
                  spread: float, n_files: int) -> IndexInputs:
    """``n`` vectors around ``n_clusters`` random unit centres, noise of
    norm ~``spread``: clustered, so a probe of a few IVF cells holds the
    true neighbours, unlike isotropic data."""
    rng = rng_for(seed, S_VECTORS)
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n)
    noise = rng.standard_normal((n, dim)) * (spread / np.sqrt(dim))
    x = (centres[labels] + noise).astype(np.float32)
    root.mkdir(parents=True, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(n), n_files)):
        pq.write_table(vectors_table(part, x[part]), root / f"part-{f:03d}.parquet")
    return IndexInputs(root, x, labels)


def probe_query(inputs: IndexInputs, seed: int, i: int) -> np.ndarray:
    """A query near a random stored vector."""
    rng = rng_for(seed, S_QUERIES, i)
    base = inputs.x[rng.integers(0, len(inputs.x))]
    dim = base.shape[0]
    return (base + rng.standard_normal(dim) * (0.2 / np.sqrt(dim))).astype(np.float32)


def upsert_batch(inputs: IndexInputs, seed: int, u: int, size: int,
                 moved: float) -> tuple[np.ndarray, np.ndarray]:
    """Batch ``u``: ``size`` ids drawn uniformly (documents re-embedded
    by a new model version) with their new vectors, the original moved
    by noise of norm ~``moved``."""
    rng = rng_for(seed, S_UPSERT, u)
    ids = np.sort(rng.choice(len(inputs.x), size=size, replace=False))
    dim = inputs.x.shape[1]
    new = inputs.x[ids] + rng.standard_normal((len(ids), dim)) * (moved / np.sqrt(dim))
    return ids, new.astype(np.float32)


# ---------------------------------------------------------------------------
# curate: document shards with injected exact and near duplicates
# ---------------------------------------------------------------------------


@dataclass
class Shard:
    path: Path  # directory holding documents.parquet
    doc_ids: np.ndarray
    texts: list[str]
    exact_pairs: list[tuple[int, int]]  # (original id, copy id)
    near_pairs: list[tuple[int, int]]  # (original id, edited copy id)


def curate_shard(root: Path, seed: int, i: int, n_docs: int, vocab: np.ndarray,
                 probs: np.ndarray, dup_rate: float, near_rate: float) -> Shard:
    """Shard ``i``: ``n_docs`` documents; a ``dup_rate`` share are exact
    copies of other documents in the shard and a ``near_rate`` share are
    copies with one new word appended (token Jaccard >= 0.9 to the
    original for every generated length)."""
    rng = rng_for(seed, S_SHARD, i)
    n_dup, n_near = int(n_docs * dup_rate), int(n_docs * near_rate)
    n_orig = n_docs - n_dup - n_near
    docs, _ = texts(rng, n_orig, vocab, probs, min_words=30)
    sources = rng.choice(n_orig, size=n_dup + n_near, replace=False)
    for j, s in enumerate(sources):
        docs.append(docs[s] if j < n_dup else f"{docs[s]} novel{i}x{j}")
    # doc ids are shuffled so copies do not sit next to their originals
    doc_ids = rng.permutation(n_docs).astype(np.int64) + i * n_docs
    copy_ids = doc_ids[n_orig:]
    pairs = [(int(doc_ids[s]), int(c)) for s, c in zip(sources, copy_ids)]
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), size=n_docs)]
    write_documents(root / "documents.parquet", doc_ids, docs, langs)
    return Shard(root, doc_ids, docs, pairs[:n_dup], pairs[n_dup:])
