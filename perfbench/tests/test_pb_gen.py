"""The seeded generators: same seed, same bytes; other seed, other bytes."""

import hashlib
import re
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def make_all(root: Path, seed: int) -> dict[str, str]:
    """Every kind of input at a small size; sha256 of each file."""
    serve = gen.serve_corpus(root / "serve", seed, n_docs=200, vocab_size=300)
    prompts = [gen.serve_request(serve, seed, i, 0.5, 50) for i in range(5)]
    gen.write_documents(root / "prompts.parquet", [k for _, k in prompts],
                        [p for p, _ in prompts], ["en"] * 5)
    idx = gen.index_vectors(root / "index", seed, n=500, dim=16, n_clusters=8,
                            spread=0.6, n_files=2)
    ids, new = gen.upsert_batch(idx, seed, 0, size=20, moved=0.3)
    pq.write_table(gen.vectors_table(ids, new), root / "upsert.parquet")
    np.save(root / "query.npy", gen.probe_query(idx, seed, 3))
    gen.curate_shard(root / "shard", seed, 0, n_docs=100, vocab=serve.vocab,
                     probs=serve.probs, dup_rate=0.05, near_rate=0.1)
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = make_all(tmp_path / "a", 7)
    b = make_all(tmp_path / "b", 7)
    assert len(a) == 7
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = make_all(tmp_path / "a", 7)
    c = make_all(tmp_path / "c", 8)
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_shard_injects_exact_and_near_duplicates(tmp_path):
    vocab = gen.vocabulary(gen.rng_for(1, gen.S_VOCAB), 500)
    shard = gen.curate_shard(tmp_path, 1, 3, n_docs=200, vocab=vocab,
                             probs=gen.zipf_probs(500), dup_rate=0.05, near_rate=0.1)
    text = dict(zip(shard.doc_ids.tolist(), shard.texts))
    assert len(text) == 200
    assert len(shard.exact_pairs) == 10 and len(shard.near_pairs) == 20
    for a, b in shard.exact_pairs:
        assert text[a] == text[b]
    for a, b in shard.near_pairs:
        ta, tb = set(text[a].split(" ")), set(text[b].split(" "))
        assert len(ta & tb) / len(ta | tb) >= 0.9


def test_texts_carry_stopwords_and_pii():
    rng = gen.rng_for(2, gen.S_CORPUS)
    vocab = gen.vocabulary(gen.rng_for(2, gen.S_VOCAB), 300)
    docs, n_pii = gen.texts(rng, 400, vocab, gen.zipf_probs(300), pii_rate=0.25)
    words = " ".join(docs).split(" ")
    assert any(w in gen.STOPWORDS for w in words)
    assert 60 < n_pii < 140
    pii = re.compile(r"@|\d{3}-\d{3}-\d{4}|^(key|token)$")
    assert sum(1 for w in words if pii.search(w)) >= n_pii


def test_vectors_are_clustered(tmp_path):
    idx = gen.index_vectors(tmp_path, 3, n=2000, dim=32, n_clusters=8,
                            spread=0.6, n_files=1)
    x = idx.x / np.linalg.norm(idx.x, axis=1, keepdims=True)
    same = idx.labels[:, None] == idx.labels[None, :200]
    cos = x @ x[:200].T
    assert cos[same].mean() > 0.5 > abs(cos[~same].mean())
