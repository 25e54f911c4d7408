"""The three workloads: ``serve``, ``index`` and ``curate``.

Each workload generates its inputs from the seed (:meth:`generate`,
outside ``setup_s``; the index workload's vector set is the same for
every seed), repeats the program's one-time work
(:meth:`setup`, inside ``setup_s``), then runs one closed-loop op after
another (:meth:`op`).  Only the call into the program is timed; every
output check runs after the timer stops, and a failed check turns its
op into a failed op.
"""

from __future__ import annotations

import json
import re
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.stats import Outcomes

# Input sizes.  "full" is what the benchmark measures; "tiny" only
# exercises every code path quickly (the smoke tests).
SIZES = {
    "serve": {
        "full": dict(n_docs=5000, vocab=2000, warmup=2, large_k_share=0.5,
                     large_k=100, exact_every=4, min_secondary=3),
        "tiny": dict(n_docs=300, vocab=300, warmup=1, large_k_share=0.5,
                     large_k=50, exact_every=1),
    },
    "index": {
        "full": dict(n=30_000, dim=64, clusters=256, spread=0.6, files=8,
                     upsert=300, moved=0.3, upsert_every=6, warmup=2,
                     min_secondary=2),
        "tiny": dict(n=4000, dim=64, clusters=32, spread=0.6, files=2,
                     upsert=100, moved=0.3, upsert_every=3, warmup=1),
    },
    "curate": {
        "full": dict(n_docs=1000, vocab=2000, dup=0.05, near=0.10, warmup=3,
                     warmup_docs=300),
        "tiny": dict(n_docs=120, vocab=300, dup=0.05, near=0.10, warmup=1,
                     warmup_docs=60),
    },
}

# Unit of every workload-specific per-layer metric; each workload
# fills in the ones of the layers it calls.
LAYER_UNITS = {
    "serving.overhead_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.collect_ms": "ms",
    "embedder.prompt_ms": "ms",
    "ann.nearest_centroids_ms": "ms",
    "ann.probe_ms": "ms",
    "ann.cells_probed": "count",
    "ann.train_ms": "ms",
    "ann.write_ms": "ms",
    "ann.upsert_ms": "ms",
    "ann.cells_touched_per_upsert": "count",
    "ann.rows_rewritten_per_row_upserted": "ratio",
    "ann.files_per_cell": "count",
    "dedup.exact_ms": "ms",
    "dedup.near_ms": "ms",
    "curation.clean_ms": "ms",
    "dedup.candidates_per_true_pair": "ratio",
    "curation.kept_ratio": "ratio",
}

SCORE_TOL = 1.5e-6  # scores are rounded to 6 decimals on both sides
WARMUP_BASE = 1_000_000  # item indices of warm-up inputs, apart from timed ones
VECTOR_SEED = 0  # seed of the index workload's vector set (see Index.generate)


@dataclass
class Context:
    spark: object
    mods: SimpleNamespace  # the layer modules under test
    run_dir: Path
    seed: int
    size: str
    tracer: object  # spans.Tracer or spans.NullTracer


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """One workload.  ``generate()`` makes its inputs, ``setup(rep)``
    repeats the program's one-time work, ``op(i)`` runs timed op ``i``;
    ``wrap(tracer)`` installs its layer spans and ``layer_metrics(tracer)``
    reads them back."""

    name = ""
    primary = ""  # op kind behind p50_ms
    secondary = ""  # second op kind: paces the loop, reported on stderr

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.cfg = SIZES[self.name][ctx.size]
        self.out: dict[str, Outcomes] = {}
        self.end_failures: list[str] = []
        self.hits = 0  # recall numerator
        self.expected = 0  # recall denominator

    @property
    def tracer(self):
        return self.ctx.tracer

    def outcomes(self, kind: str) -> Outcomes:
        return self.out.setdefault(kind, Outcomes())

    def timed(self, op_id: str, kind: str, fn):
        """Run ``fn`` as one timed op of ``kind``.  Returns (result,
        index of its sample) or (None, None) when it raised."""
        with self.tracer.op(op_id, kind):
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception as exc:  # an op failure is a measured outcome
                traceback.print_exc(file=sys.stderr)
                self.outcomes(kind).fail(f"{kind} {op_id}: {exc!r}")
                return None, None
            ms = (time.perf_counter() - t0) * 1e3
        return result, self.outcomes(kind).ok(ms)

    def recall(self) -> float:
        return self.hits / self.expected if self.expected else 0.0

    def ops(self) -> list[Outcomes]:
        """Outcomes whose ops are disjoint, for attempted/failed counts."""
        return list(self.out.values())

    def secondary_samples(self) -> list[float]:
        return self.outcomes(self.secondary).samples_ms

    def drop_setup(self, rep: int) -> None:
        """Free what set-up ``rep`` left behind once a later one replaced it."""

    def finish(self) -> None:
        """End-of-run output checks; failures go to ``end_failures``."""


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve(Workload):
    """MCP ``tools/call`` requests against a generated corpus."""

    name, primary, secondary = "serve", "request", "large_k"

    def generate(self) -> None:
        m, cfg = self.ctx.mods, self.cfg
        self.inp = gen.serve_corpus(self.ctx.run_dir / "serve", self.ctx.seed,
                                    cfg["n_docs"], cfg["vocab"])
        # numpy mirror for the output checks: embed_text_driver is the
        # certified driver-side twin of the embedding UDF
        self.embed = m.embedder.embed_text_driver
        self.dim = m.embedder.DEFAULT_DIM
        self.cache: dict = {}
        e = np.stack([self.embed(t, self.dim, self.cache) for t in self.inp.texts])
        self.E = e.astype(np.float64)
        self.norms = np.linalg.norm(self.E, axis=1)
        self.large_idx: list[int] = []

    def request(self, i: int, prompt: str, k: int) -> dict:
        return {"jsonrpc": "2.0", "id": i, "method": "tools/call",
                "params": {"name": self.ctx.mods.serving.TOOL_NAME,
                           "arguments": {"prompt": prompt, "k": k}}}

    def setup(self, rep: int) -> None:
        m = self.ctx.mods
        docs = self.ctx.spark.read.parquet(str(self.inp.documents / "documents.parquet"))
        server = m.serving.MCPServer(
            m.engine.SparkVectorSearch(m.engine.corpus_from_documents(docs)))
        server.handle_message({"jsonrpc": "2.0", "id": 0, "method": "initialize",
                               "params": {}})
        server.handle_message({"jsonrpc": "2.0", "method": "notifications/initialized"})
        for w in range(self.cfg["warmup"]):  # alternately k=10 and the large k
            j = WARMUP_BASE + rep * 100 + w
            prompt, k = gen.serve_request(self.inp, self.ctx.seed, j, w % 2,
                                          self.cfg["large_k"])
            why = self.check(server.handle_message(self.request(j, prompt, k)),
                             prompt, k, exact=True)
            if why:
                raise RuntimeError(f"warm-up request failed its check: {why}")
        self.server = server

    def op(self, i: int) -> None:
        cfg = self.cfg
        prompt, k = gen.serve_request(self.inp, self.ctx.seed, i,
                                      cfg["large_k_share"], cfg["large_k"])
        msg = self.request(i, prompt, k)
        reply, idx = self.timed(str(i), self.primary,
                                lambda: self.server.handle_message(msg))
        if idx is None:
            return
        if k != 10:
            self.large_idx.append(idx)
        why = self.check(reply, prompt, k, exact=i % cfg["exact_every"] == 0)
        if why:
            self.outcomes(self.primary).fail(f"request {i}: {why}", idx)

    def secondary_samples(self) -> list[float]:
        s = self.outcomes(self.primary).samples_ms
        return [s[j] for j in self.large_idx]

    def check(self, reply, prompt: str, k: int, exact: bool) -> str | None:
        """None when the reply is a well-formed top-k; with ``exact``,
        also equal to a numpy top-k over the driver-side embeddings."""
        result = (reply or {}).get("result")
        if not result or result.get("isError"):
            return f"error reply {reply!r:.300}"
        rows = json.loads(result["content"][0]["text"])
        want = min(k, len(self.inp.texts))
        if len(rows) != want:
            return f"{len(rows)} rows, want {want}"
        scores = [r["score"] for r in rows]
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "scores not descending"
        if len({r["name"] for r in rows}) != len(rows):
            return "duplicate names"
        if not exact:
            return None
        q = self.embed(prompt, self.dim, self.cache).astype(np.float64)
        cos = (self.E @ q) / (self.norms * np.linalg.norm(q))
        ref = np.round((1.0 + cos) / 2.0, 6)
        kth = np.sort(ref)[-want]
        good = sum(1 for r in rows
                   if abs(r["score"] - ref[int(r["name"])]) <= SCORE_TOL
                   and r["score"] >= kth - SCORE_TOL)
        self.hits += good
        self.expected += want
        return None if good == want else f"{want - good} rows differ from numpy top-{want}"

    def wrap(self, t) -> None:
        m = self.ctx.mods
        t.wrap(m.serving.MCPServer, "handle_message", "serving")
        t.wrap(m.engine.SparkVectorSearch, "search", "engine")
        t.wrap(m.engine.SparkVectorSearch, "search_df", "engine")
        t.wrap(m.engine, "corpus_from_documents", "engine")
        t.wrap(m.engine, "topk", "topk")
        t.wrap(m.embedder, "embed_text_driver", "embedder")

    def layer_metrics(self, t) -> dict:
        per_op = [t.durations(r.op) for r in t.ops if r.kind == self.primary]
        return {
            "serving.overhead_ms": median([d["handle_message"] - d["search"] for d in per_op]),
            "engine.plan_ms": median([d["search_df"] for d in per_op]),
            "engine.collect_ms": median([d["search"] - d["search_df"] for d in per_op]),
            "embedder.prompt_ms": median([d["embed_text_driver"] for d in per_op]),
        }


# ---------------------------------------------------------------------------
# index
# ---------------------------------------------------------------------------


class Index(Workload):
    """IVF probes with an upsert of one re-embedded topic every few ops."""

    name, primary, secondary = "index", "probe", "upsert"

    def generate(self) -> None:
        cfg = self.cfg
        # One vector set for every seed; the seed drives the probes and
        # upserts.  The IVF layout built from the vectors fixes how evenly
        # a probe's per-cell files spread over the cores, which moved
        # probe latency by up to a quarter between generated sets.
        self.inp = gen.index_vectors(self.ctx.run_dir / "index" / "vectors",
                                     VECTOR_SEED, cfg["n"], cfg["dim"],
                                     cfg["clusters"], cfg["spread"], cfg["files"])
        self.n_upserts = 0
        self.upsert_stats: list[tuple[int, int, int]] = []  # (cells, rows rewritten, rows upserted)

    def setup(self, rep: int) -> None:
        """Build and write the index, then warm up both op kinds."""
        m, spark = self.ctx.mods, self.ctx.spark
        self.cur = self.inp.x.astype(np.float64)  # vectors as they should be stored
        self.cur_norms = np.linalg.norm(self.cur, axis=1)
        emb = spark.read.parquet(str(self.inp.vectors))
        assigned, cents = m.ann.build_ivf_index(emb)
        layout = self.ctx.run_dir / "index" / f"layout{rep}"
        m.ann.write_ivf_index(assigned, str(layout))
        self.layout, self.cents = layout, cents
        self.indexed = spark.read.parquet(str(layout))
        for w in range(self.cfg["warmup"]):
            q = gen.probe_query(self.inp, self.ctx.seed, WARMUP_BASE + rep * 100 + w)
            why = self.check_probe(self.probe(q), q)
            if why:
                raise RuntimeError(f"warm-up probe failed its check: {why}")
        ids, new, path = self.upsert_input(WARMUP_BASE + rep)
        self.upsert(path)
        self.applied(ids, new)

    def drop_setup(self, rep: int) -> None:
        shutil.rmtree(self.ctx.run_dir / "index" / f"layout{rep}", ignore_errors=True)

    def probe(self, q: np.ndarray):
        with self.tracer.span("ann", "probe.collect"):
            return self.ctx.mods.ann.ivf_topk(
                self.indexed, self.cents, [float(v) for v in q]).collect()

    def op(self, i: int) -> None:
        if i % self.cfg["upsert_every"] == self.cfg["upsert_every"] - 1:
            return self.op_upsert(i)
        q = gen.probe_query(self.inp, self.ctx.seed, i)
        rows, idx = self.timed(str(i), "probe", lambda: self.probe(q))
        if idx is not None:
            why = self.check_probe(rows, q)
            if why:
                self.outcomes("probe").fail(f"probe {i}: {why}", idx)

    def check_probe(self, rows, q: np.ndarray) -> str | None:
        """Rows well-formed; recall@10 counted against numpy exact
        search over the vectors as they should now be stored."""
        k = self.ctx.mods.ann.K
        if len(rows) != k:
            return f"{len(rows)} rows, want {k}"
        scores = [r["score"] for r in rows]
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "scores not descending"
        qd = q.astype(np.float64)
        cos = (self.cur @ qd) / (self.cur_norms * np.linalg.norm(qd))
        exact = set(np.argsort(-cos, kind="stable")[:k].tolist())
        self.hits += len(exact & {int(r["vec_id"]) for r in rows})
        self.expected += k
        return None

    def upsert_input(self, u: int) -> tuple[np.ndarray, np.ndarray, Path]:
        ids, new = gen.upsert_batch(self.inp, self.ctx.seed, u,
                                    self.cfg["upsert"], self.cfg["moved"])
        path = self.ctx.run_dir / "index" / f"upsert{u}.parquet"
        pq.write_table(gen.vectors_table(ids, new), path)
        return ids, new, path

    def applied(self, ids: np.ndarray, new: np.ndarray) -> None:
        """Mirror an upsert in the numpy copy the checks search."""
        self.cur[ids] = new.astype(np.float64)
        self.cur_norms[ids] = np.linalg.norm(self.cur[ids], axis=1)

    def op_upsert(self, i: int) -> None:
        ids, new, path = self.upsert_input(self.n_upserts)
        self.n_upserts += 1
        affected, idx = self.timed(str(i), "upsert", lambda: self.upsert(path))
        if idx is None:
            return
        self.applied(ids, new)
        if self.tracer.enabled:
            rewritten = sum(pq.ParquetFile(f).metadata.num_rows
                            for c in affected
                            for f in (self.layout / f"centroid_id={c}").glob("*.parquet"))
            self.upsert_stats.append((len(affected), rewritten, len(ids)))

    def upsert(self, path: Path) -> list[int]:
        """Delete-and-append the cells the batch leaves or enters."""
        m, spark = self.ctx.mods, self.ctx.spark
        F = m.F
        batch = spark.read.parquet(str(path))
        ids = batch.select("vec_id")
        new_assigned = batch.select("vec_id", "embedding",
                                    m.ann.assignment_col(self.cents).alias("centroid_id"))
        old_cells = self.indexed.join(ids, "vec_id", "left_semi").select("centroid_id")
        affected = sorted(r[0] for r in old_cells.union(
            new_assigned.select("centroid_id")).distinct().collect())
        replacement = (
            self.indexed.where(F.col("centroid_id").isin(affected))
            .join(ids, "vec_id", "left_anti")
            .select("vec_id", "embedding", "centroid_id")
            .unionByName(new_assigned)
        )
        m.ann.replace_partitions(str(self.layout), affected, replacement)
        self.indexed = spark.read.parquet(str(self.layout))
        return affected

    def finish(self) -> None:
        """The stored layout holds every vector once, with its latest value."""
        t = pq.read_table(self.layout, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy()
        if len(ids) != len(self.cur) or len(np.unique(ids)) != len(ids):
            self.end_failures.append(
                f"layout holds {len(ids)} rows / {len(np.unique(ids))} ids, "
                f"want {len(self.cur)}")
            return
        emb = np.asarray(t.column("embedding").combine_chunks().flatten(), dtype=np.float32)
        stored = emb.reshape(len(ids), -1)[np.argsort(ids)]
        if not np.array_equal(stored, self.cur.astype(np.float32)):
            self.end_failures.append("stored vectors differ from the upserted values")

    def files_per_cell(self) -> float:
        cells = [d for d in self.layout.glob("centroid_id=*") if d.is_dir()]
        return sum(len(list(d.glob("*.parquet"))) for d in cells) / max(1, len(cells))

    def wrap(self, t) -> None:
        ann = self.ctx.mods.ann
        for fn in ("build_ivf_index", "write_ivf_index", "ivf_topk",
                   "assignment_col", "replace_partitions"):
            t.wrap(ann, fn, "ann")
        t.wrap(ann, "nearest_centroids", "ann",
               observe=lambda args, res: t.count("cells_probed", len(res)))

    def layer_metrics(self, t) -> dict:
        probes = [r for r in t.ops if r.kind == "probe"]
        dur = [t.durations(r.op) for r in probes]
        setups = [t.durations(r.op) for r in t.ops if r.kind == "setup"]
        ups = [t.durations(r.op)["replace_partitions"] for r in t.ops if r.kind == "upsert"]
        us = self.upsert_stats
        return {
            "ann.nearest_centroids_ms": median([d["nearest_centroids"] for d in dur]),
            "ann.probe_ms": median([d["probe.collect"] for d in dur]),
            "ann.cells_probed": median([r.counts.get("cells_probed", 0) for r in probes]),
            "ann.train_ms": median([d["build_ivf_index"] for d in setups]),
            "ann.write_ms": median([d["write_ivf_index"] for d in setups]),
            "ann.upsert_ms": median(ups),
            "ann.cells_touched_per_upsert": median([c for c, _, _ in us]),
            "ann.rows_rewritten_per_row_upserted":
                sum(w for _, w, _ in us) / max(1, sum(n for _, _, n in us)),
            "ann.files_per_cell": self.files_per_cell(),
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate(Workload):
    """One document shard per op: exact dedup, MinHash-LSH near dedup,
    the Gopher keep gate, then redaction, each its own Spark action."""

    name, primary, secondary = "curate", "shard", "near"

    def generate(self) -> None:
        cfg = self.cfg
        self.vocab = gen.vocabulary(gen.rng_for(self.ctx.seed, gen.S_VOCAB), cfg["vocab"])
        self.probs = gen.zipf_probs(cfg["vocab"])
        self.pattern = re.compile(self.ctx.mods.curation.REDACT_PATTERN)
        self.kept = self.survivors = self.candidates = self.verified = 0
        self.near_ms: list[float] = []

    def shard(self, i: int, n_docs: int) -> gen.Shard:
        cfg = self.cfg
        return gen.curate_shard(self.ctx.run_dir / "curate" / f"shard{i}", self.ctx.seed,
                                i, n_docs, self.vocab, self.probs, cfg["dup"], cfg["near"])

    def pipeline(self, shard_dir: Path) -> dict:
        m, spark, t = self.ctx.mods, self.ctx.spark, self.tracer
        F = m.F
        d = spark.read.parquet(str(shard_dir / "documents.parquet"))
        with t.span("dedup", "exact"):
            fps = m.dedup.doc_fingerprints(d)
            canon = m.dedup.corpus_fingerprints(fps)
            exact = [(r[0], r[1]) for r in fps.join(canon, "fp")
                     .where(F.col("doc_id") != F.col("dup_of"))
                     .select("doc_id", "dup_of").collect()]
        t0 = time.perf_counter()
        with t.span("dedup", "near"):
            near = [(r[0], r[1]) for r in m.dedup.dedup_minhash_lsh(spark, str(shard_dir))
                    .select("a_id", "b_id").collect()]
            m.cache.release_scratch()
        near_ms = (time.perf_counter() - t0) * 1e3
        drop = sorted({a for a, _ in exact} | {b for _, b in near})
        survivors = d.where(~F.col("doc_id").isin(drop))
        kept = survivors.where(m.curation.gopher_keep(F.col("text")))
        with t.span("curation", "gopher"):
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        with t.span("curation", "redact"):
            red = m.curation.redact_rows(kept).agg(
                F.count("*").alias("n"), F.sum("n_hits").alias("hits")).first()
        return dict(exact=exact, near=near, near_ms=near_ms, drop=drop,
                    kept_ids=kept_ids, red=red)

    def setup(self, rep: int) -> None:
        # Warm-up only: the JVM keeps JIT-compiling the driver-side
        # planning for ~10 shards, and timed ops on that ramp made the
        # p50 depend on host load.  Small shards warm it as well as
        # large ones, since it warms per query rather than per row.
        n = self.cfg["warmup"]
        for w in range(n):
            shard = self.shard(WARMUP_BASE + rep * n + w, self.cfg["warmup_docs"])
            res = self.pipeline(shard.path)
            why = self.check(shard, res)
            if why:
                raise RuntimeError(f"warm-up shard failed its check: {why}")
            shutil.rmtree(shard.path, ignore_errors=True)

    def op(self, i: int) -> None:
        shard = self.shard(i, self.cfg["n_docs"])
        res, idx = self.timed(str(i), "shard", lambda: self.pipeline(shard.path))
        if idx is None:
            return
        self.near_ms.append(res["near_ms"])
        why = self.check(shard, res, count=True)
        if why:
            self.outcomes("shard").fail(f"shard {i}: {why}", idx)
        if self.tracer.enabled:
            self.count_candidates(shard, res)
        shutil.rmtree(shard.path, ignore_errors=True)

    def check(self, shard: gen.Shard, res: dict, count: bool = False) -> str | None:
        """Every injected exact copy is mapped to its original; the
        redaction counts match a Python regex over the kept texts."""
        found = {(min(a, b), max(a, b)) for a, b in res["exact"]}
        missed = [p for p in shard.exact_pairs if (min(p), max(p)) not in found]
        near = {(min(a, b), max(a, b)) for a, b in res["near"]}
        if count:
            self.hits += sum(1 for p in shard.near_pairs if (min(p), max(p)) in near)
            self.expected += len(shard.near_pairs)
            self.kept += len(res["kept_ids"])
            self.survivors += len(shard.doc_ids) - len(res["drop"])
        if missed:
            return f"{len(missed)} injected exact duplicates not found"
        text = dict(zip(shard.doc_ids.tolist(), shard.texts))
        hits = sum(len(self.pattern.findall(text[j])) for j in res["kept_ids"])
        red = res["red"]
        if red["n"] != len(res["kept_ids"]) or (red["hits"] or 0) != hits:
            return f"redaction counted {red['n']} docs / {red['hits']} hits, want " \
                   f"{len(res['kept_ids'])} / {hits}"
        return None

    def count_candidates(self, shard: gen.Shard, res: dict) -> None:
        """Traced runs only, outside the op: LSH candidate pairs, the
        work near dedup does before its exact verify."""
        m = self.ctx.mods
        d = m.tables.spread(self.ctx.spark.read.parquet(str(shard.path / "documents.parquet")))
        self.candidates += self.unwrapped_lsh(self.unwrapped_sigs(d)).count()
        self.verified += len(res["near"])

    def secondary_samples(self) -> list[float]:
        return self.near_ms

    def wrap(self, t) -> None:
        m = self.ctx.mods
        self.unwrapped_sigs = m.dedup.minhash_signatures
        self.unwrapped_lsh = m.dedup.lsh_candidate_pairs
        for fn in ("doc_fingerprints", "corpus_fingerprints", "minhash_signatures",
                   "lsh_candidate_pairs", "dedup_minhash_lsh"):
            t.wrap(m.dedup, fn, "dedup")
        for fn in ("gopher_keep", "redact_rows"):
            t.wrap(m.curation, fn, "curation")

    def layer_metrics(self, t) -> dict:
        dur = [t.durations(r.op) for r in t.ops if r.kind == "shard"]
        return {
            "dedup.exact_ms": median([d["exact"] for d in dur]),
            "dedup.near_ms": median([d["near"] for d in dur]),
            "curation.clean_ms": median([d["gopher"] + d["redact"] for d in dur]),
            "dedup.candidates_per_true_pair": self.candidates / max(1, self.verified),
            "curation.kept_ratio": self.kept / max(1, self.survivors),
        }


WORKLOADS = {w.name: w for w in (Serve, Index, Curate)}
